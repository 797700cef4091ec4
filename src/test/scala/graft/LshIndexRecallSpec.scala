package graft

import graft.queries.Dedup
import scala.util.Random

/** End-to-end recall gate for the persisted LSH near-dup index
  * ([[Dedup.writeLshIndex]] / [[Dedup.probeLshIndex]]), the same way
  * AnnRecallSpec gates the vector ANN paths: on a fixture with PLANTED
  * near-duplicates, the index probe must actually find them.
  *
  * The driver-gated q_lsh_index_dedup pins hash-exact semantics on the
  * synthetic corpus; what it cannot show is that the banded-minhash
  * candidate stage retrieves a useful fraction of TRUE near-dups — a
  * broken signature kernel that bucketed nothing would still hash-match
  * an oracle replaying the same nothing. This spec computes ground
  * truth independently (exact char-3-gram Jaccard in plain Scala, the
  * same definition the verifier uses) and asserts recall, precision,
  * and that the stop-bucket cap is a no-op on non-degenerate data.
  *
  * Everything is seeded — a recall change here is a code change.
  */
class LshIndexRecallSpec extends SparkSpec {

  private val rnd = new Random(7)
  private val vocab = Array.fill(200)(
    Iterator.continually(rnd.nextPrintableChar()).filter(_.isLetter).take(6).mkString.toLowerCase)

  private def doc(): String = Seq.fill(15)(vocab(rnd.nextInt(vocab.length))).mkString(" ")

  private lazy val corpusDocs: Seq[(Long, String)] =
    (0 until 40).map(i => (i.toLong, doc()))

  private lazy val newDocs: Seq[(Long, String)] = {
    // 20 light edits of corpus docs (one word swapped — char-3-gram
    // Jaccard ~0.85) + 10 unrelated fresh docs
    val edits = (0 until 20).map { i =>
      val words = corpusDocs(i)._2.split(" ")
      words(i % words.length) = vocab(rnd.nextInt(vocab.length))
      (1000L + i, words.mkString(" "))
    }
    val fresh = (0 until 10).map(i => (1100L + i, doc()))
    edits ++ fresh
  }

  private def jaccard(a: String, b: String): Double = {
    val (sa, sb) = (a.sliding(3).toSet, b.sliding(3).toSet)
    if (sa.isEmpty || sb.isEmpty) 0.0
    else (sa & sb).size.toDouble / (sa | sb).size
  }

  /** (new_id, best corp_id) for every new doc with a true match >= 0.5. */
  private lazy val truth: Map[Long, Long] =
    newDocs.flatMap { case (nid, ntext) =>
      val above = corpusDocs
        .map { case (cid, ctext) => (cid, jaccard(ntext, ctext)) }
        .filter(_._2 >= 0.5)
      if (above.isEmpty) None
      else Some(nid -> above.maxBy { case (cid, j) => (j, -cid) }._1)
    }.toMap

  test("persisted index probe finds the planted near-dups (recall >= 0.7)") {
    import spark.implicits._
    val corpus = corpusDocs.toDF("doc_id", "text")
    val batch = newDocs.toDF("doc_id", "text")
    val path = SparkSpec.tempDir("lsh_recall")
    Dedup.writeLshIndex(corpus, path)
    val found = Dedup.probeLshIndex(spark, path, batch, corpus)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    assert(truth.size >= 15, s"fixture must plant enough true near-dups, got ${truth.size}")
    val recalled = found.map(_._1).toSet & truth.keySet
    val recall = recalled.size.toDouble / truth.size
    assert(recall >= 0.7, s"probeLshIndex recall = $recall (${recalled.size}/${truth.size})")
    // exact verification means zero false positives: every reported
    // match must be a true >= threshold pair (small slack for the
    // rounded-threshold spelling)
    found.foreach { case (nid, cid, j) =>
      val truthJ = jaccard(
        newDocs.find(_._1 == nid).get._2, corpusDocs.find(_._1 == cid).get._2)
      assert(truthJ >= 0.4999, s"false positive: ($nid, $cid) reported j=$j, true j=$truthJ")
      assert(math.abs(truthJ - j) < 1e-5, s"reported jaccard $j != true $truthJ for ($nid, $cid)")
    }
    // and the reported best match is the true best
    found.foreach { case (nid, cid, _) =>
      assert(truth(nid) === cid, s"doc $nid matched $cid but true best is ${truth(nid)}")
    }
  }

  test("incremental merge: a later batch recalls near-dups absorbed from an earlier one") {
    import spark.implicits._
    // batch2 = light edits of batch1's EDIT docs (ids 1000+i) — their
    // true nearest neighbor is the batch1 version, which only an index
    // that absorbed batch1 can surface
    val batch2: Seq[(Long, String)] = (0 until 20).map { i =>
      val words = newDocs(i)._2.split(" ")
      words((i + 3) % words.length) = vocab(rnd.nextInt(vocab.length))
      (2000L + i, words.mkString(" "))
    }
    val combined = corpusDocs ++ newDocs
    val truth2: Map[Long, Long] = batch2.flatMap { case (nid, ntext) =>
      val above = combined
        .map { case (cid, ctext) => (cid, jaccard(ntext, ctext)) }
        .filter(_._2 >= 0.5)
      if (above.isEmpty) None
      else Some(nid -> above.maxBy { case (cid, j) => (j, -cid) }._1)
    }.toMap
    assert(truth2.size >= 15, s"fixture must plant enough true near-dups, got ${truth2.size}")
    assert(truth2.values.exists(_ >= 1000L),
      "fixture defect: no true best match lives in batch1")

    val corpus = corpusDocs.toDF("doc_id", "text")
    val batch1 = newDocs.toDF("doc_id", "text")
    val path = SparkSpec.tempDir("lsh_inc")
    Dedup.writeLshIndex(corpus, path)
    Dedup.appendToLshIndex(batch1, path)
    val found = Dedup.probeLshIndex(
      spark, path, batch2.toDF("doc_id", "text"), corpus.union(batch1))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq

    val recalled = found.map(_._1).toSet & truth2.keySet
    val recall = recalled.size.toDouble / truth2.size
    assert(recall >= 0.7, s"incremental probe recall = $recall (${recalled.size}/${truth2.size})")
    // the merge must actually matter: some best matches resolve INTO batch1
    assert(found.exists(_._2 >= 1000L),
      "no match resolved to a batch1 doc — the append was a no-op")
    // and reported bests are the true bests
    found.foreach { case (nid, cid, _) =>
      assert(truth2(nid) === cid, s"doc $nid matched $cid but true best is ${truth2(nid)}")
    }
  }

  test("stop-bucket cap does not eat true neighbors on non-degenerate data") {
    import spark.implicits._
    val corpus = corpusDocs.toDF("doc_id", "text")
    val batch = newDocs.toDF("doc_id", "text")
    val path = SparkSpec.tempDir("lsh_cap")
    Dedup.writeLshIndex(corpus, path)
    def rows(maxBucket: Int) =
      Dedup.probeLshIndex(spark, path, batch, corpus, maxBucket = maxBucket)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    assert(rows(64) === rows(1000000),
      "capped (64) and uncapped probes must agree when no bucket is degenerate")
  }
}
