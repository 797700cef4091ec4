package graft

import graft.dsl._
import graft.nshm.NshmDb
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** Property tests for the Pratt parser (SURVEY §5: the reference has
  * none — random well-formed expressions must round-trip), for the
  * compiler's two evaluations, and for the search against the one-plan
  * oracle. Generators are driven directly with a fixed seed for
  * reproducibility.
  */
class DslPropertySpec extends SparkSpec {

  private val genAtom: Gen[Expr] =
    Gen.chooseNum(1, 8).flatMap(n => Gen.stringOfN(n, Gen.alphaLowerChar)).map(Atom(_))

  private def genExpr(depth: Int, atom: Gen[Expr] = genAtom): Gen[Expr] =
    if (depth <= 0) atom
    else Gen.frequency(
      3 -> atom,
      2 -> Gen.lzy(for { l <- genExpr(depth - 1, atom); r <- genExpr(depth - 1, atom) } yield And(l, r)),
      2 -> Gen.lzy(for { l <- genExpr(depth - 1, atom); r <- genExpr(depth - 1, atom) } yield Or(l, r)),
      1 -> Gen.lzy(genExpr(depth - 1, atom).map(Not(_))))

  /** `n` values of `gen`, from a fixed seed. */
  private def draw[T](n: Int, gen: Gen[T], from: Long): Seq[T] = {
    val params = Gen.Parameters.default
    var seed = Seed(from)
    (1 to n).map { _ =>
      val x = gen.pureApply(params, seed)
      seed = seed.next
      x
    }
  }

  private def samples(n: Int): Seq[Expr] = draw(n, genExpr(4), 42L)

  /** Fully parenthesized rendering — parsing must reproduce the tree. */
  private def render(e: Expr): String = e match {
    case Atom(n) => n
    case Not(x) => s"!(${render(x)})"
    case And(l, r) => s"(${render(l)}) & (${render(r)})"
    case Or(l, r) => s"(${render(l)}) | (${render(r)})"
  }

  /** Minimally parenthesized precedence-aware rendering (! > & > |,
    * left-assoc) — parsing must still reproduce the tree.
    */
  private def renderMin(e: Expr, parentBp: Int = 0): String = {
    val (s, bp) = e match {
      case Atom(n) => (n, 10)
      case Not(x) => (s"!${renderMin(x, 5)}", 5)
      case And(l, r) => (s"${renderMin(l, 3)} & ${renderMin(r, 4)}", 3)
      case Or(l, r) => (s"${renderMin(l, 1)} | ${renderMin(r, 2)}", 1)
    }
    if (bp < parentBp) s"($s)" else s
  }

  test("parse inverts fully-parenthesized rendering (500 random trees)") {
    samples(500).foreach { e =>
      assert(Parser.parse(render(e)) === e, s"input: ${render(e)}")
    }
  }

  test("parse inverts precedence-aware minimal rendering (500 random trees)") {
    samples(500).foreach { e =>
      assert(Parser.parse(renderMin(e)) === e, s"input: ${renderMin(e)}")
    }
  }

  test("F1 ceilingWithClamp equals the linear-scan specification (1000 random cases)") {
    val params = Gen.Parameters.default
    var seed = Seed(7L)
    val genCase = for {
      n <- Gen.chooseNum(1, 20)
      xs <- Gen.listOfN(n, Gen.chooseNum(0, 1000).map(_ / 10.0))
      t <- Gen.chooseNum(-10, 1100).map(_ / 10.0)
    } yield (xs.distinct.sorted.toArray, t)
    (1 to 1000).foreach { _ =>
      val (sorted, target) = genCase.pureApply(params, seed)
      seed = seed.next
      val got = graft.nshm.NshmDb.ceilingWithClamp(sorted, target)
      val spec = sorted.find(_ >= target).getOrElse(sorted.last)
      assert(got === spec, s"sorted=${sorted.mkString(",")} target=$target")
    }
  }

  test("atom collection order equals left-to-right occurrence") {
    def walk(x: Expr): Seq[String] = x match {
      case Atom(n) => Seq(n)
      case Not(y) => walk(y)
      case And(l, r) => walk(l) ++ walk(r)
      case Or(l, r) => walk(l) ++ walk(r)
    }
    samples(200).foreach { e =>
      assert(BoolSetCompiler.atoms(e) === walk(e).distinct)
    }
  }

  test("holds agrees with compile's predicate evaluated by Spark (200 random trees and hit sets)") {
    import spark.implicits._
    val cases = draw(200, for {
      e <- genExpr(4)
      hits <- Gen.someOf(BoolSetCompiler.atoms(e))
    } yield (e, hits.toSet), 3L)
    cases.foreach { case (e, hit) =>
      // one group holding the hit atoms (and a null name, so it is never empty),
      // aggregated by compile's flags into a one-row flag frame
      val compiled = BoolSetCompiler.compile(e, col("name"))
      val flags = ((null: String) +: hit.toSeq).toDF("name")
        .agg(compiled.flagCols.head, compiled.flagCols.tail: _*)
      val evaluated = flags.select(compiled.predicate).head().getBoolean(0)
      assert(BoolSetCompiler.holds(e, hit) === evaluated, s"input: ${render(e)}, hit: $hit")
    }
  }

  /** A store with every shape the search must treat as the one plan does:
    * a fault with an absent parent and one with no parent, a parent with a
    * null name, links to an absent fault and with a null rupture or fault,
    * a rupture with no links, a null and a NaN rate, and a rupture with the
    * top non-NaN rate (41) linked only to the faults with no parent row.
    * Rates are otherwise distinct, so the top-k order is unambiguous.
    */
  private def searchStore(): NshmDb = {
    import spark.implicits._
    val db = freshDb()
    val rng = new scala.util.Random(5L)
    db.store.append("parent_fault", Seq[(Long, String)](
      (1L, "Alpine"), (2L, "Hope Fault"), (3L, "Kakapo"), (4L, "Wairau"), (5L, null))
      .toDF("parent_id", "name"))
    val parentOf = Seq[(Long, Option[Long])](
      1L -> Some(1L), 2L -> Some(1L), 3L -> Some(2L), 4L -> Some(3L), 5L -> Some(3L),
      6L -> Some(4L), 7L -> Some(5L), 8L -> Some(99L), 9L -> None, 10L -> Some(2L))
    db.store.append("fault", parentOf.map { case (id, p) => (id, 3, id, 90.0, Option.empty[Int], p) }
      .toDF("fault_id", "fault_system", "nshm_id", "rake", "tect_type", "parent_id"))
    val ruptureIds = 1L to 40L
    db.store.append("rupture", (ruptureIds.map { id =>
      val rate = id match {
        case 1L => None
        case 2L => Some(Double.NaN)
        case _ => Some((id * 37 % 101) / 1000.0)
      }
      (id, if (id % 3 == 0) 2 else 3, 100 + id, 10.0 * id, 6.0 + (id % 7) * 0.25, 2.0 * id, rate)
    } :+ (41L, 3, 141L, 410.0, 7.5, 82.0, Some(0.5)))
      .toDF("rupture_id", "fault_system", "nshm_id", "area", "magnitude", "len", "rate"))
    val links = ruptureIds.filter(_ != 3L).flatMap { id =>
      Seq.fill(1 + rng.nextInt(4))(Option(id) -> Option(1L + rng.nextInt(10)))
    } ++ Seq(Some(4L) -> Some(999L), None -> Some(1L), Some(5L) -> None, Some(41L) -> Some(8L),
      Some(41L) -> Some(9L))
    db.store.append("rupture_faults", links.zipWithIndex.map { case ((r, f), i) => (i.toLong, r, f) }
      .toDF("rupture_fault_id", "rupture_id", "fault_id"))
    db
  }

  private type Bounds = (Option[Double], Option[Double])

  /** The search as one Catalyst plan over the four scanned tables, as
    * `queryRuptures` ran it before it resolved the fault model on the
    * driver: the oracle of the property below.
    */
  private def searchOracle(
      db: NshmDb, tree: Expr, mag: Bounds, rate: Bounds, limit: Int, fcl: Option[Int]): Array[Row] = {
    val compiled = BoolSetCompiler.compile(tree, col("name"))
    val r = db.store.table("rupture")
    var base = r
      .join(db.store.table("rupture_faults").as("rf"), r("rupture_id") === col("rf.rupture_id"))
      .join(broadcast(db.store.table("fault")).as("f"), col("rf.fault_id") === col("f.fault_id"))
      .join(broadcast(db.store.table("parent_fault")).as("pf"), col("f.parent_id") === col("pf.parent_id"))
      .filter(r("rate").isNotNull)
    mag._1.foreach(lo => base = base.filter(r("magnitude") >= lo))
    mag._2.foreach(hi => base = base.filter(r("magnitude") <= hi))
    rate._1.foreach(lo => base = base.filter(r("rate") >= lo))
    rate._2.foreach(hi => base = base.filter(r("rate") <= hi))
    val aggCols = Seq(
      max(r("nshm_id")).as("nshm_id"),
      max(r("fault_system")).as("fault_system"),
      max(r("magnitude")).as("magnitude"),
      max(r("area")).as("area"),
      max(r("len")).as("len"),
      max(r("rate")).as("rate"),
      countDistinct(col("pf.parent_id")).as("__n_faults")) ++ compiled.flagCols
    val having = fcl.map(n => col("__n_faults") <= n && compiled.predicate).getOrElse(compiled.predicate)
    base
      .groupBy(r("rupture_id"))
      .agg(aggCols.head, aggCols.tail: _*)
      .filter(having)
      .select("rupture_id", "nshm_id", "fault_system", "magnitude", "area", "len", "rate")
      .orderBy(col("rate").desc_nulls_last)
      .limit(limit)
      .collect()
  }

  test("the search returns the one-plan oracle's rows in order (200 random searches, NOT included)") {
    val db = searchStore()
    val atom = Gen.oneOf("Alpine", "Hope Fault", "Kakapo", "Wairau", "Ghost").map(Atom(_): Expr)
    // no bound, or a zero one (which the reference drops)
    val bound: Gen[Option[Double]] = Gen.frequency(3 -> Gen.const(None), 1 -> Gen.const(Some(0.0)))
    // fixed searches first: with the magnitude bound keeping the NaN rupture out, rupture 41 heads
    // the pool and is dropped for having no fault in the model, and the fault-count limit drops
    // more, so the top-k must widen
    val none: Bounds = (None, None)
    val ghost = Not(Atom("Ghost"))
    val neither = Not(Or(Atom("Alpine"), Atom("Kakapo")))
    val fixed = Seq[(Expr, Bounds, Bounds, Int, Option[Int])](
      (ghost, (Some(6.75), None), none, 1, None),
      (ghost, (Some(6.75), None), none, 3, Some(1)),
      (ghost, none, none, 1, Some(1)),
      (neither, none, none, 1, Some(1)),
      (neither, (Some(6.75), None), none, 1, None),
      (Or(Atom("Alpine"), Atom("Kakapo")), none, none, 1, Some(1)))
    val searches = fixed ++ draw(200, for {
      e <- genExpr(4, atom)
      mag <- Gen.zip(Gen.oneOf(bound, Gen.some(Gen.oneOf(6.25, 6.75))), Gen.oneOf(bound, Gen.some(Gen.const(7.0))))
      rate <- Gen.zip(Gen.oneOf(bound, Gen.some(Gen.const(0.02))), Gen.oneOf(bound, Gen.some(Gen.const(0.08))))
      limit <- Gen.oneOf(0, 1, 3, 100)
      fcl <- Gen.oneOf(None, Some(1), Some(2), Some(3))
    } yield (e, mag, rate, limit, fcl), 9L)
    var answered = 0
    searches.foreach { case (e, mag, rate, limit, fcl) =>
      val want = searchOracle(db, e, mag, rate, limit, fcl).toSeq
      val got = db.queryRuptures(render(e), mag, rate, limit, fcl).collect().toSeq
      assert(got === want, s"input: ${render(e)}, mag $mag, rate $rate, limit $limit, fcl $fcl")
      if (want.nonEmpty) answered += 1
    }
    // expressions true and false on the empty set both ran, and a good share of searches found rows
    val (onEmpty, offEmpty) = searches.partition(s => BoolSetCompiler.holds(s._1, _ => false))
    assert(onEmpty.size >= 20 && offEmpty.size >= 20,
      s"${onEmpty.size} true / ${offEmpty.size} false on the empty set")
    assert(answered >= 50, s"only $answered of ${searches.size} searches found rows")
  }
}
