package graft

import org.scalatest.funsuite.AnyFunSuite

/** Verify's args(2) filter-token precedence: explicit `tok*` prefix
  * beats exact-name, which beats the legacy bare-prefix inference (a
  * bare token works as a prefix only while NO query carries that exact
  * name — the registry-dependence hazard the `*` syntax exists to
  * avoid). Selection order must follow token order, since the at-scale
  * board runner passes names cheapest-first.
  */
class VerifyFilterSpec extends AnyFunSuite {

  private val names = Set("q_asof", "q_asof_forward", "q_topk", "q_tri")

  private def idx(tokens: String, name: String): Int =
    Verify.matchIndex(tokens.split(',').toSeq, names, name)

  test("exact name selects only itself, not longer siblings") {
    assert(idx("q_asof", "q_asof") == 0)
    assert(idx("q_asof", "q_asof_forward") == -1)
  }

  test("bare token that names no query falls back to prefix") {
    assert(idx("q_aso", "q_asof") == 0)
    assert(idx("q_aso", "q_asof_forward") == 0)
    assert(idx("q_aso", "q_topk") == -1)
  }

  test("explicit star prefix selects the family even when the bare name is a query") {
    // 'q_tri' IS a registered query: bare it would go exact and drop
    // siblings; starred it stays a prefix
    assert(idx("q_tri", "q_tri") == 0)
    assert(idx("q_tri", "q_triangle") == -1)
    assert(idx("q_tri*", "q_tri") == 0)
    assert(idx("q_tri*", "q_triangle") == 0)
  }

  test("ordering follows token position; empty filter matches everything at 0") {
    assert(idx("q_topk,q_asof", "q_asof") == 1)
    assert(idx("q_topk,q_asof", "q_topk") == 0)
    assert(idx("", "q_topk") == 0)
  }

  test("selection breaks ties by name: a starred filter runs its family sorted") {
    val registry = Set("q_tri_b", "q_asof_forward", "q_tri", "q_asof", "q_tri_a", "q_topk")
    assert(Verify.select("q_tri*,q_asof*", registry) ===
      Seq("q_tri", "q_tri_a", "q_tri_b", "q_asof", "q_asof_forward"))
    assert(Verify.select("", registry) === registry.toSeq.sorted)
  }
}
