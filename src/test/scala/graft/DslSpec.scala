package graft

import graft.dsl._
import org.scalatest.funsuite.AnyFunSuite

/** Mirrors /root/reference/tests/test_query.py (lexer token streams,
  * parse-tree shape, invalid expressions) plus the documented superset:
  * NOT over compound expressions.
  */
class DslSpec extends AnyFunSuite {

  test("lex fault1 & fault2 | !fault3 (≙ test_query.py:15-26)") {
    assert(
      Lexer.lex("fault1 & fault2 | !fault3") ===
        Vector(AtomTok("fault1"), AndTok, AtomTok("fault2"), OrTok, NotTok, AtomTok("fault3")))
  }

  test("lex error on forbidden character (≙ test_query.py:29-31)") {
    intercept[QuerySyntaxException](Lexer.lex("fault1 & invalid$"))
  }

  test("atom names absorb interior spaces and strip edges") {
    assert(Lexer.lex("Alpine Fault & Kakapo") ===
      Vector(AtomTok("Alpine Fault"), AndTok, AtomTok("Kakapo")))
  }

  test("parse fault1 & (fault2 | !fault3) (≙ test_query.py:54-63)") {
    assert(
      Parser.parse("fault1 & (fault2 | !fault3)") ===
        And(Atom("fault1"), Or(Atom("fault2"), Not(Atom("fault3")))))
  }

  test("precedence: ! > & > |") {
    assert(Parser.parse("a & b | c") === Or(And(Atom("a"), Atom("b")), Atom("c")))
    assert(Parser.parse("a | b & c") === Or(Atom("a"), And(Atom("b"), Atom("c"))))
    assert(Parser.parse("!a & b") === And(Not(Atom("a")), Atom("b")))
  }

  test("binary operators are left-associative") {
    assert(Parser.parse("a & b & c") === And(And(Atom("a"), Atom("b")), Atom("c")))
    assert(Parser.parse("a | b | c") === Or(Or(Atom("a"), Atom("b")), Atom("c")))
  }

  test("unbalanced parenthesis errors (≙ test_query.py:66-70)") {
    intercept[QuerySyntaxException](Parser.parse("fault1 & (fault2 | !fault3"))
    intercept[QuerySyntaxException](Parser.parse("a) & b"))
    intercept[QuerySyntaxException](Parser.parse("a)"))
  }

  test("leading binary operator errors (≙ test_query.py:119-122)") {
    intercept[QuerySyntaxException](Parser.parse("& fault1"))
  }

  test("trailing operator errors") {
    intercept[QuerySyntaxException](Parser.parse("fault1 &"))
    intercept[QuerySyntaxException](Parser.parse("fault1 & !"))
  }

  test("empty input errors") {
    intercept[QuerySyntaxException](Parser.parse(""))
  }

  test("NOT over compound expression parses (superset of reference, query.py:267-270 crashes)") {
    assert(Parser.parse("!(a & b)") === Not(And(Atom("a"), Atom("b"))))
  }

  test("atom collection preserves left-to-right order (≙ parameter order, test_query.py:73-93)") {
    val tree = Parser.parse("zeta & (alpha | !mid)")
    assert(BoolSetCompiler.atoms(tree) === Seq("zeta", "alpha", "mid"))
  }

  test("extended atom charset admits # when configured") {
    assert(Parser.parse("Brand#1 & Brand#2", extraAtomChars = "#") ===
      And(Atom("Brand#1"), Atom("Brand#2")))
    intercept[QuerySyntaxException](Parser.parse("Brand#1"))
  }
}
