package graft.dsl

/** Pratt parser for the query DSL.
  *
  * Binding powers mirror the reference (`/root/reference/nshmdb/query.py:21-31`):
  * OR = (1,2), AND = (3,4) — left-associative since left < right — and
  * prefix NOT = 5, so `!` > `&` > `|`. Error cases (unbalanced parens,
  * leading binary operator, trailing operator, empty input) raise
  * [[QuerySyntaxException]] exactly where the reference raises ValueError
  * (query.py:157-217).
  */
object Parser {

  def parse(expression: String, extraAtomChars: String = ""): Expr = {
    val tokens = Lexer.lex(expression, extraAtomChars)
    var idx = 0
    def peek: Option[Token] = if (idx < tokens.length) Some(tokens(idx)) else None
    def advance(): Token = {
      if (idx >= tokens.length)
        throw new QuerySyntaxException(s"Invalid search expression $expression")
      val t = tokens(idx); idx += 1; t
    }

    def exprBindingPower(minBp: Int): Expr = {
      var lhs: Expr = advance() match {
        case LPar =>
          val inner = exprBindingPower(0)
          if (peek.isEmpty || advance() != RPar)
            throw new QuerySyntaxException(s"Invalid search expression $expression")
          inner
        case NotTok => Not(exprBindingPower(5))
        case AtomTok(name) => Atom(name)
        case _ =>
          throw new QuerySyntaxException(s"Invalid search expression $expression")
      }
      var done = false
      while (!done) {
        peek match {
          case None | Some(RPar) => done = true
          case Some(op @ (AndTok | OrTok)) =>
            val (leftBp, rightBp) = if (op == AndTok) (3, 4) else (1, 2)
            if (leftBp < minBp) done = true
            else {
              advance()
              val rhs = exprBindingPower(rightBp)
              lhs = if (op == AndTok) And(lhs, rhs) else Or(lhs, rhs)
            }
          case _ =>
            throw new QuerySyntaxException(s"Invalid search expression $expression")
        }
      }
      lhs
    }

    val result = exprBindingPower(0)
    // a stray `)` stops the top-level loop; anything from it on would
    // otherwise be silently dropped from the search
    if (idx != tokens.length)
      throw new QuerySyntaxException(s"Invalid search expression $expression")
    result
  }
}
