package graft.dsl

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Compiles a DSL [[Expr]] to Catalyst `Column`s over per-group aggregated
  * membership flags — the Spark-native equivalent of the reference's
  * SQL-string compiler (`/root/reference/nshmdb/query.py:220-338`), with no
  * string assembly and therefore no injection surface.
  *
  * An atom *f* becomes the aggregate flag
  * `sum(when(nameCol === f, 1).otherwise(0)) > 0` (≙ the reference's
  * `SUM(CASE WHEN parent_fault.name = ? THEN 1 ELSE 0 END) > 0`,
  * query.py:273); the tree folds over the flag columns with `&&`/`||`/`!`.
  *
  * Two evaluations of one tree: [[compile]] serves plans that aggregate
  * the flags per group (`groupBy(key).agg(first..., flags: _*)` then
  * `.filter(predicate)`), as q_dsl_topk does; [[holds]] decides one set on
  * the driver, as `NshmDb.queryRuptures` does for each rupture linked to
  * an atom's fault.
  */
object BoolSetCompiler {

  final case class Compiled(flagCols: Seq[Column], predicate: Column)

  /** Distinct atom names in left-to-right first-occurrence order
    * (≙ parameter emission order, query.py:277-293).
    */
  def atoms(tree: Expr): Seq[String] = {
    val seen = scala.collection.mutable.LinkedHashSet.empty[String]
    def walk(e: Expr): Unit = e match {
      case Atom(n) => seen += n
      case Not(x) => walk(x)
      case And(l, r) => walk(l); walk(r)
      case Or(l, r) => walk(l); walk(r)
    }
    walk(tree)
    seen.toVector
  }

  /** @param nameCol the column holding the set-member name (≙ parent_fault.name)
    * @param flagPrefix prefix for generated flag column aliases
    */
  def compile(tree: Expr, nameCol: Column, flagPrefix: String = "__flag"): Compiled = {
    val names = atoms(tree)
    val flagName: Map[String, String] =
      names.zipWithIndex.map { case (n, i) => n -> s"${flagPrefix}_$i" }.toMap
    val flagCols = names.map { n =>
      sum(when(nameCol === lit(n), 1).otherwise(0)).as(flagName(n))
    }
    def fold(e: Expr): Column = e match {
      case Atom(n) => col(flagName(n)) > 0
      case Not(x) => !fold(x)
      case And(l, r) => fold(l) && fold(r)
      case Or(l, r) => fold(l) || fold(r)
    }
    Compiled(flagCols, fold(tree))
  }

  /** The expression's truth value on one set, given as membership: `hit(n)`
    * tells whether atom `n` is in the set. Agrees with [[compile]]'s
    * predicate on a group whose flag for `n` is set exactly when `hit(n)`.
    */
  def holds(tree: Expr, hit: String => Boolean): Boolean = tree match {
    case Atom(n) => hit(n)
    case Not(x) => !holds(x, hit)
    case And(l, r) => holds(l, hit) && holds(r, hit)
    case Or(l, r) => holds(l, hit) || holds(r, hit)
  }
}
