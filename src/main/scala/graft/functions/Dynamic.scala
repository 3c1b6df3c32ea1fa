package graft.functions

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.graftshim.{columnToExpr, exprToColumn}
import org.apache.spark.sql.types.DataType
import scala.collection.concurrent.TrieMap

/** Runtime-supplied UDF surface — the reference's JavaScript map/filter
  * columns (maps/CreateColumnJSMap.java:36-145, table/filters/
  * JSFilterDescription.java:30-80): users hand the engine a *string* at
  * runtime that computes a new column or a row predicate.
  *
  * Spark translation: the string is a SQL expression parsed by Spark's
  * own parser into a Catalyst expression with named parameters; applying
  * it substitutes argument Columns for the parameter names. Unlike a
  * black-box closure, the registered expression stays transparent to
  * Catalyst — it is codegen'd, folded, and pushed down like any built-in
  * (strictly better than the reference's Graal-context-per-partition
  * execution). Opaque Scala closures remain available via
  * [[registerClosure]] for logic SQL cannot express.
  */
object DynamicUdf {

  private val exprs = TrieMap.empty[String, (String, Seq[String])]

  /** Register a named expression: `exprString` is any SQL expression over
    * the parameter names in `params` (e.g. `"x * 2 + y"` with params
    * `Seq("x", "y")`). Parsed eagerly so malformed input fails at
    * registration, mirroring the reference's JS compile step.
    */
  def registerExpr(spark: SparkSession, name: String, exprString: String,
      params: Seq[String]): Unit = {
    spark.sessionState.sqlParser.parseExpression(exprString) // validate now
    exprs.update(name, (exprString, params))
  }

  /** Instantiate a registered expression with argument columns. */
  def call(spark: SparkSession, name: String, args: Column*): Column = {
    val (exprString, params) = exprs.getOrElse(name,
      throw new IllegalArgumentException(s"no dynamic expression '$name'"))
    require(args.length == params.length,
      s"'$name' takes ${params.length} args, got ${args.length}")
    val parsed = spark.sessionState.sqlParser.parseExpression(exprString)
    val bound = parsed.transformUp {
      case a: UnresolvedAttribute if params.contains(a.name) =>
        columnToExpr(args(params.indexOf(a.name)))
    }
    exprToColumn(bound)
  }

  def registered: Set[String] = exprs.keySet.toSet

  /** Escape hatch for logic SQL cannot express: a genuine Scala closure
    * registered into the session's function registry (usable from
    * `expr("name(...)")` and SQL). Opaque to Catalyst — no pushdown
    * through it — which is why [[registerExpr]] is the preferred path.
    */
  def registerClosure[A, R](spark: SparkSession, name: String, f: A => R)(
      implicit rt: reflect.runtime.universe.TypeTag[R],
      at: reflect.runtime.universe.TypeTag[A]): Unit =
    spark.udf.register(name, f)
}
