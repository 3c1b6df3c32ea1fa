package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.immutable.HashMap

/** How a named query's result is checked. */
sealed trait Check

/** Value-matched: DuckDB runs `sql` over the same tables and the sorted
  * rows must equal the query's. The SQL renders on first use, so building
  * the registry renders no oracle. */
final class Oracle(render: => String) extends Check {
  lazy val sql: String = render
}
object Oracle {
  def apply(sql: => String): Oracle = new Oracle(sql)
  def unapply(o: Oracle): Some[String] = Some(o.sql)
}

/** Rows-only: `spec` names the test that asserts the query's correctness. */
final case class Gate(spec: String) extends Check

/** Checked against session state (a trained model, a sink listing). The
  * condition is stated once: the query is oracled when `render` returns
  * the SQL, and otherwise `gate` holds. */
final case class Rendered(render: () => Option[String], gate: String)
  extends Check

/** An always-train twin computes exactly what its artifact-served
  * original `of` computes, so it inherits the original's check. */
final case class Twin(of: String) extends Check

/** One named query: its builder over (session, sf dir) and its check. */
final case class QuerySpec(name: String,
    build: (SparkSession, String) => DataFrame, check: Check)

/** The query registry: each name declared once, and the three views of
  * the declarations that `SparkEntry` exposes. */
final class Registry(val specs: Seq[QuerySpec]) {
  private val byName: Map[String, QuerySpec] = {
    val dups = specs.groupBy(_.name).collect { case (n, ss) if ss.size > 1 => n }
    require(dups.isEmpty,
      s"queries declared more than once: ${dups.toSeq.sorted.mkString(", ")}")
    HashMap.from(specs.map(s => s.name -> s))
  }
  specs.foreach {
    case QuerySpec(n, _, Twin(of)) =>
      require(byName.contains(of), s"$n is a twin of $of, which is not declared")
    case _ =>
  }

  /** A hash map, so its iteration order depends on the key set alone. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, s) => n -> s.build }

  /** A twin's check is its original's. */
  private def checkOf(name: String): Check = byName(name).check match {
    case Twin(of) => checkOf(of)
    case c => c
  }

  def oracleSql: Map[String, String] = specs.flatMap { s =>
    (checkOf(s.name) match {
      case Oracle(sql) => Some(sql)
      case Rendered(render, _) => render()
      case _ => None
    }).map(s.name -> _)
  }.toMap

  def rowsOnlyGates: Map[String, String] = specs.flatMap { s =>
    (checkOf(s.name) match {
      case Gate(spec) => Some(spec)
      case Rendered(render, gate) if render().isEmpty => Some(gate)
      case _ => None
    }).map(s.name -> _)
  }.toMap
}
