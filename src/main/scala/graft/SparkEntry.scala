package graft

import graft.queries._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The query contract — the named queries, one per implemented operator
  * from SURVEY.md §2 (+ the training-data-pipeline layer). Each is
  * declared once, as a [[graft.queries.QuerySpec]] holding its builder
  * and its check, in the family object under `graft.queries` that its
  * section belongs to; this object holds the three views that Verify,
  * Bench, Plans and the tests read. Column names/aliases match the
  * oracle's pairwise.
  *
  * Numeric policy (see graft.engine.Num): counts/min/max exact; sums of
  * ≤2-decimal columns via exact decimal aggregation cast back to double;
  * intrinsically-floating results (stddev, corr, percentile, cosine)
  * rounded once at the end on both sides.
  */
object SparkEntry {

  /** Flagship query on sf=0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("q1_pricing_summary")(spark, "/root/testdata/sf0.001")

  private[graft] val registry = new Registry(Relational.specs ++ Sketches.specs ++
    Similarity.specs ++ Hygiene.specs ++ WebIngest.specs ++ Media.specs ++
    Sources.specs ++ Training.specs)

  /** Every named query's builder, built once. */
  val queries: Map[String, (SparkSession, String) => DataFrame] =
    registry.queries

  /** DuckDB oracle SQL per value-matched query. A def: the session-state
    * checks render when the dump runs, after the queries they replay. */
  def oracleSql: Map[String, String] = registry.oracleSql

  /** The gate (the test asserting correctness) per rows-only query;
    * Verify dumps it as gates.json next to oracle_sql.json. */
  def rowsOnlyGates: Map[String, String] = registry.rowsOnlyGates
}
