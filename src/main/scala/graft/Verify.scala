package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional 3rd arg: comma-separated query names — targeted re-checks
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = engine.Sessions.local(cpus.toInt)
    new java.io.File(outDir).mkdirs()
    // each query's dir is cleared first, so a query that throws leaves a
    // _FAILED marker (check.py reports it) and never an earlier run's output
    val failed = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .flatMap { case (name, fn) =>
      val dir = new java.io.File(outDir, name)
      engine.Artifacts.deleteRecursively(dir)
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(dir.toString)
        None
      } catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
        dir.mkdirs()
        Files.writeString(dir.toPath.resolve("_FAILED"), String.valueOf(e.getMessage))
        Some(name)
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // rows-only queries' gating specs as structured artifact fields:
    // the driver records these queries as rows-only; gates.json names
    // the test that actually asserts each one's correctness
    val gates = SparkEntry.rowsOnlyGates
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/gates.json"), gates)
    if (failed.nonEmpty)
      System.err.println(s"[verify] ${failed.size} failed: ${failed.toSeq.sorted.mkString(", ")}")
    spark.stop()
  }
}
