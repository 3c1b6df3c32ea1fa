package graft

import graft.engine.Tables
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The replicated-scale tier's replication rule (ScaleProbe), run ×3
  * over sf0.001: keys stay unique, joins scale with the tier, replica 0
  * is the source, and replicas r ≥ 1 are salted copies that preserve
  * within-replica structure. */
class ScaleTierSpec extends SparkSpec with org.scalatest.BeforeAndAfterAll {
  private val n = 3
  private lazy val root = graft.engine.Artifacts.scratchDir("graft_tier").toFile
  private lazy val tier: String = {
    val dir = s"$root/x$n"
    ScaleProbe.writeTier(spark, sf, n, dir)
    dir
  }
  override def afterAll(): Unit = graft.engine.Artifacts.deleteRecursively(root)
  private def src(t: String): DataFrame =
    if (t == "events") Tables.events(spark, sf) else Tables.table(spark, sf, t)
  private def rep(t: String): DataFrame = Tables.table(spark, tier, t)

  private def sameRows(a: DataFrame, b: DataFrame): Boolean =
    a.count() == b.count() && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  test("tier keys stay unique and fact tables scale ×N, dimensions stay fixed") {
    // replicas never collide: each source key becomes exactly N keys
    // (the generated lineitem repeats (orderkey, linenumber) pairs, so
    // uniqueness is relative to the source's own distinct count)
    def keys(df: DataFrame, key: String) = df.select(col(key)).distinct().count()
    Seq("lineitem" -> "l_orderkey", "orders" -> "o_orderkey", "documents" -> "doc_id",
        "embeddings" -> "vec_id", "events" -> "event_id").foreach { case (t, key) =>
      assert(rep(t).count() == n * src(t).count(), t)
      assert(keys(rep(t), key) == n * keys(src(t), key), t)
    }
    Seq("customer", "part", "supplier", "nation", "region").foreach { t =>
      assert(sameRows(rep(t), src(t)), t)
    }
  }

  test("tier lineitem ⋈ orders join count scales ×N") {
    def joined(l: DataFrame, o: DataFrame) =
      l.join(o, col("l_orderkey") === col("o_orderkey")).count()
    val base = joined(src("lineitem"), src("orders"))
    assert(base > 0)
    assert(joined(rep("lineitem"), rep("orders")) == n * base)
  }

  test("tier replica 0 equals the source") {
    Seq("lineitem" -> ("l_orderkey", 100000000L), "orders" -> ("o_orderkey", 100000000L),
        "documents" -> ("doc_id", 10000000L), "embeddings" -> ("vec_id", 10000000L),
        "events" -> ("event_id", 10000000L)).foreach { case (t, (id, stride)) =>
      assert(sameRows(rep(t).filter(col(id) < stride), src(t)), t)
    }
  }

  test("tier replicas r ≥ 1 salt text and keep within-replica cosines") {
    val stride = 10000000L
    val d0 = src("documents").select(col("doc_id"), col("text"))
    (1 until n).foreach { r =>
      val salted = rep("documents").filter(col("doc_id") >= r * stride &&
          col("doc_id") < (r + 1) * stride)
        .select((col("doc_id") - r * stride).as("doc_id"), col("text").as("salted"))
        .join(d0, "doc_id")
        .select(col("text"), col("salted")).collect()
      assert(salted.length == d0.count())
      assert(salted.forall(row => row.getString(1) ==
        row.getString(0).split(" ", -1).map(_ + s"_$r").mkString(" ")))
    }
    def vectors(lo: Long): Map[Long, Array[Float]] =
      rep("embeddings").filter(col("vec_id") >= lo && col("vec_id") < lo + stride)
        .collect().map(row => (row.getLong(0) - lo) ->
          row.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float]) =
      a.indices.map(i => a(i).toDouble * b(i)).sum
    val v0 = vectors(0L)
    val ids = v0.keys.toSeq.sorted.take(20)
    (1 until n).foreach { r =>
      val vr = vectors(r * stride)
      assert(vr.keySet == v0.keySet)
      // a copy is not a duplicate of its source vector...
      assert(ids.exists(i => !v0(i).sameElements(vr(i))))
      // ...but every pairwise dot product inside the replica is unchanged
      for (a <- ids; b <- ids) assert(dot(vr(a), vr(b)) == dot(v0(a), v0(b)))
    }
  }

  test("every ScaleProbe tier query resolves in SparkEntry.queries") {
    assert(ScaleProbe.names.distinct == ScaleProbe.names)
    assert(ScaleProbe.names.filterNot(SparkEntry.queries.contains).isEmpty)
  }
}
