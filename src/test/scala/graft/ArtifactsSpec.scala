package graft

import graft.engine.Artifacts
import java.io.File

/** The one publisher behind every stored model: set publication and GC,
  * a crash between data write and marker, folded publications a serve
  * cannot extend, and concurrent serves of one new fingerprint. */
class ArtifactsSpec extends SparkSpec {

  /** A one-table input dir under the scratch root. */
  private def input(): String = {
    val in = Artifacts.scratchDir("graft_art_in").toString
    spark.range(3).toDF("id").write.parquet(s"$in/t.parquet")
    in
  }

  private def lineage(prefix: String) =
    Artifacts.Lineage(prefix, "k" + System.nanoTime(), Nil)

  private def ids(df: org.apache.spark.sql.DataFrame): Seq[Long] =
    df.collect().map(_.getLong(0)).toSeq.sorted

  test("a superseded input set is collected after its grace window; " +
      "the current set is served") {
    val in = input()
    val l = lineage("spec_set")
    def serve(): String = l.serveSet("v1", in, "t")(
      Seq("copy.parquet" -> spark.read.parquet(s"$in/t.parquet")))
    def bump(): Unit = new File(s"$in/t.parquet").listFiles
      .foreach(f => assert(f.setLastModified(f.lastModified + 5000)))
    val first = serve()
    assert(serve() == first, "an unchanged input re-published its set")
    bump()
    val second = serve()
    val stamp = new File(first, ".graft_superseded")
    assert(second != first && new File(first).isDirectory && stamp.exists,
      "a superseded set must be stamped, not deleted")
    stamp.setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
    bump()
    val current = serve()
    assert(!new File(first).exists, "aged superseded set not collected")
    assert(new File(second).isDirectory, "in-window set collected")
    assert(ids(spark.read.parquet(s"$current/copy.parquet")) == Seq(0L, 1L, 2L))
    l.invalidate()
    assert(!l.exists && !new File(current).exists)
  }

  test("shards of a superseded input set are superseded with it; " +
      "one shard set remains after the grace window") {
    val src = Artifacts.scratchDir("graft_art_docs").toString
    spark.range(9).toDF("doc_id").write.parquet(s"$src/documents.parquet")
    val in = lineage("spec_docs")
    def serveInput(): String = in.serveSet("v1", src, "documents")(
      Seq("documents.parquet" -> spark.read.parquet(s"$src/documents.parquet")))
    def shardSet(input: String): File =
      new File(graft.dedup.Dedup.ensureDocShards(spark, input, 3).head).getParentFile
    val first = shardSet(serveInput())
    new File(s"$src/documents.parquet").listFiles
      .foreach(f => assert(f.setLastModified(f.lastModified + 5000)))
    val input = serveInput()
    val second = shardSet(input)
    assert(second != first && second.getParentFile == first.getParentFile,
      "a new input set must supersede the shard set in its own lineage")
    new File(first, ".graft_superseded").setLastModified(System.currentTimeMillis() - 11 * 60 * 1000L)
    assert(shardSet(input) == second)
    val sets = Seq(first, second).map(_.getParentFile).distinct
      .flatMap(_.listFiles).filter(_.getName.startsWith("set_"))
    assert(sets.toSeq == Seq(second), sets.mkString(", "))
    assert(ids(spark.read.parquet(s"$second/shard_1/documents.parquet")) == Seq(1L, 4L, 7L))
    in.invalidate()
    Artifacts.deleteRecursively(second.getParentFile)
  }

  test("a crash between data write and marker: the previous publication " +
      "serves, and the next serve commits over the surviving slot") {
    import spark.implicits._
    val in = input()
    val l = lineage("spec_crash")
    assert(ids(l.serve(spark, "pA", in, "t")(Seq(1L).toDF("id"))) == Seq(1L))
    // B's data lands in its slot, then the publisher dies before the marker
    val fpB = l.fingerprint("pB", in, "t")
    Artifacts.publishDataset(l.dir,
      java.nio.file.Paths.get(l.dir, s"map_${Artifacts.md5Hex(fpB)}.parquet"),
      Seq(2L).toDF("id"))
    assert(ids(l.serve(spark, "pA", in, "t")(
      sys.error("the published version was rebuilt"))) == Seq(1L))
    assert(l.marker.contains(l.fingerprint("pA", in, "t")))
    assert(ids(l.serve(spark, "pB", in, "t")(Seq(2L).toDF("id"))) == Seq(2L))
    assert(l.marker.contains(fpB))
    l.invalidate()
  }

  test("a folded publication by other bytecode, or over other shards, " +
      "is not one a fold can extend") {
    val shards = (0 until 3).map { i =>
      val sd = Artifacts.scratchDir("graft_art_shard").toString
      spark.range(i * 10, i * 10 + 10).toDF("id").write.parquet(s"$sd/t.parquet")
      sd
    }
    val l = Artifacts.Lineage("spec_foldable", "k" + System.nanoTime(),
      Seq("/graft/engine/Artifacts$.class"))
    def serve(dirs: Seq[String]) = l.serveFolded(spark, "p",
        Artifacts.shardFingerprints(dirs, "t"))(
      dirs.map(sd => spark.read.parquet(s"$sd/t.parquet")).reduce(_ union _)) {
      (old, _, delta) =>
        delta.map(sd => spark.read.parquet(s"$sd/t.parquet")).foldLeft(old)(_ union _)
    }
    assert(!l.foldsOnto(shards), "nothing published yet")
    serve(shards.take(2))
    assert(l.foldsOnto(shards) && !l.foldsOnto(shards.drop(1)))
    assert(ids(serve(shards)) == (0L until 30L) &&
      l.provenance.exists(_.startsWith("fold +1 shard(s) onto 2")))
    // the same publication as another build's bytecode would stamp it
    val marker = java.nio.file.Paths.get(l.dir, "_FINGERPRINT")
    java.nio.file.Files.writeString(marker,
      java.nio.file.Files.readString(marker).replace(l.buildStamp, "0" * 32))
    assert(!l.foldsOnto(shards))
    l.invalidate()
  }

  test("two threads serving one new fingerprint publish once and read " +
      "equal rows") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val in = input()
    val l = lineage("spec_race")
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val start = new java.util.concurrent.CountDownLatch(1)
    val serves = Seq.fill(2)(Future {
      start.await()
      ids(l.serve(spark, "p", in, "t") {
        builds.incrementAndGet()
        spark.range(100).toDF("id")
      })
    })
    start.countDown()
    val Seq(a, b) = serves.map(Await.result(_, scala.concurrent.duration.Duration(5, "min")))
    assert(a == b && a == (0L until 100L))
    assert(builds.get == 1)
    assert(new File(l.dir).listFiles.count(_.getName.startsWith("map_")) == 1)
    l.invalidate()
  }
}
