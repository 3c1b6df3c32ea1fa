package graft

import org.apache.spark.sql.functions._

/** Greenplum segment-dump ingestion: split-file alignment and the
  * column-incremental attach (GreenplumTarget / dump-greenplum.sh).
  */
class GreenplumSpec extends SparkSpec {

  test("greenplum dump: multi-split alignment, incremental column attach") {
    import org.apache.spark.sql.types._
    import graft.sources.Greenplum
    // hand-written dump with MULTIPLE split files per segment (the
    // dump-greenplum.sh `split -l` layout): per-segment position must
    // run across file boundaries in name order
    val dir = graft.engine.Artifacts.scratchDir("gp_spec").toString
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        lines.mkString("\n").getBytes("UTF-8"))
    write("file0aaa", Seq("1,10.0", "2,20.0"))
    write("file0aab", Seq("3,30.0"))
    write("file1aaa", Seq("4,40.0"))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("v", DoubleType)))
    val loaded = Greenplum.loadDumpAligned(spark, dir, sch)
    val rows = loaded.orderBy("__seg", "__pos")
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
    assert(rows.toSeq == Seq((0, 0L, 1L), (0, 1L, 2L), (0, 2L, 3L), (1, 0L, 4L)))
    // incremental attach: a second dump of ONE new column, positions
    // aligned across the same segment/split layout
    val dir2 = graft.engine.Artifacts.scratchDir("gp_spec2").toString
    def write2(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir2, name),
        lines.mkString("\n").getBytes("UTF-8"))
    write2("file0aaa", Seq("a", "b"))
    write2("file0aab", Seq("c"))
    write2("file1aaa", Seq("d"))
    val sch2 = StructType(Seq(StructField("tag", StringType)))
    val joined = Greenplum.attachColumns(loaded, spark, dir2, sch2)
      .orderBy("k").collect().map(r => r.getAs[Long]("k") -> r.getAs[String]("tag"))
    assert(joined.toSeq == Seq(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "d"))
    // plain load sees all rows without alignment metadata
    assert(Greenplum.loadDump(spark, dir, sch).count() == 4)
    // writeDump → loadDumpAligned round-trip preserves every row
    val df = spark.range(0, 100).selectExpr("id AS k", "CAST(id * 1.5 AS DOUBLE) AS v")
    val dir3 = graft.engine.Artifacts.scratchDir("gp_spec3").toString
    Greenplum.writeDump(df, dir3, Seq("k"), 4)
    val back = Greenplum.loadDumpAligned(spark, dir3, sch)
    assert(back.count() == 100)
    assert(back.agg(sum(col("v"))).head.getDouble(0) == (0 until 100).map(_ * 1.5).sum)
    // nulls and separator-bearing strings survive the dump: null →
    // empty field (concat_ws would silently SKIP it and misalign every
    // later column), commas/quotes get RFC-4180 quoting; a
    // single-column dump of a null value is an EMPTY line that must
    // still occupy its position
    import org.apache.spark.sql.types._
    import spark.implicits._
    val messy = Seq(
      (1L, Option("plain"), Option(2.5)),
      (2L, Option("a,b \"quoted\""), None),
      (3L, None, Option(7.0))).toDF("k", "s", "v")
    val dir4 = graft.engine.Artifacts.scratchDir("gp_spec4").toString
    Greenplum.writeDump(messy, dir4, Seq("k"), 2)
    val mSch = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val got = Greenplum.loadDump(spark, dir4, mSch)
      .collect().map(r => (r.getLong(0), Option(r.get(1)), Option(r.get(2))))
      .sortBy(_._1)
    assert(got.toSeq == Seq(
      (1L, Some("plain"), Some(2.5)),
      (2L, Some("a,b \"quoted\""), None),
      (3L, None, Some(7.0))), got.toSeq.toString)
    // single-column incremental dump with a null: positions hold
    val dir5 = graft.engine.Artifacts.scratchDir("gp_spec5").toString
    Greenplum.writeDump(messy, dir5, Seq("k"), 2, lineCols = Seq("s"))
    val sOnly = Greenplum.loadDumpAligned(spark, dir5,
      StructType(Seq(StructField("s", StringType))))
    val base4 = Greenplum.loadDumpAligned(spark, dir4, mSch)
    val attached = base4.drop("s").join(sOnly, Seq("__seg", "__pos"))
      .collect().map(r => (r.getAs[Long]("k"), Option(r.getAs[String]("s"))))
      .sortBy(_._1)
    assert(attached.toSeq == Seq((1L, Some("plain")),
      (2L, Some("a,b \"quoted\"")), (3L, None)), attached.toSeq.toString)
  }

  test("aligned load: byte-offset split read — parity with whole-file order, multiple tasks per file") {
    import org.apache.spark.sql.types._
    import graft.sources.Greenplum
    // a dump big enough to split: 2 segments × (2 + 1) files, 2000
    // rows per file of ~20 bytes ⇒ ~40 KB files; maxSplitBytes = 4096
    // forces ~10 tasks per file
    val dir = graft.engine.Artifacts.scratchDir("gp_split").toString
    def mk(seg: Int, split: String, from: Int, n: Int): Seq[String] =
      (from until from + n).map(i => s"${seg * 1000000 + i},s${seg}v$i")
    def write(name: String, lines: Seq[String]): Unit =
      java.nio.file.Files.write(java.nio.file.Paths.get(dir, name),
        (lines.mkString("\n") + "\n").getBytes("UTF-8"))
    write("file0aaa", mk(0, "aaa", 0, 2000))
    write("file0aab", mk(0, "aab", 2000, 2000))
    write("file1aaa", mk(1, "aaa", 0, 2000))
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType)))
    // intra-file parallelism: the line scan holds MORE partitions than
    // files (TextInputFormat split by byte ranges)
    val parts = Greenplum.dumpLines(spark, dir, "file", 4096L).getNumPartitions
    assert(parts > 3, s"expected >3 scan partitions for 3 files, got $parts")
    // independent whole-file reference: java.nio reads each file as one
    // string, positions by line index across files in name order — the
    // contract the byte-offset rank must reproduce under ANY split
    val refRows = new java.io.File(dir).listFiles().filter(_.getName.startsWith("file"))
      .sortBy(_.getName).toSeq
      .groupBy(f => f.getName.stripPrefix("file").takeWhile(_.isDigit).toInt)
      .flatMap { case (seg, files) =>
        val lines = files.sortBy(_.getName).flatMap { f =>
          val content = new String(
            java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
          val raw = content.split("\n", -1)
          (if (raw.nonEmpty && raw.last.isEmpty) raw.init else raw).toSeq
        }
        lines.zipWithIndex.map { case (l, i) => ((seg, i.toLong), l) }
      }
    val split = Greenplum.loadDumpAligned(spark, dir, sch, maxSplitBytes = 4096L)
      .collect().map(r => ((r.getInt(0), r.getLong(1)),
        s"${r.getLong(2)},${r.getString(3)}")).toMap
    assert(split.size == 6000 && split == refRows,
      s"split-read misalignment: ${split.toSeq.diff(refRows.toSeq).take(3)}")
    // and the default (unsplit) read agrees with the forced-split read
    val whole = Greenplum.loadDumpAligned(spark, dir, sch)
      .collect().map(r => ((r.getInt(0), r.getLong(1)),
        s"${r.getLong(2)},${r.getString(3)}")).toMap
    assert(whole == split)
  }

  test("writeDump normalizes embedded newlines (line-per-row contract holds)") {
    import org.apache.spark.sql.types._
    import graft.sources.Greenplum
    import spark.implicits._
    val df = Seq(
      (1L, "before\nafter", 1.0),
      (2L, "cr\rhere", 2.0),
      (3L, "plain", 3.0)).toDF("k", "s", "v")
    val dir = graft.engine.Artifacts.scratchDir("gp_nl").toString
    Greenplum.writeDump(df, dir, Seq("k"), 2)
    val sch = StructType(Seq(StructField("k", LongType),
      StructField("s", StringType), StructField("v", DoubleType)))
    val got = Greenplum.loadDumpAligned(spark, dir, sch)
      .collect().map(r => (r.getLong(2), r.getString(3), r.getDouble(4)))
      .sortBy(_._1)
    // the newline became a space; every row still parses and aligns
    // (pre-fix behavior: row 1 split across two physical lines, parsed
    // to nulls, and every later __pos in its segment shifted)
    assert(got.toSeq == Seq((1L, "before after", 1.0),
      (2L, "cr here", 2.0), (3L, "plain", 3.0)), got.toSeq.toString)
  }
}
