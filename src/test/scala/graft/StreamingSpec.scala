package graft

import graft.engine.{Cluster, Sessions, Tables}
import graft.multimodal.Multimodal
import graft.streaming.{Events, Memo, Progressive}
import org.apache.spark.sql.functions._

class StreamingSpec extends SparkSpec {

  test("streaming hourly agg matches batch totals") {
    val batch = Events.hourlyAgg(Tables.events(spark, sf))
    val batchTotal = batch.agg(sum("n_events")).head().getLong(0)
    val streamed = Events.runHourlyStreamOnce(spark, sf)
    val streamTotal = streamed.agg(sum("n_events")).head().getLong(0)
    assert(streamTotal == batchTotal)
  }

  test("streaming file sink emits exactly the watermark-closed windows") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val sunk = Events.runHourlyStreamToFiles(spark, sf)
    // append mode emits a window once watermark (max ts - 2h) passes its
    // end; expected = batch windows with end <= that watermark
    val maxTs = ev.agg(max(col("ts"))).head().getTimestamp(0)
    val wm = new java.sql.Timestamp(maxTs.getTime - 2L * 3600 * 1000)
    val expected = ev
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("window.end") <= lit(wm))
      .collect().map(r => (r.getStruct(0).getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    val got = sunk.select(col("window.start"), col("event_type"), col("n_events"))
      .collect().map(r => (r.getTimestamp(0), r.getString(1), r.getLong(2))).toSet
    assert(got == expected, s"got ${got.size} windows, expected ${expected.size}")
    assert(got.nonEmpty)
  }

  test("streaming dedup keeps exactly the distinct contents") {
    import org.apache.spark.sql.functions._
    val batchDistinct = Tables.documents(spark, sf)
      .select(md5(col("text").cast("binary"))).distinct().count()
    assert(Events.runDedupStreamOnce(spark, sf) == batchDistinct)
  }

  test("streaming Misra-Gries candidates cover every provable heavy hitter") {
    import org.apache.spark.sql.functions._
    val k = 3
    val shards = 4
    val got = Events.runHeavyHittersStream(spark, sf, k, shards).collect()
    // at most k surviving counters per shard (MG space bound)
    got.groupBy(_.getInt(0)).foreach { case (_, rows) => assert(rows.length <= k) }
    // the MG guarantee across micro-batches: any user with shard-local
    // frequency > shardN/k must be in its shard's final counters
    val exact = Tables.events(spark, sf)
      .select(pmod(hash(col("user_id")), lit(shards)).cast("int").as("shard"),
        col("user_id"))
      .groupBy("shard", "user_id").agg(count(lit(1)).as("cnt"))
    val shardTotals = exact.groupBy("shard").agg(sum("cnt").as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val must = exact.collect().filter { r =>
      r.getLong(2) > shardTotals(r.getInt(0)).toDouble / k
    }
    assert(must.nonEmpty, "test data should produce at least one provable HH")
    val candidates = got.map(r => (r.getInt(0), r.getLong(1))).toSet
    must.foreach { r =>
      assert(candidates.contains((r.getInt(0), r.getLong(1))),
        s"lost heavy hitter user ${r.getLong(1)} in shard ${r.getInt(0)}")
    }
  }

  test("streaming HLL registers equal the batch sketch bit for bit") {
    import org.apache.spark.sql.functions._
    val p = 10
    // multi-batch (4 triggers), multi-shard streaming state...
    val streamed = Events.runDistinctStream(spark, sf, p, shards = 4)
    // ...must land on EXACTLY the batch registers: the max-merge monoid is
    // idempotent/commutative, so micro-batching and sharding are invisible
    val batch = Tables.events(spark, sf)
      .agg(graft.functions.HllSketch.hll_build(col("user_id"), p).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(streamed.sameElements(batch), "streaming registers diverged from batch")
    // and the estimate is within the p=10 rsd envelope of the exact count
    val est = graft.functions.HllSketch.estimate(streamed)
    val exact = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(math.abs(est - exact) <= math.max(0.1 * exact, 3.0),
      s"est=$est exact=$exact")
  }

  test("streaming ingest maintains the zone-map manifest incrementally") {
    import graft.engine.Skipping
    import org.apache.spark.sql.DataFrame
    // stage documents as 4 files -> 4 real micro-batches; each batch's
    // mini-manifest is MERGED into the running one (never a rescan of
    // earlier batches), and the final manifest must equal the one-pass
    // build over all data — including the per-partition theta blobs
    val docs = Tables.documents(spark, sf)
    val streamDir = graft.engine.Artifacts.scratchDir("zm_stream").toString
    docs.repartition(4).write.mode("overwrite").parquet(streamDir)
    val schema = docs.schema
    val raw = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(streamDir)
    var manifest: Array[org.apache.spark.sql.Row] = Array.empty
    var manifestSchema: org.apache.spark.sql.types.StructType = null
    var batches = 0
    val q = raw.writeStream.outputMode("append")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val bzm = Skipping.buildZoneMap(batch, "lang", Seq("doc_id"), Seq("source"))
        val merged =
          if (manifest.isEmpty) bzm
          else Skipping.mergeZoneMaps(Seq(
            spark.createDataFrame(
              java.util.Arrays.asList(manifest: _*), manifestSchema),
            bzm), "lang")
        manifestSchema = merged.schema
        manifest = merged.collect() // manifest-sized driver state
        batches += 1
        ()
      }
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    assert(batches >= 2, s"expected real multi-batch ingest, got $batches")
    val got = manifest.map(r => r.getString(0) ->
      (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getAs[Array[Byte]](4).toSeq)).toMap
    val whole = Skipping.buildZoneMap(docs, "lang", Seq("doc_id"), Seq("source"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3),
          r.getAs[Array[Byte]](4).toSeq)).toMap
    assert(got == whole, "streamed manifest diverged from one-pass build")
  }

  test("streaming theta sketch equals the batch sketch bit for bit") {
    import org.apache.spark.sql.functions._
    val k = 128 // < distinct user count -> genuinely sampled regime
    val streamed = Events.runThetaStream(spark, sf, k, shards = 4)
    val batch = Tables.events(spark, sf)
      .agg(graft.functions.ThetaSketch.theta_build(col("user_id"), k).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(streamed.sameElements(batch), "streaming theta diverged from batch")
    // and the estimate lands inside the ~1/sqrt(k-1) envelope (x3)
    val est = graft.functions.ThetaSketch.estimateBlob(streamed)
    val exact = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(math.abs(est - exact) <= math.max(3.0 / math.sqrt(k - 1) * exact, 3.0),
      s"est=$est exact=$exact")
  }

  test("streaming KLL quantiles hold the rank gate vs exact batch ranks") {
    import org.apache.spark.sql.functions._
    val buf = Events.runQuantileStream(spark, sf, k = 200, shards = 4)
    val vals = Tables.events(spark, sf)
      .select(col("value").cast("double")).filter(col("value").isNotNull)
      .collect().map(_.getDouble(0)).sorted
    assert(buf.n == vals.length.toLong, s"n=${buf.n} vs ${vals.length}")
    val n = vals.length.toDouble
    for (q <- Seq(0.25, 0.5, 0.75)) {
      val est = graft.functions.KllSketch.quantile(buf, q)
      val lo = vals.count(_ < est) / n
      val hi = vals.count(_ <= est) / n
      assert(lo <= q + 0.03 && hi >= q - 0.03, s"q=$q est=$est lo=$lo hi=$hi")
    }
  }

  test("session stats: session count bounded by event count") {
    val st = Events.sessionStats(Tables.events(spark, sf), 30).collect()
    assert(st.nonEmpty)
    assert(st.forall(r => r.getLong(1) >= 1 && r.getLong(1) <= r.getLong(2)))
  }

  test("incremental progressive: one pass, monotone partials, exact final") {
    Memo.clear()
    val li = Tables.lineitem(spark, sf).repartition(8)
    val expected = li.groupBy("l_returnflag").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    var fracs = List.empty[Double]
    var partialTotals = List.empty[Long]
    val fin = Progressive.groupedCount(li, "l_returnflag", 4) { p =>
      fracs ::= p.fractionDone
      partialTotals ::= p.value.values.sum
    }
    assert(fracs.reverse == fracs.reverse.sorted, "fractions monotone")
    assert(fracs.head == 1.0)
    // partial totals grow monotonically (each partition counted once)
    assert(partialTotals.reverse == partialTotals.reverse.sorted)
    assert(fin.map { case (k, v) => k.asInstanceOf[String] -> v } == expected)
  }

  test("progressive HLL distinct: monotone partials, final == batch sketch") {
    // the reference's signature UX on the storable sketch: distinct-count
    // refines as partitions complete. HLL registers only grow under the
    // monoid, so the estimate is monotone non-decreasing BY CONSTRUCTION
    // — a visible convergence guarantee the UI can rely on — and the
    // final registers equal the one-shot batch sketch exactly.
    import org.apache.spark.sql.functions._
    Memo.clear()
    val docs = Tables.documents(spark, sf).select("text").repartition(8)
    var ests = List.empty[Double]
    val p = 12
    val sk = docs.agg(graft.functions.HllSketch.hll_build(col("text"), p).as("sk"))
    val finalRegs = Memo.collectMemoized(sk, 4) { part =>
      ests ::= graft.functions.HllSketch.estimate(part.value.head.getAs[Array[Byte]](0))
    }.head.getAs[Array[Byte]](0)
    assert(ests.reverse == ests.reverse.sorted, s"partials not monotone: ${ests.reverse}")
    val batch = Tables.documents(spark, sf)
      .agg(graft.functions.HllSketch.hll_build(col("text"), p).as("sk"))
      .head.getAs[Array[Byte]]("sk")
    assert(finalRegs.sameElements(batch), "progressive final != batch sketch")
  }

  test("progressive cancellation: cancelJobGroup mid-stream stops cleanly") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    import spark.implicits._
    // 8 partitions × (8 rows × 200 ms) each — cancel lands mid-partition
    val slow = (1 to 64).toDF("x").repartition(8)
    @volatile var emitted = 0
    val group = "graft-progressive-cancel-spec"
    val nap = org.apache.spark.sql.functions.udf { (x: Int) => Thread.sleep(200); x }
    val fut = Future {
      Sessions.inGroup(spark, group) {
        Memo.collectMemoized(slow.agg(org.apache.spark.sql.functions.sum(nap($"x"))), 8)(
          _ => emitted += 1)
      }
    }
    Thread.sleep(700)
    Sessions.cancelGroup(spark, group)
    // the run surfaces the cancellation as an exception (unsubscribe
    // semantics: RemoteDataSet drops the subscription, work stops)
    intercept[Exception] { Await.result(fut, 60.seconds) }
    assert(emitted < 8, s"cancel arrived after $emitted emissions")
    // the session survives: unrelated work still runs in this context
    assert(slow.count() == 64)
  }

  test("memoized collect hits cache on identical plan") {
    Memo.clear()
    val li = Tables.lineitem(spark, sf)
    val q1 = Memo.collectMemoized(li.groupBy("l_returnflag").count())
    val q2 = Memo.collectMemoized(li.groupBy("l_returnflag").count())
    assert(Memo.size == 1 && q1.sameElements(q2))
  }

  test("memo with progression: a cancelled run records nothing, the next " +
      "runs as one progressive job, the third memo-hits without a job") {
    // eight one-row partitions; every row from partition 2 on waits at
    // the gate, so the first partial (two partitions done) comes first
    val gated = udf { (id: Long) =>
      if (id >= 2) StreamingSpec.gate.await(60, java.util.concurrent.TimeUnit.SECONDS); id }
    val df = spark.range(0, 8, 1, 8).select(gated(col("id")).as("id"))
      .groupBy((col("id") % 3).as("b")).count()
    Memo.clear()
    val group = "spec-memo-progression"
    intercept[Exception] {
      Sessions.inGroup(spark, group) {
        Memo.collectMemoized(df, 4)(_ => Sessions.cancelGroup(spark, group))
      }
    }
    assert(Memo.size == 0, s"cancelled run left ${Memo.size} memo entries")
    StreamingSpec.gate.countDown()
    var fracs = Vector.empty[Double]
    var rows = Array.empty[org.apache.spark.sql.Row]
    assert(jobCount { rows = Memo.collectMemoized(df, 4)(p => fracs :+= p.fractionDone) } == 1)
    assert(fracs == Vector(0.25, 0.5, 0.75, 1.0), fracs)
    assert(rows.toSet == df.collect().toSet && rows.nonEmpty)
    assert(Memo.size == 1)
    var hits = Vector.empty[Progressive.Partial[Array[org.apache.spark.sql.Row]]]
    val h0 = Memo.hits
    assert(jobCount(Memo.collectMemoized(df, 4)(hits :+= _)) == 0)
    assert(hits.map(_.fractionDone) == Vector(1.0) && hits.head.value.toSet == rows.toSet)
    assert(Memo.hits == h0 + 1)
    Memo.clear()
    Cluster.setMemoization(false)
    try {
      fracs = Vector.empty
      Memo.collectMemoized(df, 4)(p => fracs :+= p.fractionDone)
      assert(fracs == Vector(0.25, 0.5, 0.75, 1.0), fracs)
      assert(Memo.size == 0, "disabled memo recorded an entry")
    } finally Cluster.setMemoization(true)
  }

  test("multimodal pipeline: real decoded features + chunk sampling") {
    val media = Multimodal.syntheticPixelMedia(Tables.documents(spark, sf))
    val feats = Multimodal.extractFeatures(media).collect()
    // every payload decodes (all synthetic media is valid BMP/PPM/WAV)
    assert(feats.nonEmpty && feats.length == media.count())
    // image intensities live in [0,255]; mean|sample| is non-negative
    // and mean-square dominates squared-mean (Jensen) for pixels
    assert(feats.filter(f => f.kind == "bmp" || f.kind == "ppm").forall(f =>
      f.feat0 >= 0 && f.feat0 <= 255 && f.feat1 >= f.feat0 * f.feat0 - 1e-9))
    assert(feats.filter(_.kind == "wav").forall(f =>
      f.feat1 >= 0 && math.abs(f.feat0) <= f.feat1 + 1e-9))
    val chunks = Multimodal.sampleChunks(
      Multimodal.syntheticMedia(Tables.documents(spark, sf)), 64, 2).collect()
    assert(chunks.nonEmpty)
  }

  test("pixel/PCM codecs: encode→decode round-trips content exactly") {
    // BMP: padding + bottom-up row flip must reconstruct top-down order
    for ((w, h) <- Seq((1, 1), (5, 3), (32, 24), (4, 2))) {
      val gray = (p: Int) => (p * 37 + 11) % 256
      for (payload <- Seq(Multimodal.bmpPayload(w, h, gray),
                          Multimodal.ppmPayload(w, h, gray))) {
        val Some((fmt, dw, dh, px)) = Multimodal.decodePixels(payload)
        assert(dw == w && dh == h && px.length == 3 * w * h, fmt)
        for (p <- 0 until w * h; c <- 0 until 3)
          assert(px(3 * p + c) == gray(p), s"$fmt pixel $p channel $c")
      }
    }
    // PGM P5: single-channel sibling — 1 gray byte per pixel
    for ((w, h) <- Seq((1, 1), (5, 3), (32, 24))) {
      val gray = (p: Int) => (p * 37 + 11) % 256
      val Some((fmt, dw, dh, px)) =
        Multimodal.decodePixels(Multimodal.pgmPayload(w, h, gray))
      assert(fmt == "pgm" && dw == w && dh == h && px.length == w * h)
      for (p <- 0 until w * h) assert(px(p) == gray(p), s"pgm pixel $p")
    }
    // top-down BMP (negative header height, per BITMAPINFOHEADER):
    // decodes to the same logical top-down pixel order
    {
      val w = 5; val h = 3
      val gray = (p: Int) => (p * 31 + 7) % 256
      // rows pre-flipped so the bottom-up writer emits file rows in
      // top-down logical order, then the height field is negated
      val td = Multimodal.bmpPayload(w, h,
        p => gray((h - 1 - p / w) * w + p % w))
      val neg = -h
      td(22) = (neg & 0xff).toByte; td(23) = ((neg >> 8) & 0xff).toByte
      td(24) = ((neg >> 16) & 0xff).toByte; td(25) = ((neg >> 24) & 0xff).toByte
      val Some((fmt, dw, dh, px)) = Multimodal.decodePixels(td)
      assert(fmt == "bmp" && dw == w && dh == h)
      for (p <- 0 until w * h; c <- 0 until 3)
        assert(px(3 * p + c) == gray(p), s"top-down bmp pixel $p")
    }
    // WAV PCM16: signed samples survive the LE encode/decode (incl.
    // negative values via sign extension)
    val samples = Array(-32768, -1, 0, 1, 255, -256, 32767)
    val body = new Array[Byte](2 * samples.length)
    samples.zipWithIndex.foreach { case (s, k) =>
      body(2 * k) = (s & 0xff).toByte; body(2 * k + 1) = ((s >> 8) & 0xff).toByte
    }
    val wav = Multimodal.wavPayload(1, 16000, 16, body)
    assert(Multimodal.decodePcm16(wav).exists(_.sameElements(samples)))
    // junk and 8-bit WAVs are refused, not mis-decoded
    assert(Multimodal.decodePixels("not an image".getBytes).isEmpty)
    assert(Multimodal.decodePcm16(Multimodal.wavPayload(1, 8000, 8, body)).isEmpty)
  }

  test("commercial codecs: ImageIO pixel decode exact for lossless formats") {
    val gray = (p: Int) => (p * 37 + 11) % 256
    // GIF payloads come from the hand-rolled encoder: the JDK GIF
    // *writer* shifts rows for heights 2–4 (its reader is correct),
    // so (5,3) here exercises exactly the dims ImageIO's writer mangles
    for ((w, h) <- Seq((1, 1), (5, 3), (32, 24)); fmt <- Seq("png", "gif", "tiff")) {
      val payload =
        if (fmt == "gif") Multimodal.gifPixelPayload(w, h, gray)
        else Multimodal.encodeImage(fmt, w, h, gray)
      val Some((dfmt, dw, dh, px)) = Multimodal.decodePixelsCodec(payload)
      assert(dfmt == fmt && dw == w && dh == h, s"$fmt ${w}x$h")
      // lossless entropy coding: every decoded intensity equals the
      // source value (GIF comes back palette-mapped to 3 bands)
      val bands = px.length / (w * h)
      for (p <- 0 until w * h; c <- 0 until bands)
        assert(px(bands * p + c) == gray(p), s"$fmt pixel $p band $c")
    }
    // JPEG is lossy by design: dimensions exact, content within tolerance
    val flat = Multimodal.encodeImage("jpg", 16, 16, _ => 128)
    val Some((jf, jw, jh, jpx)) = Multimodal.decodePixelsCodec(flat)
    assert(jf == "jpeg" && jw == 16 && jh == 16)
    val mean = jpx.map(_.toDouble).sum / jpx.length
    assert(math.abs(mean - 128) <= 2, s"jpeg flat-field mean $mean")
    // corrupt streams refused, not mis-decoded: valid JPEG magic with a
    // garbage body (the header-only synthetic payload) must yield None
    assert(Multimodal.decodePixelsCodec(
      Multimodal.jpegPayload(8, 8, "garbage".getBytes)).isEmpty)
    assert(Multimodal.decodePixelsCodec("not an image".getBytes).isEmpty)
    assert(Multimodal.decodePixelsCodec(Array[Byte]()).isEmpty)
  }

  test("codec media on Spark: lossless decode stats equal text-derived truth") {
    val docsDf = Tables.documents(spark, sf)
    val got = Multimodal.extractCodecFeatures(
      Multimodal.syntheticCodecMedia(docsDf)).collect().map(f => f.id -> f).toMap
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length) // every compressed payload decoded
    for ((id, text) <- docs) {
      val t = text.getBytes("UTF-8"); val len = math.max(t.length, 1)
      val w = 1 + t.length % 32; val h = 1 + t.length % 24
      var s = 0L; var s2 = 0L
      for (p <- 0 until w * h) {
        val v = if (t.isEmpty) 0 else t(p % len) & 0xff
        s += v; s2 += v.toLong * v
      }
      val f = got(id)
      val kind = (id % 3) match { case 0 => "png"; case 1 => "gif"; case _ => "tiff" }
      assert(f.kind == kind && f.width == w && f.height == h, s"doc $id meta")
      // GIF decodes to 3 replicated bands, PNG/TIFF to 1 — the mean of
      // exact integer sums is band-replication-invariant, and division
      // of exact doubles rounds the same real quotient identically
      assert(f.feat0 == s.toDouble / (w * h), s"doc $id feat0")
      assert(f.feat1 == s2.toDouble / (w * h), s"doc $id feat1")
    }
  }

  test("pixel resize: 2x2 box-average pooling is exact, incl. edges") {
    import spark.implicits._
    def mk(id: Long, fmt: String, w: Int, h: Int, vals: Array[Int]) = {
      val payload = fmt match {
        case "png" => Multimodal.encodeImage("png", w, h, vals(_))
        case "gif" => Multimodal.gifPixelPayload(w, h, vals(_))
        case _     => Multimodal.bmpPayload(w, h, vals(_))
      }
      Multimodal.MediaRow(id, fmt, payload, w, h)
    }
    val v44 = Array(10, 20, 30, 40, 50, 60, 70, 80,
                    90, 100, 110, 120, 130, 140, 150, 160)
    val v33 = Array(8, 16, 24, 32, 40, 48, 56, 64, 72)
    val rows = Seq(mk(0, "png", 4, 4, v44), mk(1, "gif", 3, 3, v33),
                   mk(2, "bmp", 4, 4, v44))
    val out = Multimodal.resizePixels(spark.createDataset(rows))
      .collect().map(f => f.id -> f).toMap
    // 4x4 -> 2x2 boxes: (10+20+50+60)/4=35 (30+40+70+80)/4=55
    //                   (90+100+130+140)/4=115 (110+120+150+160)/4=135
    for (id <- Seq(0L, 2L)) {
      val f = out(id)
      assert(f.width == 2 && f.height == 2)
      assert(f.feat0 == (35 + 55 + 115 + 135) / 4.0, s"id $id")
      assert(f.feat1 == (35.0*35 + 55.0*55 + 115.0*115 + 135.0*135) / 4.0)
    }
    // 3x3 -> 2x2 with edge boxes: full box (8+16+32+40)/4=24, right
    // edge (24+48)/2=36, bottom edge (56+64)/2=60, corner 72
    val g = out(1L)
    assert(g.width == 2 && g.height == 2)
    assert(g.feat0 == (24 + 36 + 60 + 72) / 4.0)
    // constant image resizes to the same constant (any codec)
    val const = Multimodal.resizePixels(spark.createDataset(Seq(
      mk(3, "png", 7, 5, Array.fill(35)(77))))).collect().head
    assert(const.width == 4 && const.height == 3 &&
      const.feat0 == 77.0 && const.feat1 == 77.0 * 77)
  }

  test("jpeg decode: dims exact, mean inside the DC-preservation band") {
    val docsDf = Tables.documents(spark, sf)
    val got = Multimodal.extractCodecFeatures(
      Multimodal.syntheticJpegMedia(docsDf)).collect().map(f => f.id -> f).toMap
    val docs = docsDf.select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    assert(got.size == docs.length)
    for ((id, text) <- docs) {
      val t = text.getBytes("UTF-8"); val len = math.max(t.length, 1)
      val w = 1 + t.length % 32; val h = 1 + t.length % 24
      var s = 0L
      for (p <- 0 until w * h) s += (if (t.isEmpty) 0 else t(p % len) & 0xff)
      val f = got(id)
      assert(f.kind == "jpeg" && f.width == w && f.height == h, s"doc $id meta")
      // lossy DCT moves individual pixels but block DC terms keep the
      // image mean: gate the mean, not the pixels
      assert(math.abs(f.feat0 - s.toDouble / (w * h)) <= 4.0,
        s"doc $id mean ${f.feat0} vs ${s.toDouble / (w * h)}")
      // mean-square dominates squared-mean (Jensen) for any real image
      assert(f.feat1 >= f.feat0 * f.feat0 - 1e-9, s"doc $id jensen")
    }
  }

  test("decoder fuzz: random/truncated bytes never throw or loop") {
    val rnd = new scala.util.Random(42)
    val valid = Seq[Array[Byte]](
      Multimodal.encodeImage("png", 9, 7, _ % 256),
      Multimodal.gifPixelPayload(9, 7, _ % 256),
      Multimodal.encodeImage("tiff", 9, 7, _ % 256),
      Multimodal.encodeImage("jpg", 9, 7, _ % 256),
      Multimodal.bmpPayload(9, 7, _ % 256),
      Multimodal.ppmPayload(9, 7, _ % 256),
      Multimodal.wavPayload(1, 8000, 16, Array.fill(32)(7.toByte)),
      Multimodal.wavPayload(7, 1, 8000, 8, Array.fill(32)(7.toByte)),
      Multimodal.aiffPayload(1, 22050, 16, Array.fill(32)(7.toByte)),
      Multimodal.mp4Payload("isom", 600, 99, Seq((1, 32, 32)),
        Array.fill(32)(7.toByte)))
    def everyDecoder(b: Array[Byte]): Unit = {
      Multimodal.imageDims(b); Multimodal.wavMeta(b); Multimodal.mp4Meta(b)
      Multimodal.aiffMeta(b); Multimodal.decodePcm16Aiff(b)
      Multimodal.decodePixels(b); Multimodal.decodePixelsCodec(b)
      Multimodal.decodePcm16(b); Multimodal.decodePcmMuLaw(b)
    }
    // pure random payloads
    for (_ <- 0 until 50) {
      val b = new Array[Byte](rnd.nextInt(200)); rnd.nextBytes(b)
      everyDecoder(b)
    }
    // truncations of every valid payload at random cut points
    for (v <- valid; _ <- 0 until 20) everyDecoder(v.take(rnd.nextInt(v.length)))
    // valid headers with randomly corrupted tails (size fields, box
    // types, LZW streams, DCT segments — must quarantine, not crash)
    for (v <- valid; _ <- 0 until 20) {
      val b = v.clone()
      for (_ <- 0 to rnd.nextInt(8))
        b(rnd.nextInt(b.length)) = rnd.nextInt(256).toByte
      everyDecoder(b)
    }
  }

  test("image header codecs: encode/parse round-trip, junk rejected") {
    val body = "payload bytes".getBytes("UTF-8")
    for ((w, h) <- Seq((1, 1), (640, 480), (13, 479), (639, 1))) {
      assert(Multimodal.imageDims(Multimodal.pngPayload(w, h, body))
        .contains(("png", w, h)))
      assert(Multimodal.imageDims(Multimodal.jpegPayload(w, h, body))
        .contains(("jpeg", w, h)))
      assert(Multimodal.imageDims(Multimodal.gifPayload(w, h, body))
        .contains(("gif", w, h)))
    }
    // JPEG with APP0/comment segments BEFORE the SOF still parses
    val app0 = Array(0xff, 0xe0, 0x00, 0x04, 0x4a, 0x46).map(_.toByte)
    val jfif = Array(0xff.toByte, 0xd8.toByte) ++ app0 ++
      Multimodal.jpegPayload(33, 44, body).drop(2)
    assert(Multimodal.imageDims(jfif).contains(("jpeg", 33, 44)))
    // TIFF dims via the IFD walk, against real ImageIO-written streams
    // (both the JDK's default byte order and whatever it picks)
    for ((w, h) <- Seq((1, 1), (31, 17), (640, 480))) {
      val tiff = Multimodal.encodeImage("tiff", w, h, _ % 256)
      assert(Multimodal.imageDims(tiff).contains(("tiff", w, h)), s"$w x $h")
    }
    // junk, truncation, and text bytes are rejected, not mis-parsed
    assert(Multimodal.imageDims("not an image at all".getBytes).isEmpty)
    assert(Multimodal.imageDims(Multimodal.pngPayload(9, 9, body).take(12)).isEmpty)
    assert(Multimodal.imageDims(Array[Byte]()).isEmpty)
    assert(Multimodal.imageDims(Array(0xff, 0xd8, 0xff, 0xd9).map(_.toByte)).isEmpty)
  }

  test("g711 mu-law codec: canonical expansion, format-tag dispatch") {
    // published ITU table endpoints: 0x00 -> -32124, 0x80 -> +32124,
    // both "zero" codes (0xff positive, 0x7f negative) -> 0
    assert(Multimodal.muLawToLinear(0x00) == -32124)
    assert(Multimodal.muLawToLinear(0x80) == 32124)
    assert(Multimodal.muLawToLinear(0xff) == 0)
    assert(Multimodal.muLawToLinear(0x7f) == 0)
    // monotone decreasing over the negative half (0x00..0x7f)
    for (u <- 0 until 0x7f)
      assert(Multimodal.muLawToLinear(u) < Multimodal.muLawToLinear(u + 1), s"u=$u")
    val body = Array(0x00, 0x80, 0xff, 0x13, 0xd4).map(_.toByte)
    val ulaw = Multimodal.wavPayload(7, 1, 8000, 8, body)
    assert(Multimodal.decodePcmMuLaw(ulaw).exists(_.sameElements(
      body.map(b => Multimodal.muLawToLinear(b & 0xff)))))
    // dispatch is format-tag-strict both ways: a tag-1 8-bit WAV is not
    // mu-law, a tag-7 WAV is not linear PCM
    assert(Multimodal.decodePcmMuLaw(Multimodal.wavPayload(1, 1, 8000, 8, body)).isEmpty)
    assert(Multimodal.decodePcm16(Multimodal.wavPayload(7, 1, 8000, 16, body)).isEmpty)
    // extractFeatures routes tag-7 payloads through the expansion
    import spark.implicits._
    val feats = Multimodal.extractFeatures(spark.createDataset(Seq(
      Multimodal.MediaRow(1, "ulaw", ulaw, 0, 0)))).collect()
    assert(feats.length == 1 && feats.head.kind == "ulaw")
    val lin = body.map(b => Multimodal.muLawToLinear(b & 0xff))
    assert(feats.head.feat0 == lin.map(_.toLong).sum.toDouble / lin.length)
    assert(feats.head.feat1 == lin.map(v => math.abs(v).toLong).sum.toDouble / lin.length)
  }

  test("aiff codec: 80-bit rate round-trip, big-endian samples, junk rejected") {
    // the 80-bit extended-float encode/decode is exact for every common
    // rate, including non-powers-of-two
    for (rate <- Seq(8000, 11025, 16000, 22050, 44100, 48000, 96000)) {
      val m = Multimodal.aiffMeta(
        Multimodal.aiffPayload(2, rate, 16, new Array[Byte](40)))
      assert(m.contains(Multimodal.WavMeta(2, rate, 16, 10)), s"rate $rate -> $m")
    }
    // signed big-endian samples survive (incl. negatives)
    val samples = Array(-32768, -1, 0, 1, 255, -256, 32767)
    val body = new Array[Byte](2 * samples.length)
    samples.zipWithIndex.foreach { case (s, k) =>
      body(2 * k) = ((s >> 8) & 0xff).toByte; body(2 * k + 1) = (s & 0xff).toByte
    }
    val aiff = Multimodal.aiffPayload(1, 22050, 16, body)
    assert(Multimodal.decodePcm16Aiff(aiff).exists(_.sameElements(samples)))
    // a WAV is not an AIFF and vice versa; junk rejected
    assert(Multimodal.decodePcm16Aiff(
      Multimodal.wavPayload(1, 8000, 16, body)).isEmpty)
    assert(Multimodal.decodePcm16(aiff).isEmpty)
    assert(Multimodal.aiffMeta("FORMnot an aiff file".getBytes).isEmpty)
    assert(Multimodal.aiffMeta(Array[Byte]()).isEmpty)
    assert(Multimodal.aiffMeta(aiff.take(20)).isEmpty)
  }

  test("mp4 box codec: encode/walk round-trip, junk rejected") {
    val body = "mdat payload".getBytes("UTF-8")
    val one = Multimodal.mp4Meta(
      Multimodal.mp4Payload("isom", 1000, 5000, Seq((1, 640, 360)), body))
    assert(one.contains(Multimodal.Mp4Meta("isom", 1000, 5000, 5000, 1, 640, 360)))
    // two tracks; the dimensionless (audio) track is counted but the
    // video dims come from the first track with nonzero 16.16 extent;
    // duration→ms is integer math on the movie timescale
    val two = Multimodal.mp4Meta(Multimodal.mp4Payload(
      "mp42", 600, 1234, Seq((1, 1920, 1080), (2, 0, 0)), body))
    assert(two.contains(
      Multimodal.Mp4Meta("mp42", 600, 1234, 1234L * 1000 / 600, 2, 1920, 1080)))
    // junk / truncation: refused, not mis-parsed
    assert(Multimodal.mp4Meta("not an mp4 at all".getBytes).isEmpty)
    assert(Multimodal.mp4Meta(Array[Byte]()).isEmpty)
    val good = Multimodal.mp4Payload("isom", 1000, 99, Seq((1, 64, 64)), body)
    assert(Multimodal.mp4Meta(good.take(16)).isEmpty)
    // adversarial sizes must terminate, never loop: top-bit-set box size
    // (Int-negative) and the largesize escape with a garbage 64-bit size
    val evilA = good.clone()
    evilA(20) = 0xff.toByte; evilA(21) = 0xff.toByte
    evilA(22) = 0xff.toByte; evilA(23) = 0xff.toByte
    Multimodal.mp4Meta(evilA) // terminates (clamped cursor)
    val evilB = good.clone()
    evilB(20) = 0; evilB(21) = 0; evilB(22) = 0; evilB(23) = 1 // largesize
    Multimodal.mp4Meta(evilB) // terminates (sz < hdr stops the walk)
  }

  test("video media on Spark: box-walk meta equals doc-derived truth") {
    val vids = Multimodal.decodeVideoMeta(
      Multimodal.syntheticVideo(Tables.documents(spark, sf))).collect()
    val docs = Tables.documents(spark, sf).select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toMap
    assert(vids.length == docs.size) // every payload walks
    for (v <- vids) {
      val len = docs(v.id).getBytes("UTF-8").length
      val ts = (v.id % 3) match { case 0 => 600; case 1 => 1000; case _ => 90000 }
      assert(v.brand == (if (v.id % 2 == 0) "isom" else "mp42"), s"doc ${v.id}")
      assert(v.timescale == ts && v.duration == 7L * len + 13, s"doc ${v.id}")
      assert(v.duration_ms == (7L * len + 13) * 1000 / ts, s"doc ${v.id}")
      assert(v.n_tracks == 1 + (v.id % 2).toInt, s"doc ${v.id}")
      assert(v.width == 16 * (1 + len % 80) &&
        v.height == 16 * (1 + len % 45), s"doc ${v.id}")
    }
  }

  test("content-based video frames: planted dups exact, signatures follow pixels not bytes") {
    import org.apache.spark.sql.functions._
    val docs = Tables.documents(spark, sf).select("doc_id", "text")
    val withDups = docs.unionByName(
      docs.filter(pmod(col("doc_id"), lit(25L)) === 3L)
        .select((col("doc_id") + 1000000L).as("doc_id"), col("text")))
    val frames = Multimodal.videoFramePixelSignatures(
        Multimodal.syntheticMotionVideo(withDups)).toDF()
      .select(col("id"), col("frame_idx"),
        (col("w") * col("h")).as("n_bytes"), col("checksum"))
    val pairs = Multimodal.videoDedupPairs(frames)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val planted = docs.filter(pmod(col("doc_id"), lit(25L)) === 3L)
      .select("doc_id").collect().map(_.getLong(0))
      .map(id => (id, id + 1000000L)).toSet
    assert(planted.nonEmpty && pairs == planted,
      s"expected exactly the ${planted.size} planted pairs, got ${pairs.size}")
    // signatures follow DECODED PIXELS, not container bytes: with w=5
    // each BMP row carries one padding byte — flipping it leaves the
    // signature unchanged, flipping a pixel byte changes it
    import spark.implicits._
    val frame = Multimodal.bmpPayload(5, 2, p => (37 * p + 11) % 256)
    def sigOf(body: Array[Byte]): Seq[(Int, Long)] = {
      val mp4 = Multimodal.mp4Payload("isom", 600, 40L, Seq((1, 5, 2)), body)
      Multimodal.videoFramePixelSignatures(
          Seq(Multimodal.MediaRow(1L, "mp4", mp4, 5, 2)).toDS(), sampleEvery = 1)
        .collect().map(r => (r.frame_idx, r.checksum)).toSeq.sorted
    }
    val base = sigOf(frame)
    assert(base.nonEmpty)
    val rowSize = 16 // (3*5 + 3)/4*4: 15 pixel bytes + 1 pad
    val padFlipped = frame.clone()
    padFlipped(54 + 15) = 0x55.toByte // the pad byte of the bottom row
    assert(sigOf(padFlipped) == base, "padding byte leaked into the signature")
    val pixFlipped = frame.clone()
    pixFlipped(54) = (pixFlipped(54) ^ 0x40).toByte
    assert(sigOf(pixFlipped) != base, "pixel change not reflected")
    assert(rowSize == (3 * 5 + 3) / 4 * 4)
  }

  test("wav header codec: encode/parse round-trip, junk rejected") {
    val body = "pcm sample bytes!!".getBytes("UTF-8") // 18 bytes
    for ((ch, rate, bits) <- Seq((1, 8000, 8), (2, 16000, 16), (2, 44100, 8), (1, 44100, 16))) {
      val m = Multimodal.wavMeta(Multimodal.wavPayload(ch, rate, bits, body))
      val blockAlign = ch * bits / 8
      assert(m.contains(Multimodal.WavMeta(ch, rate, bits, body.length / blockAlign)),
        s"$ch/$rate/$bits -> $m")
    }
    // an extra LIST chunk before data still parses (chunk walk, and
    // odd-size chunks advance by the word-aligned pad)
    val wav = Multimodal.wavPayload(2, 16000, 16, body)
    val list = "LIST".getBytes("US-ASCII") ++ Array[Byte](3, 0, 0, 0, 65, 66, 67, 0)
    val withList = wav.take(12) ++ list ++ wav.drop(12)
    assert(Multimodal.wavMeta(withList)
      .contains(Multimodal.WavMeta(2, 16000, 16, body.length / 4)))
    // junk, truncation, empty: rejected, not mis-parsed
    assert(Multimodal.wavMeta("RIFFnot really a wav".getBytes).isEmpty)
    assert(Multimodal.wavMeta(wav.take(20)).isEmpty)
    assert(Multimodal.wavMeta(Array[Byte]()).isEmpty)
    assert(Multimodal.wavMeta("plain text document".getBytes).isEmpty)
    // adversarial chunk size with the top bit set (Int-negative as LE32):
    // the walk must terminate, not loop — and still reject the payload
    val evil = wav.take(12) ++ "evil".getBytes("US-ASCII") ++
      Array[Byte](0x10, 0, 0, 0x80.toByte) ++ wav.drop(12)
    assert(Multimodal.wavMeta(evil).isEmpty)
  }

  test("synthetic image table: header decode recovers the declared dims") {
    val media = Multimodal.syntheticImages(Tables.documents(spark, sf))
    val decoded = Multimodal.decodeImageMeta(media).collect()
    val declared = media.collect()
    assert(decoded.length == declared.length) // every payload parses
    val byId = declared.map(m => m.id -> m).toMap
    decoded.foreach { m =>
      assert(m.width == byId(m.id).width && m.height == byId(m.id).height)
      val expectFmt = m.id % 3 match {
        case 0 => "png"; case 1 => "jpeg"; case _ => "gif"
      }
      assert(m.format == expectFmt)
    }
  }

  test("exif app1: both endians parse, offset ascii, no-app1 drops") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val base = Multimodal.jpegPayload(33, 22, Array[Byte](1, 2, 3))
    val rows = Seq(
      Multimodal.MediaRow(1L, "jpeg",
        Multimodal.withExif(base,
          Multimodal.exifApp1("camA", 33L, 6, bigEndian = false)), 33, 22),
      Multimodal.MediaRow(2L, "jpeg",
        Multimodal.withExif(base,
          Multimodal.exifApp1("b", 700L, 1, bigEndian = true)), 33, 22),
      Multimodal.MediaRow(3L, "jpeg", base, 33, 22)) // no APP1 → drops
    val got = Multimodal.exifMeta(rows.toDS()).collect()
      .map(m => m.id -> ((m.byte_order, m.make, m.exif_width, m.orientation)))
      .toMap
    assert(got.keySet == Set(1L, 2L))
    assert(got(1L) == (("II", "camA", 33L, 6L)))
    assert(got(2L) == (("MM", "b", 700L, 1L)))
  }

  test("exif app1: fill bytes and standalone markers before APP1 still parse") {
    import spark.implicits._
    import graft.multimodal.Multimodal
    val base = Multimodal.jpegPayload(33, 22, Array[Byte](1, 2, 3))
    val app1 = Multimodal.exifApp1("camA", 33L, 6, bigEndian = false)
    // real-world header prefixes the old walk misparsed: 0xFF fill
    // padding (no length field) and standalone TEM/RST markers (ditto) —
    // each would have had its next two bytes read as a segment length,
    // skipping right past the APP1
    def splice(prefix: Array[Byte]): Array[Byte] =
      base.take(2) ++ prefix ++ app1 ++ base.drop(2)
    val rows = Seq(
      // two fill bytes, then APP1's own 0xFF
      Multimodal.MediaRow(1L, "jpeg",
        splice(Array(0xff.toByte, 0xff.toByte)), 33, 22),
      // TEM (standalone) then RST3 (standalone) then APP1
      Multimodal.MediaRow(2L, "jpeg",
        splice(Array(0xff.toByte, 0x01.toByte, 0xff.toByte, 0xd3.toByte)),
        33, 22))
    val got = Multimodal.exifMeta(rows.toDS()).collect()
      .map(m => m.id -> ((m.byte_order, m.make, m.exif_width))).toMap
    assert(got == Map(1L -> (("II", "camA", 33L)), 2L -> (("II", "camA", 33L))))
  }

  test("hourly gapfill: missing hours get zero rows, forward fill steps") {
    import spark.implicits._
    def t(s: String) = java.sql.Timestamp.valueOf(s)
    // hours 00, 01, 04 observed; 02 and 03 are gaps
    val ev = Seq(
      (1L, t("2024-01-01 00:05:00"), 10.0), (2L, t("2024-01-01 00:40:00"), 5.0),
      (3L, t("2024-01-01 01:15:00"), 2.0),
      (4L, t("2024-01-01 04:59:00"), 7.0))
      .toDF("user_id", "ts", "value")
    val r = graft.streaming.Events.hourlyGapfill(ev)
      .orderBy("hour").collect()
      .map(x => (x.getTimestamp(0).toString, x.getLong(1), x.getBoolean(2),
        x.getLong(3), x.getDouble(4)))
    assert(r.toSeq == Seq(
      ("2024-01-01 00:00:00.0", 2L, false, 2L, 15.0),
      ("2024-01-01 01:00:00.0", 1L, false, 1L, 2.0),
      ("2024-01-01 02:00:00.0", 0L, true, 1L, 0.0),
      ("2024-01-01 03:00:00.0", 0L, true, 1L, 0.0),
      ("2024-01-01 04:00:00.0", 1L, false, 1L, 7.0)))
  }

  test("stateful sessionization stream emits closed sessions") {
    import spark.implicits._
    val evs = Seq(
      Events.Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00"), 1.0),
      Events.Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 00:10:00"), 2.0),
      Events.Ev(1L, java.sql.Timestamp.valueOf("2024-01-01 02:00:00"), 3.0),
      Events.Ev(2L, java.sql.Timestamp.valueOf("2024-01-01 01:00:00"), 4.0))
    val dir = graft.engine.Artifacts.scratchDir("graft_sess")
    evs.toDS().write.mode("overwrite").parquet(dir.toString)
    val stream = spark.readStream
      .schema(evs.toDS().schema).parquet(dir.toString).as[Events.Ev]
    val q = Events.sessionizeStream(stream, 30).writeStream
      .outputMode("append").format("memory").queryName("graft_sessions")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    // user 1's first session (2 events) closes when the 2h-later event
    // arrives in the same batch; open sessions stay in state
    val closed = spark.table("graft_sessions").collect()
    assert(closed.exists(r => r.getLong(0) == 1L && r.getLong(2) == 2L))
  }

  test("attribution stream: stateful credits bit-equal the batch window") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val evs = Seq(
      Events.AttEv(1L, ts(10), 7L, "view"),
      Events.AttEv(2L, ts(20), 7L, "click"),
      Events.AttEv(3L, ts(30), 7L, "purchase"),
      Events.AttEv(4L, ts(40), 8L, "purchase"),  // organic
      Events.AttEv(5L, ts(50), 7L, "purchase"),  // still click@20
      Events.AttEv(6L, ts(60), 9L, "click"),
      Events.AttEv(7L, ts(60), 9L, "purchase"))  // same-instant tie
    val dir = graft.engine.Artifacts.scratchDir("graft_att")
    // two files → two micro-batches, split at ts 40 (in-order arrival)
    evs.take(4).toDS().coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(1100)
    evs.drop(4).toDS().coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema(evs.toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir.toString).as[Events.AttEv]
    val q = Events.attributionStream(stream).writeStream
      .outputMode("append").format("memory").queryName("graft_att_credits")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0),
      if (r.isNullAt(2)) null else r.getString(2),
      if (r.isNullAt(3)) -1L else r.getLong(3),
      if (r.isNullAt(4)) -1L else r.getLong(4))
    val got = spark.table("graft_att_credits").collect().map(key).toSet
    val want = Events.lastTouchAttribution(
        evs.toDS().toDF().withColumnRenamed("event_type", "event_type"))
      .collect().map(key).toSet
    assert(got == want, s"got $got want $want")
    assert(got.contains((4L, null, -1L, -1L)), got)    // organic
    assert(got.contains((7L, "click", 6L, 0L)), got)   // same-instant tie
    assert(got.contains((5L, "click", 2L, 30L)), got)  // cross-batch state
  }

  test("burst dedup stream: per-key state carries across batches, equals batch") {
    import spark.implicits._
    def ts(s: Long) = new java.sql.Timestamp(s * 1000L)
    val evs = Seq(
      Events.BurstEv(1L, ts(100), 7L, "click"),
      Events.BurstEv(2L, ts(103), 7L, "click"),  // within 5s -> dup
      Events.BurstEv(3L, ts(103), 7L, "view"),   // other type: kept
      Events.BurstEv(4L, ts(120), 7L, "click"),  // gap: kept
      // batch 2 starts here; 5 is within 5s of 4 ACROSS the batch line
      Events.BurstEv(5L, ts(123), 7L, "click"),
      Events.BurstEv(6L, ts(124), 8L, "click"))  // other user: kept
    val dir = graft.engine.Artifacts.scratchDir("graft_burst")
    evs.take(4).toDS().coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(1100)
    evs.drop(4).toDS().coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema(evs.toDS().schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false")
      .parquet(dir.toString).as[Events.BurstEv]
    val q = Events.burstDedupStream(stream).writeStream
      .outputMode("append").format("memory").queryName("graft_burst_v")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("graft_burst_v").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(got == Map(1L -> false, 2L -> true, 3L -> false, 4L -> false,
      5L -> true, 6L -> false), got)
    // batch parity: suppressed counts per type match burstDedup
    val batch = Events.burstDedup(evs.toDS().toDF()).collect()
      .map(r => r.getString(0) -> r.getLong(2)).toMap
    val streamCounts = spark.table("graft_burst_v").collect()
      .groupBy(_.getString(2))
      .map { case (t, rs) => t -> rs.count(_.getBoolean(3)).toLong }
    assert(streamCounts == batch, s"$streamCounts vs $batch")
  }

  test("image ingest gate equals the batch image near-dup check") {
    import graft.multimodal.Multimodal
    val spark0 = spark
    import spark0.implicits._
    val all = graft.engine.Tables.documents(spark, sf)
    val media = Multimodal.syntheticCodecMedia(all)
    val corpus = media.filter(col("id") % 10 =!= 0L)
    val delta = media.filter(col("id") % 10 === 0L)
    // corpus hashes computed once (the cached side of the gate)
    val corpusHashes = Multimodal.imageHashes(corpus).toDF()
      .select(col("id"), col("ahash")).cache()
    corpusHashes.count()
    // stage the delta as 2 parquet files → 2 micro-batches
    val streamDir = graft.engine.Artifacts.scratchDir("graft_img_ingest")
    delta.toDF().repartition(2).write.mode("overwrite")
      .parquet(streamDir.toString)
    val stream = spark.readStream.schema(delta.toDF().schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    // hamming 16 keeps the cross-split verdict set non-empty at this
    // tiny SF (3-bit near-dups may all land on one side of the split)
    val q = graft.streaming.Events.imageIngestGate(stream, corpusHashes, 16)(
        v => v.collect().foreach(sink.add))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = sink.asScala.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // batch truth: delta hashes × corpus hashes at hamming <= 3
    val dh = Multimodal.imageHashes(delta).toDF()
      .select(col("id").as("new_id"), col("ahash").as("ha"))
    val expect = dh.join(corpusHashes.select(col("id").as("corpus_id"),
        col("ahash").as("hb")),
        bit_count(col("ha").bitwiseXOR(col("hb"))) <= 16)
      .select(col("new_id"), col("corpus_id"),
        bit_count(col("ha").bitwiseXOR(col("hb"))).cast("long"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got == expect && expect.nonEmpty)
    corpusHashes.unpersist()
  }

  test("blocklist ingest gate verdicts equal the batch automaton scan") {
    val terms = Seq("slow", "low", "slow join", "qqq", "spark")
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    val streamDir = graft.engine.Artifacts.scratchDir("graft_bl_ingest")
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = graft.streaming.Events.blocklistIngestGate(stream, terms)(
        v => v.collect().foreach(sink.add))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = sink.asScala
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    // batch truth through the same per-term stats operator: per-doc
    // totals derived independently of the gate's column pipeline
    val expect = docs
      .select(col("doc_id"), explode_outer(graft.functions.AhoCorasick
        .ac_matches(lower(col("text")), terms)).as("h"))
      .groupBy(col("doc_id"))
      .agg(count(col("h")).cast("long").as("n_terms"),
        coalesce(sum(col("h.cnt")), lit(0L)).as("n_hits"))
      .select(col("doc_id"), col("n_terms"), col("n_hits"),
        (col("n_terms") > 0L).as("flagged"))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getBoolean(3)))
      .toSet
    assert(got == expect && got.exists(_._4) && got.exists(!_._4))
  }

  test("lm scoring gate: streamed scores bit-equal the batch query under the frozen model") {
    val docs = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // train once in batch; cache the vocab-sized model like the image
    // gate caches corpus hashes
    val model = graft.text.TextAnalysis.bigramModel(docs).cache()
    model.count()
    val streamDir = graft.engine.Artifacts.scratchDir("graft_lm_ingest")
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = graft.streaming.Events.lmScoreIngestGate(stream, model)(
        v => v.collect().foreach(sink.add))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = sink.asScala
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    val expect = graft.text.TextAnalysis.scoreBigramSurprisal(docs, model)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expect && got.nonEmpty)
    model.unpersist()
  }

  test("backoff scoring gate: streamed level counts bit-equal the batch scorer") {
    import spark.implicits._
    val train = graft.engine.Tables.documents(spark, sf)
      .select(col("doc_id"), col("text"))
    // arriving docs: one in-distribution, one remix (backoff levels),
    // one fully unseen (pure OOV) — plus a slice of the base corpus
    val arriving = train.limit(20).unionByName(Seq(
      (9800001L, "spark zzz join qqq merge zzz"),
      (9800002L, "zzz yyy xxx zzz yyy")).toDF("doc_id", "text"))
    val (s3, s2, s1, oov) =
      graft.text.TextAnalysis.trigramBackoffModel(train)
    Seq(s3, s2, s1).foreach { m => m.cache(); m.count() }
    val streamDir = graft.engine.Artifacts.scratchDir("graft_bo_ingest")
    arriving.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = graft.streaming.Events.backoffScoreIngestGate(
        stream, s3, s2, s1, oov)(v => v.collect().foreach(sink.add))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4),
        r.getLong(5), r.getLong(6), r.getDouble(7))
    val got = sink.asScala.map(key).toSet
    val expect = graft.text.TextAnalysis.scoreTrigramBackoff(
      arriving, s3, s2, s1, oov).collect().map(key).toSet
    assert(got == expect && got.nonEmpty)
    // the OOV-only doc scores every trigram at the OOV constant
    val pureOov = got.find(_._1 == 9800002L).get
    assert(pureOov._6 == pureOov._2 && pureOov._3 == 0L)
    Seq(s3, s2, s1).foreach(_.unpersist())
  }

  test("langid gate: streamed predictions bit-equal the batch scorer") {
    import spark.implicits._
    val base = graft.engine.Tables.documents(spark, sf)
    val seedDocs = Fixtures.ml.df(spark, sf)
    val (model, den) = graft.text.TextAnalysis.langidNbModel(
      seedDocs, col("lang") === "en" || col("source") === "planted_ml")
    Seq(model, den).foreach { m => m.cache(); m.count() }
    // arriving shard: base slice + two multilingual rows (one claimed
    // label wrong — the audit must flag it at ingest)
    val arriving = base.limit(15).unionByName(Seq(
      (9800011L, "быстрый поиск дубликатов в корпусе данных", "ru", "s", 41L),
      (9800012L, "한국어 토큰 분석 테스트 문서 집합", "en", "s", 17L))
      .toDF("doc_id", "text", "lang", "source", "n_chars"))
    val streamDir = graft.engine.Artifacts.scratchDir("graft_lid_ingest")
    arriving.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream.schema(arriving.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = graft.streaming.Events.langidIngestGate(
        stream, model, den)(v => v.collect().foreach(sink.add))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3), r.getBoolean(4))
    val got = sink.asScala.map(key).toSet
    val expect = graft.text.TextAnalysis.scoreLangidNb(
      arriving, model, den).collect().map(key).toSet
    assert(got == expect && got.nonEmpty)
    // the mislabeled hangul doc flags at ingest; the true-ru one passes
    assert(got.find(_._1 == 9800012L).get._3 == "ko")
    assert(!got.find(_._1 == 9800012L).get._5)
    assert(got.find(_._1 == 9800011L).get._5)
    Seq(model, den).foreach(_.unpersist())
  }

  test("rouge pool gate: admitted instructions grow the pool; per-batch bit-parity") {
    import spark.implicits._
    val seed = Seq(1 -> "explain how a merge join works",
      2 -> "summarize the given document in one sentence")
    // batch 1 carries a NOVEL instruction; batch 2 carries its near-twin
    // (one-word substitution) — the twin must be rejected against the
    // GROWN pool even though the seed never contained either
    val b1 = Seq(
      (101L, "describe the spark shuffle service", "en", "s", 1L),
      (102L, "explain how a hash join works", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b2 = Seq(
      (201L, "describe the spark shuffle machinery", "en", "s", 1L),
      (202L, "list three kinds of window functions", "en", "s", 1L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.engine.Artifacts.scratchDir("graft_rouge_ingest")
    b1.coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(1100) // distinct mtimes pin file→batch order
    b2.coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false").parquet(dir.toString)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      Array[org.apache.spark.sql.Row]]()
    val q = graft.streaming.Events.rougePoolIngestGate(stream, seed)(
      v => batches.add(v.collect())).trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val seen = batches.asScala.toSeq.filter(_.nonEmpty)
    assert(seen.map(_.length).sum == 4)
    def key(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(2),
      r.getLong(3), r.getLong(4), r.getBoolean(5))
    // replay: batch-by-batch rougeDedup with a manually grown pool, in
    // the OBSERVED batch order — streamed verdicts must be bit-equal
    val texts = Map(101L -> "describe the spark shuffle service",
      102L -> "explain how a hash join works",
      201L -> "describe the spark shuffle machinery",
      202L -> "list three kinds of window functions")
    var pool = seed
    seen.foreach { rows =>
      val ids = rows.map(_.getLong(0)).sorted
      val df = ids.map(id => (id, texts(id), "en", "s", 1L))
        .toSeq.toDF("doc_id", "text", "lang", "source", "n_chars")
      val want = graft.text.TextAnalysis.rougeDedup(df, pool, 24)
        .collect().map(key).toSet
      assert(rows.map(key).toSet == want, s"batch $ids diverged")
      var nextId = pool.map(_._1).max
      val admitted = rows.filter(!_.getBoolean(5)).map(_.getLong(0)).sorted
      pool = pool ++ admitted.map { id => nextId += 1; (nextId, texts(id)) }
    }
    val all = seen.flatten.map(r => r.getLong(0) -> r.getBoolean(5)).toMap
    // the hash-join twin of seed #1 rejects in EITHER arrival order
    assert(all(102L), "near-twin of a seed instruction must reject")
    // exactly one of the shuffle-service pair admits: whichever arrived
    // first grew the pool and blocked the other
    assert(all(101L) ^ all(201L), s"pool growth broken: $all")
    assert(!all(202L), "novel instruction must admit")
  }

  test("dpo pair gate: election grows across batches, final set equals batch") {
    import spark.implicits._
    // batch 1 seeds two prompts; batch 2 delivers a BETTER completion
    // for prompt one (chosen flips) and the second candidate that makes
    // prompt two electable at all
    val b1 = Seq(
      (11L, "p one ### aa aa aa aa", "en", "s", 1L),   // 2500
      (12L, "p one ### bb cc", "en", "s", 1L),         // 10000
      (13L, "p two ### dd dd dd", "en", "s", 1L))      // 3333
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val b2 = Seq(
      (21L, "p one ### ee ff gg", "en", "s", 1L),      // 10000 tie, higher id
      (22L, "p two ### hh ii jj kk", "en", "s", 1L))   // 10000
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.engine.Artifacts.scratchDir("graft_dpo_ingest")
    b1.coalesce(1).write.mode("append").parquet(dir.toString)
    Thread.sleep(1100)
    b2.coalesce(1).write.mode("append").parquet(dir.toString)
    val stream = spark.readStream.schema(b1.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false").parquet(dir.toString)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      Array[org.apache.spark.sql.Row]]()
    val q = graft.streaming.Events.dpoPairIngestGate(stream)(
      v => batches.add(v.collect())).trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5), r.getLong(6))
    val seen = batches.asScala.toSeq
    assert(seen.nonEmpty)
    // after batch 1 only prompt one is electable
    val first = seen.head.map(key).toSet
    assert(first == Set(("p one", 2L, 12L, 10000L, 11L, 2500L, 7500L)), first)
    // the FINAL emission is bit-equal to the batch election on the union
    val union = b1.unionByName(b2)
    val want = graft.pipeline.Pipeline.dpoPairs(union)
      .collect().map(key).toSet
    assert(seen.last.map(key).toSet == want, seen.last.toSeq)
    // chosen for p one stayed id 12 on the tie (lower id wins)
    assert(want.exists { case (p, _, ci, _, _, _, _) =>
      p == "p one" && ci == 12L })
    assert(want.exists { case (p, n, ci, cs, _, _, _) =>
      p == "p two" && n == 2L && ci == 22L && cs == 10000L })
  }

  test("doremi gate: weights from folded state bit-equal batch on the union") {
    import spark.implicits._
    val docs = graft.engine.Tables.documents(spark, sf)
      .select("doc_id", "text", "lang", "source", "n_chars")
    val dir = graft.engine.Artifacts.scratchDir("graft_doremi_ingest")
    // three arrival shards in a scrambled order
    (0 to 2).foreach { i =>
      docs.filter(pmod(col("doc_id") + 1, lit(3)) === i)
        .coalesce(1).write.mode("append").parquet(dir.toString)
      Thread.sleep(1100)
    }
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1")
      .option("latestFirst", "false").parquet(dir.toString)
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[
      Array[org.apache.spark.sql.Row]]()
    val q = graft.streaming.Events.doremiIngestGate(stream, 3, 10000L)(
      v => batches.add(v.collect())).trigger(
      org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val seen = batches.asScala.toSeq
    assert(seen.size >= 2, s"expected multiple batches, got ${seen.size}")
    def key(r: org.apache.spark.sql.Row) = (r.getString(0), r.getLong(1),
      r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5))
    // final emission == batch doremi on the whole corpus, bit for bit
    val want = graft.pipeline.Pipeline.doremiWeights(docs, 3, 10000L)
      .collect().map(key).toSet
    assert(seen.last.map(key).toSet == want)
    // intermediate emissions are themselves batch-equal on their prefix
    val prefix = docs.filter(pmod(col("doc_id") + 1, lit(3)) === 0)
    val wantFirst = graft.pipeline.Pipeline.doremiWeights(prefix, 3, 10000L)
      .collect().map(key).toSet
    assert(seen.head.map(key).toSet == wantFirst)
  }

  test("LM fold ingest gate: the published model is maintained " +
      "incrementally, every intermediate state == batch counting") {
    import spark.implicits._
    val docs = Seq(
      (1L, "a b c a b"), (2L, "c d e"), (3L, "a b x"),
      (4L, "y z a b"), (5L, "d e f"), (6L, "q r s"))
      .toDF("doc_id", "text")
    val streamDir = graft.engine.Artifacts.scratchDir("graft_lmfold_in")
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val shardRoot = graft.engine.Artifacts.scratchDir("graft_lmfold_shards").toString
    val name = "spec_lmgate_" + System.nanoTime()
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val states = new java.util.concurrent.ConcurrentLinkedQueue[
      Set[(String, String, Long)]]()
    val q = graft.streaming.Events.lmFoldIngestGate(stream, shardRoot, name)(
        st => states.add(st.collect()
          .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSet))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val snaps = states.asScala.toSeq
    assert(snaps.length == 3)
    // every snapshot equals batch counting over the shards published
    // so far — the stored model was correct after EVERY micro-batch
    val shardDirs = Option(new java.io.File(shardRoot).listFiles)
      .toSeq.flatten.filter(_.getName.startsWith("shard_"))
      .map(_.toString).sorted
    assert(shardDirs.length == 3)
    snaps.zipWithIndex.foreach { case (snap, i) =>
      val sofar = shardDirs.take(i + 1)
        .map(sd => spark.read.parquet(s"$sd/documents.parquet"))
        .reduce(_ unionByName _)
      val expect = graft.text.TextAnalysis.bigramCountState(sofar)
        .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
        .toSet
      assert(snap == expect, s"snapshot $i diverged from batch counting")
    }
    assert(snaps.last.nonEmpty)
    // the ingest path FOLDED (delta-sized) rather than re-mined: the
    // final publication's provenance says fold, not full
    assert(graft.text.TextAnalysis.bigramFoldLineage(name).provenance
      .exists(_.startsWith("fold +1 shard(s) onto 2")))
  }

  test("boilerplate strip gate: streamed cleanups bit-equal the batch serve half") {
    import spark.implicits._
    // a corpus with multi-line docs: known boilerplate + unique bodies
    val docs = Seq(
      (1L, "accept cookies\nalpha body one"),
      (2L, "accept cookies\nbeta body two\nfooter bar"),
      (3L, "gamma body three\nfooter bar"),
      (4L, "accept cookies"),
      (5L, "delta body five\n\ntail")).toDF("doc_id", "text")
    // detect once in batch, cache the model-sized list
    val boiler = graft.text.TextAnalysis.boilerplateLines(docs, 2).cache()
    boiler.count()
    val streamDir = graft.engine.Artifacts.scratchDir("graft_bp_ingest")
    docs.repartition(3).write.mode("overwrite").parquet(streamDir.toString)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(streamDir.toString)
    val sink = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.Row]()
    val q = graft.streaming.Events.boilerplateIngestGate(stream, boiler)(
        v => v.collect().foreach(sink.add))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    import scala.jdk.CollectionConverters._
    val got = sink.asScala
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    val expect = graft.text.TextAnalysis.stripKnownBoilerplate(docs, boiler)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3)))
      .toSet
    assert(got == expect && got.nonEmpty)
    // frozen-list semantics: EVERY copy goes, keeper included — doc 1
    // loses the banner its corpus-wide dedup twin would have kept
    assert(got.contains((1L, 2L, 1L, "alpha body one")))
    assert(got.contains((4L, 1L, 0L, "")))
    assert(got.contains((5L, 3L, 3L, "delta body five\n\ntail")))
    boiler.unpersist()
  }

  test("streaming exact dedup: survivor set == batch min-per-content, bit parity") {
    val got = graft.streaming.Events.runDedupStream(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = graft.engine.Tables.documents(spark, sf)
      .groupBy(xxhash64(col("text")).as("key"))
      .agg(min(col("doc_id")).as("survivor"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // order-insensitive min-monoid state ⇒ the streamed survivor set is
    // IDENTICAL to the batch election, across real multi-batch state
    assert(got == batch && got.nonEmpty)
  }

  test("streaming token-budget monitor: totals bit-equal batch, verdicts consistent") {
    import graft.streaming.Events
    val budgets = Map("src0" -> 30000L, "src1" -> 1000L)
    val updates = Events.runTokenBudgetStream(spark, sf, budgets, 2000000000L)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2),
        r.getBoolean(3)))
    assert(updates.nonEmpty)
    // every emitted update's verdict is exactly total > budget
    updates.foreach { case (src, tot, _, ex) =>
      assert(ex == (tot > budgets.getOrElse(src, 2000000000L)),
        s"verdict drift for $src at $tot")
    }
    // totals are monotone per source; the final update (max n_docs)
    // must be BIT-EQUAL to the batch aggregate — order-insensitive sum
    // state, however the stream micro-batched
    val finals = updates.groupBy(_._1).map { case (src, us) =>
      val last = us.maxBy(_._3)
      src -> ((last._2, last._3))
    }
    val batch = graft.engine.Tables.documents(spark, sf)
      .groupBy(col("source"))
      .agg(sum(graft.text.TextAnalysis.bpeTokenCount(col("text"))).as("t"),
        count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2))))
      .toMap
    assert(finals == batch, s"stream=$finals batch=$batch")
    // the capped source actually flipped mid-stream, and multi-batch
    // state was really exercised (more updates than sources)
    assert(updates.exists(u => u._1 == "src1" && u._4))
    assert(updates.length > batch.size)
  }

  test("streaming ingest gate equals the batch cross-corpus dedup") {
    val got = graft.streaming.Events.runNearDupIngest(spark, sf, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val all = spark.read.parquet(s"$sf/documents.parquet")
    val expect = graft.dedup.Dedup.minhashLshAgainst(
        all.filter(pmod(col("doc_id"), lit(10L)) === 0L),
        all.filter(pmod(col("doc_id"), lit(10L)) =!= 0L), 3, 64, 32, 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    // per-batch verdicts accumulate to exactly the one-shot batch result
    // (the gate is stateless across batches: each doc's bands live in
    // its own micro-batch)
    assert(got == expect, s"stream=$got batch=$expect")
  }

  test("ingest gate drops only its own caches, not other workloads'") {
    // an unrelated workload's cache in the same session: the gate's
    // per-batch cleanup must unpersist exactly its own candidate frame
    // (a catalog.clearCache() here once caused a recompute storm for
    // every cohabiting workload)
    val other = spark.read.parquet(s"$sf/customer.parquet").cache()
    other.count() // materialize
    val cachedBefore = spark.sparkContext.getPersistentRDDs.size
    assert(cachedBefore >= 1)
    graft.streaming.Events.runNearDupIngest(spark, sf, 0.5).collect()
    // the unrelated cache survived...
    assert(spark.sparkContext.getPersistentRDDs.size >= 1)
    assert(other.storageLevel.useMemory, "unrelated cache was evicted")
    // ...and the gate's own per-batch caches did not accrete
    assert(spark.sparkContext.getPersistentRDDs.size <= cachedBefore,
      s"gate leaked caches: ${spark.sparkContext.getPersistentRDDs.size} > $cachedBefore")
    other.unpersist(blocking = true)
  }

  test("stream-stream view->click join matches the batch join") {
    import spark.implicits._
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    val views = Seq(
      (1L, ts("2024-01-01 00:00:00"), 0.0),
      (1L, ts("2024-01-01 02:00:00"), 0.0),
      (2L, ts("2024-01-01 00:30:00"), 0.0)).toDF("user_id", "ts", "value")
    val clicks = Seq(
      (1L, ts("2024-01-01 00:40:00"), 5.0),  // joins view@00:00 (40min)
      (1L, ts("2024-01-01 02:10:00"), 7.0),  // joins view@02:00 only
      (2L, ts("2024-01-01 03:00:00"), 9.0),  // view 2.5h earlier: no match
      (3L, ts("2024-01-01 01:00:00"), 1.0)). // no view at all
      toDF("user_id", "ts", "value")
    val (vDir, cDir) = (
      graft.engine.Artifacts.scratchDir("graft_v").toString,
      graft.engine.Artifacts.scratchDir("graft_c").toString)
    views.write.mode("overwrite").parquet(vDir)
    clicks.write.mode("overwrite").parquet(cDir)
    val q = graft.streaming.Events.viewClickJoinStream(
        spark.readStream.schema(views.schema).parquet(vDir),
        spark.readStream.schema(clicks.schema).parquet(cDir), 60)
      .writeStream.outputMode("append").format("memory")
      .queryName("graft_vc")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val got = spark.table("graft_vc")
      .select(col("c_user"), col("c_value"), col("v_ts")).collect()
      .map(r => (r.getLong(0), r.getDouble(1), r.getTimestamp(2).toString))
      .toSet
    val expect = Set(
      (1L, 5.0, "2024-01-01 00:00:00.0"),
      (1L, 7.0, "2024-01-01 02:00:00.0"))
    assert(got == expect, got.toString)
  }

  test("grok-style log reader extracts typed columns") {
    val dir = graft.engine.Artifacts.scratchDir("graft_log")
    java.nio.file.Files.writeString(dir.resolve("app.log"),
      """2024-01-01 10:00:01 INFO  starting up
        |2024-01-01 10:00:02 ERROR disk full
        |""".stripMargin)
    val df = graft.sources.Sources.readLog(spark, dir.toString,
      """^(\S+ \S+) (\w+)\s+(.*)$""", Seq("ts" -> 1, "level" -> 2, "msg" -> 3))
    val rows = df.collect()
    assert(rows.length == 2)
    assert(rows.map(_.getAs[String]("level")).toSet == Set("INFO", "ERROR"))
  }

  test("schema file reader maps hillview kinds") {
    val tmp = graft.engine.Artifacts.scratchDir("graft_schema").resolve("kinds.schema")
    java.nio.file.Files.writeString(tmp,
      """[{"name":"c1","kind":"Integer"},{"name":"c2","kind":"String"},{"name":"c3","kind":"Date"}]""")
    val st = graft.sources.Sources.readSchemaFile(tmp.toString)
    assert(st.fields.map(_.name).sameElements(Array("c1", "c2", "c3")))
    assert(st("c1").dataType == org.apache.spark.sql.types.IntegerType)
    assert(st("c3").dataType == org.apache.spark.sql.types.TimestampType)
  }

  test("file sizes sketch counts glob matches") {
    val (n, bytes) = graft.sources.Sources.fileSizes(spark, s"$sf/*.parquet")
    assert(n == 10 && bytes > 0)
  }

  test("parse errors sketch counts corrupt JSON records") {
    val dir = graft.engine.Artifacts.scratchDir("graft_json")
    java.nio.file.Files.writeString(dir.resolve("data.json"),
      """{"a": 1, "b": "x"}
        |not valid json at all
        |{"a": 2, "b": "y"}
        |""".stripMargin)
    val df = spark.read
      .option("columnNameOfCorruptRecord", "_corrupt_record")
      .schema("a INT, b STRING, _corrupt_record STRING")
      .json(dir.toString)
    val errs = graft.sources.Sources.parseErrors(df).head().getLong(0)
    assert(errs == 1)
  }

  test("csv round-trip preserves data") {
    val li = Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_quantity", "l_returnflag").limit(100)
    val dir = graft.engine.Artifacts.scratchDir("graft_csv").toString
    graft.sources.Sources.writeCsv(li, dir)
    val back = spark.read.option("header", "true").option("inferSchema", "true").csv(dir)
    assert(back.count() == 100)
    assert(back.columns.sameElements(li.columns))
  }

  test("JS program gestures run on streams bit-equal to batch") {
    // gestures are plain expressions, so the full-program tier (loops,
    // user functions) applies to streaming frames unchanged — the
    // stateless map/filter story a streaming ingest pipeline needs
    import org.apache.spark.sql.functions._
    val mapJs = """function map(row) {
      var c = row.text;
      var acc = 0;
      for (var i = 0; i < c.length; i++) {
        acc = (acc + (i + 1) * c.charCodeAt(i)) % 1000003;
      }
      return acc;
    }"""
    val filterJs = """function filter(row) {
      var n = row.doc_id;
      var s = 0;
      while (n > 0) { s = s + n % 10; n = Math.floor(n / 10); }
      return s % 2 == 0;
    }"""
    def gestures(df: org.apache.spark.sql.DataFrame) =
      graft.functions.JsGesture.jsFilter(
        graft.functions.JsGesture.withJsColumnTyped(df, "acc", mapJs,
          org.apache.spark.sql.types.DoubleType), filterJs)
        .select(col("doc_id"), col("acc"))
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val batch = gestures(docs).collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    val streamDir = graft.engine.Artifacts.scratchDir("graft_js_stream")
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      streamDir.resolve("documents.parquet"))
    val schema = spark.read.parquet(s"$sf/documents.parquet").schema
    val raw = spark.readStream.schema(schema).parquet(streamDir.toString)
      .select(col("doc_id"), col("text"))
    val q = gestures(raw).writeStream
      .outputMode("append").format("memory").queryName("graft_js_gesture")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow()).start()
    q.awaitTermination()
    val streamed = spark.table("graft_js_gesture").collect()
      .map(r => (r.getLong(0), r.getDouble(1))).toSet
    assert(streamed == batch && batch.nonEmpty,
      s"stream ${streamed.size} rows vs batch ${batch.size}")
  }

  test("CDC merge ingest gate: every post-batch snapshot equals the " +
      "one-shot merge of the log so far") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val base = Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v")
    val ms = org.apache.spark.sql.execution.streaming.runtime
      .MemoryStream[(Long, String, String, Long)]
    val feed = ms.toDF().toDF("k", "v", "op", "seq")
    val snaps = new java.util.concurrent.ConcurrentLinkedQueue[
      Set[(Long, String)]]()
    val q = graft.streaming.Events.cdcMergeIngestGate(feed, base, Seq("k"))(
        s => snaps.add(s.collect()
          .map(r => (r.getLong(0), r.getString(1))).toSet))
      .start()
    // CDC-log order: seq increases across batches (binlog delivery)
    val batches = Seq(
      Seq((1L, "a1", "U", 1L), (2L, "b", "D", 2L)),
      Seq((9L, "new", "I", 3L), (1L, "a2", "U", 4L)),
      Seq((3L, "c", "D", 5L), (2L, "b2", "I", 6L)))
    batches.foreach { b => ms.addData(b); q.processAllAvailable() }
    q.stop()
    import scala.jdk.CollectionConverters._
    val got = snaps.asScala.toSeq
    assert(got.length == 3)
    got.zipWithIndex.foreach { case (snap, i) =>
      val log = batches.take(i + 1).flatten
        .toDF("k", "v", "op", "seq")
      val expect = graft.pipeline.Cdc.mergeApply(base, log, Seq("k"))
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet
      assert(snap == expect, s"snapshot $i diverged from one-shot merge")
    }
    assert(got.last == Set((1L, "a2"), (2L, "b2"), (9L, "new")))
  }
}

object StreamingSpec {
  /** Holds the gated rows of the memo-with-progression spec; tasks of a
    * local master share the driver JVM, so they see the same latch. */
  val gate = new java.util.concurrent.CountDownLatch(1)
}
