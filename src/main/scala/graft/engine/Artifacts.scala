package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's write-once artifact layer. Every stored model (the dedup
  * cluster map, the LM and boilerplate models, the folded states, the PQ
  * index, the fixture and shard input sets) is declared as one
  * [[Artifacts.Lineage]], and only this object knows the lineage dir
  * layout, the fingerprint format, the build stamps and the marker and
  * provenance files. An artifact is a parquet dataset that is EXPENSIVE
  * to mine and cheap to serve; the layer guarantees:
  *
  *  - **mine once per identity**: a fingerprint covers the input's file
  *    listing, the mining parameters, and a BYTECODE stamp of every class
  *    that shapes the builder closure — so a mutated input, changed
  *    params, or a recompiled mining algorithm re-mines, and nothing
  *    else does;
  *  - **atomic publication**: data is written to a hidden temp dir and
  *    ATOMIC_MOVEd into a fingerprint-addressed slot, and the
  *    `_FINGERPRINT` marker is written LAST (itself via temp +
  *    ATOMIC_MOVE). A reader can never list a half-written dataset; a
  *    crash mid-publish leaves the previous publication intact and the
  *    new data an unreferenced orphan;
  *  - **cross-JVM safety**: fingerprint-addressed data dirs mean a
  *    concurrent builder of a DIFFERENT fingerprint never touches bytes
  *    a reader is scanning, and a same-fingerprint race is resolved by
  *    the atomic move (the loser serves the winner's copy). Within a JVM
  *    every serve holds this object's monitor. Superseded datasets and
  *    sets are GC'd best-effort with a grace period.
  *
  * The artifact root ([[graft.sources.Sources.rtDir]]) is configurable
  * via SPARK_GRAFT_RT_DIR — on a real cluster it must point at the
  * shared store so every session serves the same published model.
  */
object Artifacts {

  /** Serve the artifact under `dir` if its published fingerprint equals
    * `fp`; otherwise build, publish atomically, and serve.
    */
  def serveOrBuild(spark: SparkSession, dir: String, fp: String)(
      build: => DataFrame): DataFrame = {
    val data = java.nio.file.Paths.get(dir, s"map_${md5Hex(fp)}.parquet")
    this.synchronized {
      val fresh = readIfExists(java.nio.file.Paths.get(dir, "_FINGERPRINT"))
        .contains(fp) && java.nio.file.Files.exists(data)
      if (!fresh) publish(dir, data, fp, build)
    }
    spark.read.parquet(data.toString)
  }

  /** The atomic publication protocol (see the object doc) for a
    * single-dataset artifact. Multi-dataset artifacts (e.g. the folded
    * cluster map's map + band indexes) compose the pieces:
    * [[publishDataset]] for each dataset, then the marker LAST
    * ([[Lineage.commit]]) — a crash anywhere before the marker leaves
    * the previous publication intact.
    */
  private def publish(dir: String, data: java.nio.file.Path, fp: String,
      build: => DataFrame): Unit = {
    publishDataset(dir, data, build)
    publishMarker(dir, fp)
    gcSuperseded(dir, Seq(data))
  }

  /** Write a dataset to a hidden temp dir and ATOMIC_MOVE it into its
    * fingerprint-addressed slot. `partitionBy` hive-partitions the
    * dataset (e.g. the folded PQ index's per-cell code layout — the
    * partition pruning survives the atomic move). */
  def publishDataset(dir: String, data: java.nio.file.Path,
      build: => DataFrame, partitionBy: Seq[String] = Nil): Unit =
    publishSlot(dir, data)(tmp => build.write.mode("overwrite")
      .partitionBy(partitionBy: _*).parquet(tmp.toString))

  /** Run `write` into a hidden temp dir, then ATOMIC_MOVE it into the
    * fingerprint-addressed slot `data`. */
  private def publishSlot(dir: String, data: java.nio.file.Path)(
      write: java.nio.file.Path => Unit): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val nonce = java.lang.Long.toHexString(System.nanoTime())
    val tmp = Paths.get(dir, s".tmp_$nonce")
    write(tmp)
    try Files.move(tmp, data, StandardCopyOption.ATOMIC_MOVE)
    catch {
      // the fingerprint-addressed slot is already populated (concurrent
      // same-fingerprint publish, or a surviving data dir behind a
      // dropped marker) — same fingerprint ⇒ equivalent content, keep
      // the existing copy. rename(2) surfaces this as FileAlreadyExists
      // for files and DirectoryNotEmpty OR a plain FileSystemException
      // ("Directory not empty") for dirs.
      case e: java.nio.file.FileSystemException if Files.exists(data) =>
        deleteRecursively(tmp.toFile)
      case e: java.nio.file.FileSystemException =>
        deleteRecursively(tmp.toFile); throw e
    }
  }

  /** Marker-last publication step (temp file + ATOMIC_MOVE), plus the
    * snapshot-log append ([[snapshotLog]]). */
  private def publishMarker(dir: String, fp: String): Unit = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    val mtmp = Paths.get(dir, s".marker_${java.lang.Long.toHexString(System.nanoTime())}")
    Files.write(mtmp, fp.getBytes("UTF-8"))
    Files.move(mtmp, Paths.get(dir, "_FINGERPRINT"),
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    logSnapshot(dir, fp)
  }

  /** How many SUPERSEDED publications the GC retains per lineage for
    * time travel, beyond the current one (default 0 = grace-window-only,
    * the pre-snapshot behavior). Configurable via
    * SPARK_GRAFT_RETAIN_SNAPSHOTS on a shared store. Time travel reads
    * map datasets only; a superseded input set always gets just the
    * grace window. */
  @volatile private[graft] var retainOverride: Option[Int] = None
  private def retainSnapshots: Int = retainOverride.getOrElse(
    sys.env.getOrElse("SPARK_GRAFT_RETAIN_SNAPSHOTS", "0").toInt)

  /** Append this publication to the lineage's snapshot log: one
    * `ts\tmd5` line in `_SNAPSHOTS` (skipped when re-publishing the
    * current version) plus the full marker content under
    * `_snapshots/<md5>`, so a superseded publication stays resolvable —
    * its dataset name is `map_<md5>.parquet` for every map-shaped
    * artifact, and multi-dataset markers (the PQ index) re-resolve via
    * [[snapshotMarker]] + [[parseFoldMarker]]. Best-effort like GC: the
    * log is operational metadata, never a correctness gate. */
  private def logSnapshot(dir: String, content: String): Unit = {
    import java.nio.file.{Files, Paths, StandardOpenOption}
    val md5 = md5Hex(content)
    val side = Paths.get(dir, "_snapshots")
    Files.createDirectories(side)
    if (!Files.exists(side.resolve(md5)))
      Files.write(side.resolve(md5), content.getBytes("UTF-8"))
    if (!snapshotLog(dir).lastOption.map(_._2).contains(md5))
      Files.write(Paths.get(dir, "_SNAPSHOTS"),
        s"${System.currentTimeMillis()}\t$md5\n".getBytes("UTF-8"),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
  }

  /** The lineage's publication history, oldest first: (epochMillis,
    * version md5). The dataset of a version may or may not still be on
    * disk — [[serveSnapshot]] answers that. */
  def snapshotLog(dir: String): Seq[(Long, String)] = {
    val p = java.nio.file.Paths.get(dir, "_SNAPSHOTS")
    if (!java.nio.file.Files.exists(p)) Nil
    else new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      .linesIterator.flatMap(_.split("\t", 2) match {
        case Array(ts, m) if ts.forall(_.isDigit) && ts.nonEmpty =>
          Some(ts.toLong -> m)
        case _ => None
      }).toSeq
  }

  /** The full marker content of a logged version, if recorded. */
  def snapshotMarker(dir: String, md5: String): Option[String] =
    readIfExists(java.nio.file.Paths.get(dir, "_snapshots", md5))

  /** Time travel: read a logged version's map dataset if it still
    * exists (current, inside the GC grace window, or within the
    * retention count). None once collected. */
  def serveSnapshot(spark: SparkSession, dir: String,
      md5: String): Option[DataFrame] = {
    val data = java.nio.file.Paths.get(dir, s"map_$md5.parquet")
    if (java.nio.file.Files.exists(data))
      Some(spark.read.parquet(data.toString))
    else None
  }

  /** Dataset dirs the GC/invalidate sweeps recognize: fingerprint-
    * addressed maps, per-shard band and code indexes and published
    * input sets, plus the pre-r15 fixed-name map (so upgraded artifact
    * roots don't carry it forever). */
  private def isDatasetDir(f: java.io.File): Boolean =
    f.isDirectory && (f.getName.startsWith("map_") ||
      f.getName.startsWith("bands_") || f.getName.startsWith("codes_") ||
      f.getName.startsWith("set_") || f.getName == "map.parquet")

  /** GC superseded dataset dirs not in `keep`, with a grace period
    * measured from SUPERSESSION (not publication): the first publish
    * that supersedes a dataset only stamps it (a hidden marker file
    * inside the dir — parquet readers skip dotfiles), and a LATER
    * publish deletes it once the stamp is 10+ minutes old — so an
    * in-flight reader of a long-lived old publication still gets its
    * grace window. Versions inside the snapshot-retention window
    * ([[retainSnapshots]]) are treated as keep — stamp CLEARED, never
    * deleted — so retention beats the grace clock by construction, and
    * a version falling out of retention starts its grace clock only
    * then. Best-effort: garbage lingers until the next publish on the
    * same lineage. */
  def gcSuperseded(dir: String, keep: Seq[java.nio.file.Path]): Unit = {
    val now = System.currentTimeMillis()
    val cutoff = now - 10 * 60 * 1000L
    // the last `retainSnapshots` SUPERSEDED versions (beyond whatever
    // is current, which `keep` already covers) stay readable for time
    // travel — their map datasets join the keep set
    val retained = snapshotLog(dir).takeRight(retainSnapshots + 1)
      .map { case (_, m) => java.nio.file.Paths.get(dir, s"map_$m.parquet") }
    val keepSet = keep.toSet ++ retained
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(isDatasetDir)
      .foreach { f =>
        val stamp = new java.io.File(f, ".graft_superseded")
        if (keepSet.contains(f.toPath)) {
          // re-current (same-fingerprint re-publish): clear any stale
          // supersession stamp so a future supersession restarts the clock
          if (stamp.exists) { stamp.delete(); () }
        } else if (stamp.exists && stamp.lastModified < cutoff)
          deleteRecursively(f)
        else if (!stamp.exists) { stamp.createNewFile(); () }
      }
  }

  /** Drop a lineage entirely (marker first, then data) so the next call
    * re-mines from scratch — the operational rebuild knob. */
  def invalidate(dir: String): Unit = {
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_FINGERPRINT"))
    java.nio.file.Files.deleteIfExists(
      java.nio.file.Paths.get(dir, "_SNAPSHOTS"))
    deleteRecursively(new java.io.File(dir, "_snapshots"))
    Option(new java.io.File(dir).listFiles).toSeq.flatten
      .filter(isDatasetDir)
      .foreach(deleteRecursively)
  }

  /** One stored model's lineage: one dir under the artifact root per
    * (`prefix`, logical `key`), and the class files (`/pkg/Cls.class`
    * resource paths) whose bytecode stamps its builds. A model declares
    * itself once as a Lineage and serves through one of its three
    * forms — one dataset ([[serve]]), a folded artifact
    * ([[serveFolded]]) or a set of named datasets ([[serveSet]]) — and
    * never sees the fingerprint format, the dir layout or the marker
    * and provenance files. */
  final case class Lineage(prefix: String, key: String, stamp: Seq[String]) {

    lazy val dir: String = graft.sources.Sources.rtDir(prefix + "_" +
      java.lang.Long.toHexString(scala.util.hashing.MurmurHash3
        .stringHash(key).toLong & 0xffffffffL))

    /** The bytecode stamp of `stamp`, hashed once per JVM. An empty
      * `stamp` (a set that is a plain copy of its input) stamps
      * nothing. */
    def buildStamp: String =
      if (stamp.isEmpty) "" else buildStamps.computeIfAbsent(stamp, classStamp(_))

    private def file(name: String) = java.nio.file.Paths.get(dir, name)

    /** The current publication's marker content, if published. */
    def marker: Option[String] = readIfExists(file("_FINGERPRINT"))

    /** True iff the lineage has a publication. */
    def exists: Boolean = java.nio.file.Files.exists(file("_FINGERPRINT"))

    /** True iff the current publication is a folded one that a serve
      * over `shardDirs` by this build can extend: its marker head names
      * [[buildStamp]] and every published shard is in `shardDirs`. A
      * publication by other bytecode, or over other shards, is mined
      * again in full. */
    def foldsOnto(shardDirs: Seq[String]): Boolean = {
      val (head, published) = parseFoldMarker(marker)
      head.exists(_.split(' ').contains(s"build=$buildStamp")) &&
        published.nonEmpty &&
        published.forall { case (sd, _) => shardDirs.contains(sd) }
    }

    /** The last folded publication's provenance line ("fold +k shard(s)
      * onto m" / "full mine of n shard(s)"), if any. */
    def provenance: Option[String] = readIfExists(file("_PROVENANCE"))

    /** Drop every publication (marker first, then data) so the next
      * serve re-mines from scratch — the operational rebuild knob. */
    def invalidate(): Unit = Artifacts.invalidate(dir)

    /** The identity of a dataset mined under `params` from the `table`
      * of `inputDir`: md5 over params, build stamp and the table's file
      * listing. */
    def fingerprint(params: String, inputDir: String, table: String): String =
      md5Hex((params +: Seq(buildStamp).filter(_.nonEmpty) :+
        tableListing(new java.io.File(inputDir, s"$table.parquet")))
        .mkString("|"))

    /** One dataset, mined by `build` once per [[fingerprint]]. */
    def serve(spark: SparkSession, params: String, inputDir: String,
        table: String)(build: => DataFrame): DataFrame =
      serveOrBuild(spark, dir, fingerprint(params, inputDir, table))(build)

    /** A folded artifact over `shardFps` ([[shardFingerprints]]); see
      * [[serveFoldedShards]]. */
    def serveFolded(spark: SparkSession, params: String,
        shardFps: Seq[(String, String)], perShard: Seq[ShardDataset] = Nil)(
        full: => DataFrame)(
        fold: (DataFrame, Seq[String], Seq[String]) => DataFrame): DataFrame =
      serveFoldedShards(spark, dir, params, buildStamp, shardFps,
        perShard)(full)(fold)

    /** A set of named datasets (relative paths such as
      * `shard_0/documents.parquet`) derived from the `table` of
      * `inputDir`, published once per [[fingerprint]] as one
      * `set_<fp>` dir, marker last. A superseded set is collected like
      * any superseded dataset, except that every serve sweeps, not only
      * a publication, so a set whose grace window has passed goes at
      * the next serve. Returns the set's dir. */
    def serveSet(params: String, inputDir: String, table: String)(
        datasets: => Seq[(String, DataFrame)]): String = {
      val fp = fingerprint(params, inputDir, table)
      val set = file(s"set_$fp")
      locked {
        if (!(marker.contains(fp) && java.nio.file.Files.exists(set))) {
          publishSlot(dir, set)(tmp => datasets.foreach { case (name, df) =>
            df.write.mode("overwrite").parquet(tmp.resolve(name).toString)
          })
          publishMarker(dir, fp)
        }
        gcSuperseded(dir, Seq(set))
      }
      set.toString
    }

    /** Run `body` under the one publisher lock every serve holds — for
      * a model that makes its own fold decision. */
    def locked[T](body: => T): T = Artifacts.synchronized(body)

    /** Commit a folded publication whose datasets are all in place:
      * marker last, GC of every dataset not in `keep`, provenance. */
    def commit(content: String, keep: Seq[java.nio.file.Path],
        folded: Boolean, nOld: Int, nNew: Int): Unit =
      commitFold(dir, content, keep, folded, nOld, nNew)
  }

  /** The part of an input path that outlives a new publication: a
    * [[Lineage.serveSet]] result's `set_<fp>` dir stands for its
    * lineage's dir, where a newer set replaces it; any other path is
    * itself. A model derived from a set keys its own lineage by this,
    * so its copy over a superseded set is superseded in turn. */
  def stableInput(inputDir: String): String = {
    val p = java.nio.file.Paths.get(inputDir)
    if (p.getParent != null && p.getFileName.toString.startsWith("set_")) p.getParent.toString
    else inputDir
  }

  private val buildStamps =
    new java.util.concurrent.ConcurrentHashMap[Seq[String], String]()

  private def readIfExists(p: java.nio.file.Path): Option[String] =
    if (java.nio.file.Files.exists(p))
      Some(new String(java.nio.file.Files.readAllBytes(p), "UTF-8"))
    else None

  def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete(); ()
  }

  /** The per-JVM scratch root under `java.io.tmpdir`; one shutdown hook
    * deletes it, so the temp dirs queries and mains stage under it
    * (stream inputs, sinks, fixtures, scale tiers) never outlive the run. */
  private[graft] lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_")
    sys.addShutdownHook(deleteRecursively(root.toFile))
    root
  }
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()

  /** A fresh, empty directory under the per-JVM scratch root. */
  def scratchDir(prefix: String): java.nio.file.Path =
    java.nio.file.Files.createDirectory(
      scratchRoot.resolve(prefix + scratchSeq.incrementAndGet()))

  /** File-listing identity of one parquet table (name, length, mtime of
    * every part file, sorted) — the per-input component of artifact
    * fingerprints. */
  private def tableListing(table: java.io.File): String = {
    val files =
      if (table.isDirectory)
        Option(table.listFiles).toSeq.flatten.sortBy(_.getName)
      else Seq(table)
    files.map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(",")
  }

  def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString

  /** Build stamp from CLASS BYTECODE, streamed off the classpath: an
    * artifact fingerprint must cover every class that shapes its builder
    * closure, and hashing the bytes makes "a recompile conservatively
    * re-mines" true under every deployment layout — a codeSource-mtime
    * stamp misses recompiles into a classes directory whose root mtime
    * never moves. Resource names are `/pkg/Cls.class` paths; missing
    * resources contribute nothing (e.g. a `$`-less companion that was
    * never emitted).
    */
  private def classStamp(resources: Seq[String]): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    resources.foreach { name =>
      val in = getClass.getResourceAsStream(name)
      if (in != null) try {
        val buf = new Array[Byte](8192)
        var r = in.read(buf)
        while (r > 0) { md.update(buf, 0, r); r = in.read(buf) }
      } finally in.close()
    }
    md.digest().map("%02x".format(_)).mkString
  }

  /** Line-oriented folded-shards marker codec — the ONE definition of
    * the format every folded-artifact implementation shares (the
    * generic [[serveFoldedShards]], the cluster map's band-index
    * variant, the PQ index's side+codes variant): one head line + one
    * `dir\tfp` line per shard. Heads differ per implementation; the
    * codec owns the newline/tab guards and the shard-line round-trip,
    * so the three state machines cannot drift on the format. */
  def foldMarkerContent(head: String,
      shardFps: Seq[(String, String)]): String = {
    require(!head.contains('\n') &&
      shardFps.forall { case (sd, f) =>
        !sd.contains('\n') && !sd.contains('\t') && !f.contains('\n') },
      "folded-artifact head/shard identities must be single-line" +
        " (and shard dirs tab-free): the marker format is line-oriented")
    (head +: shardFps.map { case (sd, f) => s"$sd\t$f" }).mkString("\n")
  }

  /** Inverse of [[foldMarkerContent]]: (head line, shard list). */
  def parseFoldMarker(content: Option[String])
      : (Option[String], Seq[(String, String)]) = {
    val lines = content.toSeq.flatMap(_.linesIterator).toSeq
    (lines.headOption, lines.drop(1).flatMap(_.split("\t", 2) match {
      case Array(a, b) => Some(a -> b); case _ => None
    }))
  }

  /** The subset-and-unchanged fold decision every folded artifact
    * shares: published shards must be a non-empty STRICT subset of the
    * request with identical per-shard fingerprints. (Callers AND this
    * with their own "published datasets actually exist" checks.) */
  def canFoldShards(oldShards: Seq[(String, String)],
      newShards: Seq[(String, String)]): Boolean =
    oldShards.nonEmpty && oldShards.forall(newShards.toSet.contains) &&
      oldShards.size < newShards.size

  /** The provenance receipt line for a fold/full publication. */
  private def foldProvenance(folded: Boolean, nOld: Int, nNew: Int): String =
    if (folded) s"fold +${nNew - nOld} shard(s) onto $nOld"
    else s"full mine of $nNew shard(s)"

  /** Per-shard (dir → md5-of-table-listing) identities, sorted — the
    * shard half of every folded-artifact fingerprint. */
  def shardFingerprints(shardDirs: Seq[String],
      table: String): Seq[(String, String)] =
    shardDirs.sorted.map(sd => sd -> md5Hex(tableListing(
      new java.io.File(sd, s"$table.parquet"))))

  /** A per-shard IMMUTABLE dataset a folded artifact maintains beside
    * its main map — e.g. the cluster map's LSH band index. `path` is
    * addressed by (shardDir, shard fingerprint): a fold publishes only
    * the DELTA shards' datasets (delta-sized write), and a shard's
    * dataset never rewrites unless the shard's own fingerprint changes.
    * The serve/fold/full closures read the datasets back via the same
    * `path` function — by the time either builder runs, every shard's
    * dataset is guaranteed published. */
  final case class ShardDataset(
      path: (String, String) => java.nio.file.Path,
      build: String => DataFrame,
      partitionBy: Seq[String] = Nil)

  /** Generic FOLDED artifact over an append-only shard list — the ONE
    * control flow behind incrementally-maintained models whose state
    * merges exactly (the boilerplate line-list state, the LM and langid
    * count states, the zone-map manifest, and — via `perShard` band
    * indexes — the dedup cluster map). The marker records
    * `v1 params=.. build=..` plus one `shardDir\tfingerprint` line per
    * shard:
    *
    *  - exact marker match (and every per-shard dataset present) ⇒
    *    serve the stored dataset;
    *  - published shard set ⊂ request, every published shard unchanged
    *    (incl. its per-shard datasets), same params/build ⇒
    *    `fold(oldData, corpusDirs, deltaDirs)` — delta-sized work;
    *  - anything else ⇒ `full` rebuild.
    *
    * Before either builder runs, any missing `perShard` dataset is
    * published (just the delta's on the fold path — published shards
    * already have theirs), so builders may read them freely.
    * Publication is marker-last atomic and gates on the map AND every
    * per-shard dataset; `_PROVENANCE` records which path ran.
    *
    * The folded PQ index ([[graft.ann.PqIndex.foldedIndexServe]]) is
    * the one stored model that does NOT ride this control flow, by
    * design: its marker head embeds the RESOLVED quantizer identity
    * (the fold decision picks which quantizer the per-shard code
    * datasets are addressed by), so head construction and the fold
    * decision are mutually recursive there — it composes this object's
    * codec/decision/publication primitives instead.
    */
  def serveFoldedShards(spark: SparkSession, dir: String, params: String,
      buildStamp: String, shardFps: Seq[(String, String)],
      perShard: Seq[ShardDataset] = Nil)(
      full: => DataFrame)(
      fold: (DataFrame, Seq[String], Seq[String]) => DataFrame): DataFrame = {
    import java.nio.file.{Files, Paths}
    require(!params.contains('\n') && !buildStamp.contains('\n'),
      "folded-artifact params/build must be single-line:" +
        " the marker format is line-oriented")
    val head = s"v1 params=$params build=$buildStamp"
    val content = foldMarkerContent(head, shardFps)
    val data = Paths.get(dir, s"map_${md5Hex(content)}.parquet")
    def allShardDatasets(fps: Seq[(String, String)]): Boolean =
      fps.forall { case (sd, f) =>
        perShard.forall(p => Files.exists(p.path(sd, f))) }
    this.synchronized {
      val old = readIfExists(Paths.get(dir, "_FINGERPRINT"))
      if (!(old.contains(content) && Files.exists(data) &&
          allShardDatasets(shardFps))) {
        val (oldHead, oldShards) = parseFoldMarker(old)
        val oldData = old.map(c => Paths.get(dir, s"map_${md5Hex(c)}.parquet"))
        val canFold = oldHead.contains(head) &&
          canFoldShards(oldShards, shardFps) &&
          oldData.exists(Files.exists(_)) && allShardDatasets(oldShards)
        // ensure every shard's side datasets exist (delta-sized on the
        // fold path) BEFORE either builder constructs a plan over them
        for (p <- perShard; (sd, f) <- shardFps if !Files.exists(p.path(sd, f)))
          publishDataset(dir, p.path(sd, f), p.build(sd), p.partitionBy)
        val built =
          if (canFold) {
            val oldSet = oldShards.map(_._1).toSet
            fold(spark.read.parquet(oldData.get.toString),
              shardFps.map(_._1).filter(oldSet.contains),
              shardFps.map(_._1).filterNot(oldSet.contains))
          } else full
        publishDataset(dir, data, built)
        commitFold(dir, content, data +: (for (p <- perShard;
          (sd, f) <- shardFps) yield p.path(sd, f)),
          canFold, oldShards.size, shardFps.size)
      }
    }
    spark.read.parquet(data.toString)
  }

  /** The marker-last commit both folded forms share: marker, GC of
    * every dataset not in `keep`, then the `_PROVENANCE` receipt. */
  private def commitFold(dir: String, content: String,
      keep: Seq[java.nio.file.Path], folded: Boolean, nOld: Int,
      nNew: Int): Unit = {
    publishMarker(dir, content)
    gcSuperseded(dir, keep)
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "_PROVENANCE"),
      foldProvenance(folded, nOld, nNew).getBytes("UTF-8"))
  }
}
