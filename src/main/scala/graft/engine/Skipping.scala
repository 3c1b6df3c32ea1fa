package graft.engine

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Zone-map data skipping: prune PARTITIONS on NON-partition-column
  * predicates.
  *
  * Spark's built-in partition pruning only fires on the partition
  * column itself; a range predicate on any other column still scans
  * every partition. The lakehouse answer (Delta/Iceberg file-skipping
  * statistics) is a tiny stats table — per partition, min/max of the
  * queried columns — consulted BEFORE the scan so provably-empty
  * partitions are never opened. At 100 TB this is the difference
  * between touching 3 partitions and touching 3000; the stats table is
  * kilobytes and builds in the same pass that wrote the data.
  *
  * The skip decision is conservative (a partition is read unless its
  * zone PROVES no row can match: lo > zmax or hi < zmin), so results
  * are exactly those of the full scan — which is how the query stays
  * hash-oracleable against an engine that reads everything.
  */
object Skipping {

  /** Per-partition zone map: one row per `partCol` value with
    * min/max/count of each stat column — buildable in the same job
    * that writes the partitioned layout, storable next to it.
    * `sketchCols` additionally attach a theta sketch blob per partition
    * (the manifest form that answers set-overlap questions — "which
    * partitions share keys with this delta?" — from stats alone). */
  def buildZoneMap(df: DataFrame, partCol: String,
      statCols: Seq[String], sketchCols: Seq[String] = Nil): DataFrame =
    df.groupBy(col(partCol)).agg(
      count(lit(1)).as("zone_rows"),
      (statCols.flatMap(c => Seq(
        min(col(c)).as(s"${c}_min"),
        max(col(c)).as(s"${c}_max"))) ++
       sketchCols.map(c =>
         graft.functions.ThetaSketch.theta_build(col(c)).as(s"${c}_theta"))): _*)

  /** Merge zone maps — the INCREMENTAL maintenance path: the manifest
    * of (history ∪ delta) is a groupBy-merge of the two manifests
    * (min/min, max/max, count-sum, theta-union), so new ingest batches
    * update stats without rescanning history. Deterministic: merged
    * bytes equal the zone map built over the full data in one pass
    * (theta merge is order-insensitive — gated). */
  def mergeZoneMaps(maps: Seq[DataFrame], partCol: String): DataFrame = {
    val all = maps.reduce(_ unionByName _)
    val aggs = all.schema.fieldNames
      .filter(n => n != partCol && n != "zone_rows").map { n =>
        if (n.endsWith("_min")) min(col(n)).as(n)
        else if (n.endsWith("_max")) max(col(n)).as(n)
        else if (n.endsWith("_theta"))
          graft.functions.ThetaSketch.theta_merge(col(n)).as(n)
        else sys.error(s"unknown zone-map column $n")
      }
    all.groupBy(col(partCol))
      .agg(sum(col("zone_rows")).as("zone_rows"), aggs: _*)
      .select(all.schema.fieldNames.map(col): _*) // original column order
  }

  /** The zone-map manifest as an incrementally-maintained FOLDED
    * artifact over an append-only shard list
    * ([[Artifacts.serveFoldedShards]]), and the one stored model that IS
    * a table format's metadata layer (Delta/Iceberg keep exactly this
    * stats file beside the data): a new ingest shard folds in by
    * building ONLY its own mini-manifest ([[buildZoneMap]]) and
    * merging ([[mergeZoneMaps]] — min/min, max/max, count-sum; gated
    * byte-equal to the one-pass build), never rescanning published
    * shards. `partSql` derives the partition column from the raw
    * documents table and is part of the artifact identity. */
  def zoneMapArtifactFolded(spark: SparkSession, name: String,
      shardDirs: Seq[String], partCol: String, partSql: String,
      statCols: Seq[String]): DataFrame = {
    def load(sd: String) = Tables.documents(spark, sd)
      .withColumn(partCol, expr(partSql))
    zoneMapFoldLineage(name, partCol, partSql, statCols).serveFolded(spark,
        zoneMapParams(partCol, partSql, statCols),
        Artifacts.shardFingerprints(shardDirs, "documents"))(
      buildZoneMap(shardDirs.map(load).reduce(_ union _), partCol, statCols)) {
      (oldMap, _, deltaDirs) =>
        mergeZoneMaps(oldMap +:
          deltaDirs.map(sd => buildZoneMap(load(sd), partCol, statCols)),
          partCol)
    }
  }

  /** The classes whose bytecode names a folded zone map's build: the
    * zone-map builder and merge, and the theta sketch they store and
    * union. */
  val zoneMapStamp: Seq[String] = Seq("graft/engine/Skipping", "graft/functions/ThetaSketch",
    "graft/functions/Theta", "graft/functions/Sketch", "graft/functions/SketchAgg")
    .flatMap(c => Seq(s"/$c$$.class", s"/$c.class"))

  /** The lineage of [[zoneMapArtifactFolded]] for corpus `name`. */
  def zoneMapFoldLineage(name: String, partCol: String, partSql: String,
      statCols: Seq[String]): Artifacts.Lineage =
    Artifacts.Lineage("zonemap_fold",
      name + "|" + zoneMapParams(partCol, partSql, statCols), zoneMapStamp)

  private def zoneMapParams(partCol: String, partSql: String,
      statCols: Seq[String]): String =
    s"part=$partCol<-$partSql stats=${statCols.mkString("+")}"

  /** Partition values whose zones MIGHT contain a row with
    * `statCol ∈ [lo, hi]` — the driver-side skip decision (zone-map
    * sized collect: one row per partition, never per data row). */
  def candidatePartitions(zoneMap: DataFrame, partCol: String,
      statCol: String, lo: Column, hi: Column): Seq[Any] =
    zoneMap
      .filter(col(s"${statCol}_min") <= hi && col(s"${statCol}_max") >= lo)
      .select(col(partCol)).collect().map(_.get(0)).toSeq

  /** Read `dir` (hive-partitioned by `partCol`) with zone-map skipping
    * for `statCol ∈ [lo, hi]`: qualifying partitions come from the
    * stats table, reach the scan as a partition-column `isin` (so
    * Spark's partition pruning skips the rest at the file index), and
    * the row-level predicate still applies inside survivors. */
  def readWithSkipping(spark: SparkSession, dir: String, zoneMap: DataFrame,
      partCol: String, statCol: String, lo: Column, hi: Column): DataFrame = {
    val parts = candidatePartitions(zoneMap, partCol, statCol, lo, hi)
    val full = spark.read.parquet(dir)
    if (parts.isEmpty) full.filter(lit(false)) // zone maps prove: no row
    else full
      .filter(col(partCol).isin(parts: _*))
      .filter(col(statCol) >= lo && col(statCol) <= hi)
  }
}
