package graft.engine

import graft.operators.NextK
import graft.streaming.Memo
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import scala.collection.mutable

/** The interactive target/session layer — the reference's actual product
  * shape (web/.../RpcTarget.java:431-450, TableTarget.java:78-746,
  * InitialObjectTarget): every RPC target is a registered object holding
  * a dataset; each user gesture either
  *   (a) runs a *map* and registers the result as a child target
  *       (filter / project / new column / set op), or
  *   (b) runs a *sketch* over the target and returns a bounded result,
  *       served from the memoization cache when the identical gesture
  *       replays (HillviewServer.java:105-120, MemoizedResults.java).
  *
  * Spark translation: a target = an id + a lazy DataFrame + lineage
  * (parent id and the gesture string that produced it). Maps stay lazy —
  * registering a child costs nothing; sketches collect through
  * [[Memo]], so gesture replay is a cache hit keyed by the canonicalized
  * optimized plan (stronger than the reference's operation-bytes key:
  * two textually different but plan-equal gestures share an entry).
  *
  * Unsubscribe (RemoteDataSet.java:285-296) is a job group: a gesture run
  * as `Sessions.inGroup(spark, g)(reg.sketch(id)(agg))`, `nextK` included,
  * is aborted mid-flight by `Sessions.cancelGroup(spark, g)`. The collect
  * then throws, and as [[Memo]] records only a completed result, the next
  * identical gesture computes afresh and from then on memo-hits.
  */
class TargetRegistry(val spark: SparkSession) {
  import TargetRegistry.RowIdCol

  /** `op`/`args` are the REPLAYABLE form of the gesture (expressions as
    * SQL text, parsed back with `expr` on replay); `gesture` is the
    * display string the lineage API returns. `moreParents` carries the
    * ADDITIONAL inputs of multi-parent gestures (set ops, mergeWith) —
    * `parent` stays the primary lineage edge.
    *
    * `rid` is the ROW-IDENTITY twin: the same rows as `df` plus a hidden
    * `__graft_rid` column identifying each row of the ROOT table (the
    * reference's membership sets are sets of row indices over the base
    * table — TableTarget.java:665-674 composes them, so two value-equal
    * base rows are distinct set members). File-backed roots derive the
    * id from parquet scan metadata (file_path, row_index) — deterministic
    * across re-evaluation, unlike monotonically_increasing_id. Targets
    * whose lineage can't carry one (volatile roots, bag merges) have
    * `rid = None` and set ops on them fall back to value semantics. */
  final case class Target(id: String, df: DataFrame,
      parent: Option[String], gesture: String,
      op: String, args: Seq[String], moreParents: Seq[String] = Seq.empty,
      rid: Option[DataFrame] = None)

  private val targets = mutable.LinkedHashMap.empty[String, Target]
  private var nextId = 0

  private def register(df: DataFrame, parent: Option[String], gesture: String,
      op: String, args: Seq[String], forcedId: Option[String] = None,
      moreParents: Seq[String] = Seq.empty,
      rid: Option[DataFrame] = None): Target =
    synchronized {
      val id = forcedId.getOrElse { val i = s"t$nextId"; nextId += 1; i }
      require(!targets.contains(id), s"target id $id already registered")
      // a replayed id advances the counter so post-replay registrations
      // never collide with restored targets
      forcedId.collect { case s if s.matches("t\\d+") =>
        nextId = math.max(nextId, s.drop(1).toInt + 1)
      }
      val t = Target(id, df, parent, gesture, op, args, moreParents, rid)
      targets.update(t.id, t)
      t
    }

  /** Row-preserving gesture: the same frame transform applied to the
    * visible frame and (when present) the row-identity twin, so the
    * hidden `__graft_rid` survives every map in the chain. */
  private def mapGesture(parentId: String, gesture: String, op: String,
      args: Seq[String], forcedId: Option[String] = None)
      (f: DataFrame => DataFrame): Target = {
    val p = get(parentId)
    register(f(p.df), Some(parentId), gesture, op, args, forcedId,
      rid = p.rid.map(f))
  }

  def get(id: String): Target = synchronized(targets(id))
  def size: Int = synchronized(targets.size)

  /** Gesture chain from the root load to this target (RpcTarget ids let
    * the UI reconstruct any view; this is that lineage, newest last).
    */
  def lineage(id: String): Seq[String] = {
    val t = get(id)
    t.parent.map(lineage).getOrElse(Seq.empty) :+ t.gesture
  }

  /** The Target chain root→id (the replayable form of [[lineage]]):
    * ALL transitive ancestors — across `parent` and `moreParents`
    * edges — in registration order (parents always registered before
    * children, so the order is replay-safe). */
  private def chain(id: String): Seq[Target] = {
    val seen = mutable.LinkedHashSet.empty[String]
    def visit(tid: String): Unit = if (!seen.contains(tid)) {
      val t = get(tid)
      (t.parent.toSeq ++ t.moreParents).foreach(visit)
      seen += tid
    }
    visit(id)
    val order = targets.keysIterator.zipWithIndex.toMap
    seen.toSeq.sortBy(order).map(get)
  }

  private def sqlOf(c: Column): String =
    org.apache.spark.sql.graftshim.columnToSql(c)

  // ── root targets (InitialObjectTarget.loadTable → TableTarget) ──────
  /** Volatile root: the frame is session-local, so this target is NOT
    * replayable from the redo log (the reference analog is an RpcTarget
    * whose original request cannot be re-issued). Use [[loadTable]] for
    * durable lineage. */
  def load(name: String, df: DataFrame): Target =
    register(df, None, s"load:$name", "load_volatile", Seq(name))

  def loadTable(dir: String, table: String): Target =
    loadImpl(dir, table, None)

  private def loadImpl(dir: String, table: String,
      forcedId: Option[String]): Target = {
    val df = Tables.table(spark, dir, table)
    // row identity from the scan itself: (file, row ordinal) is stable
    // across re-evaluation and survives as a normal column through the
    // gesture chain. file_path is dictionary-encodable in shuffles.
    val rid = df.withColumn(RowIdCol, org.apache.spark.sql.functions.struct(
      org.apache.spark.sql.functions.col("_metadata.file_path").as("f"),
      org.apache.spark.sql.functions.col("_metadata.row_index").as("i")))
    register(df, None, s"load:$table", "load", Seq(dir, table), forcedId,
      rid = Some(rid))
  }

  // ── map gestures → child targets (FilterMap, ProjectMap, …) ─────────
  // Each gesture's display string and transform live in its `*Impl`,
  // which the redo-log replay calls with the recorded id. Expression
  // gestures take their recorded SQL text as the replayable arg.
  def filter(id: String, pred: Column): Target =
    filterImpl(id, pred, sqlOf(pred), None)

  private def filterImpl(id: String, pred: Column, sql: String,
      forcedId: Option[String]): Target =
    mapGesture(id, s"filter:$pred", "filter", Seq(sql), forcedId)(_.filter(pred))

  def project(id: String, cols: Seq[String]): Target =
    projectImpl(id, cols, None)

  private def projectImpl(id: String, cols: Seq[String],
      forcedId: Option[String]): Target = {
    val p = get(id)
    val F = org.apache.spark.sql.functions
    register(p.df.select(cols.map(F.col): _*), Some(id),
      s"project:${cols.mkString(",")}", "project", cols, forcedId,
      rid = p.rid.map(_.select((RowIdCol +: cols).map(F.col): _*)))
  }

  def withColumn(id: String, name: String, c: Column): Target =
    withColumnImpl(id, name, c, sqlOf(c), None)

  private def withColumnImpl(id: String, name: String, c: Column, sql: String,
      forcedId: Option[String]): Target = {
    require(name != RowIdCol, s"$RowIdCol is reserved")
    mapGesture(id, s"col:$name=$c", "col", Seq(name, sql), forcedId)(
      _.withColumn(name, c))
  }

  /** RenameColumnMap.java gesture. */
  def rename(id: String, from: String, to: String): Target =
    renameImpl(id, from, to, None)

  private def renameImpl(id: String, from: String, to: String,
      forcedId: Option[String]): Target = {
    require(from != RowIdCol && to != RowIdCol, s"$RowIdCol is reserved")
    mapGesture(id, s"rename:$from->$to", "rename", Seq(from, to), forcedId)(
      _.withColumnRenamed(from, to))
  }

  /** ConvertColumnMap.java gesture (cast in place). */
  def convert(id: String, column: String, toType: String): Target =
    convertImpl(id, column, toType, None)

  private def convertImpl(id: String, column: String, toType: String,
      forcedId: Option[String]): Target =
    mapGesture(id, s"convert:$column:$toType", "convert",
      Seq(column, toType), forcedId)(df => df.withColumn(column,
        org.apache.spark.sql.functions.col(column).cast(toType)))

  /** CreateIntervalColumnMap.java gesture (TableTarget.java:648-653):
    * two numeric columns → one Interval column. */
  def createInterval(id: String, name: String, a: String, b: String): Target =
    createIntervalImpl(id, name, a, b, None)

  private def createIntervalImpl(id: String, name: String, a: String, b: String,
      forcedId: Option[String]): Target =
    mapGesture(id, s"interval:$name=[$a,$b]", "interval",
      Seq(name, a, b), forcedId)(df => df.withColumn(name, graft.operators.Intervals.make(
        org.apache.spark.sql.functions.col(a),
        org.apache.spark.sql.functions.col(b))))

  /** CreateColumnJSMap.java gesture: a JS-subset `function map(row)`
    * compiled to Columns; the SOURCE TEXT is the replayable arg. */
  def jsColumn(id: String, name: String, js: String): Target =
    jsColumnImpl(id, name, js, None)

  private def jsColumnImpl(id: String, name: String, js: String,
      forcedId: Option[String]): Target =
    mapGesture(id, s"jscol:$name", "jscol", Seq(name, js), forcedId)(
      graft.functions.JsGesture.withJsColumn(_, name, js))

  /** JSFilterDescription gesture (TableTarget.java:705-711). */
  def jsFilter(id: String, js: String): Target = jsFilterImpl(id, js, None)

  private def jsFilterImpl(id: String, js: String, forcedId: Option[String]): Target =
    mapGesture(id, "jsfilter", "jsfilter", Seq(js), forcedId)(
      graft.functions.JsGesture.jsFilter(_, js))

  /** SetOperationMap.java gesture (TableTarget.java:665-674): set
    * algebra of two registered views — the reference composes MEMBERSHIP
    * SETS OF ROW INDICES over the shared base table, so two value-equal
    * base rows are independent members: a union keeps both, an intersect
    * keeps each iff that PHYSICAL row is in both views. When both sides
    * carry a row-identity twin (file-backed lineage) the algebra runs on
    * `__graft_rid` — union = A ⊎ (B anti-join A), intersect = semi-join,
    * minus = anti-join; one hash shuffle on the rid, broadcast-eligible
    * when a side is small, AQE handles skew. Rows present in both views
    * surface side A's copy. Targets without a twin (volatile roots, bag
    * merges) fall back to Spark's VALUE-based set ops — documented
    * divergence for duplicate-valued rows. "replace" = the other view,
    * as the reference. Both views become lineage parents: the redo log
    * replays the pair, a bookmark of the result carries both chains. */
  def setOp(idA: String, idB: String, kind: String): Target =
    setOpImpl(idA, idB, kind, None)

  private def setOpImpl(idA: String, idB: String, kind: String,
      forcedId: Option[String]): Target = {
    val a = get(idA)
    val b = get(idB)
    require(Seq("union", "intersect", "minus", "replace").contains(kind),
      s"setop kind: $kind")
    val F = org.apache.spark.sql.functions
    val (df, rid) = (a.rid, b.rid) match {
      case (Some(ra), Some(rb)) if kind != "replace" =>
        val r = kind match {
          case "union" => ra.unionByName(
            rb.join(ra.select(F.col(RowIdCol)), Seq(RowIdCol), "left_anti"))
          case "intersect" =>
            ra.join(rb.select(F.col(RowIdCol)), Seq(RowIdCol), "left_semi")
          case "minus" =>
            ra.join(rb.select(F.col(RowIdCol)), Seq(RowIdCol), "left_anti")
          case _ => throw new IllegalStateException("unreachable")
        }
        (r.drop(RowIdCol), Some(r))
      case _ => kind match {
        case "union" => (a.df.union(b.df).distinct(), None)
        case "intersect" => (a.df.intersect(b.df), None)
        case "minus" => (a.df.except(b.df), None)
        case _ => (b.df, b.rid) // "replace"
      }
    }
    register(df, Some(idA), s"setop:$kind:$idA,$idB", "setop",
      Seq(kind, idB), forcedId, moreParents = Seq(idB), rid = rid)
  }

  /** mergeWith (TableTarget.java:734-746): concatenate N registered
    * frames (bag semantics, ParallelDataSet of all children). The result
    * drops row identity — the same base row may legitimately appear
    * twice, so downstream set ops revert to value semantics. */
  def merge(ids: Seq[String]): Target = mergeImpl(ids, None)

  private def mergeImpl(ids: Seq[String], forcedId: Option[String]): Target = {
    require(ids.size >= 2, s"merge needs >= 2 targets, got $ids")
    val df = ids.map(get(_).df).reduce(_ unionByName _)
    register(df, Some(ids.head), s"merge:${ids.mkString(",")}", "merge",
      ids.tail, forcedId, moreParents = ids.tail)
  }

  // ── sketch gestures → memoized bounded results (runSketch) ──────────
  /** Generic sketch: any bounded-result aggregation of the target's
    * frame, collected through the memo cache. Run it under
    * `Sessions.inGroup` to make it cancellable.
    */
  def sketch(id: String)(agg: DataFrame => DataFrame): Array[Row] =
    Memo.collectMemoized(agg(get(id).df))

  /** Entry-point B's gesture (TableTarget.getNextK). */
  def nextK(id: String, order: Seq[NextK.Order], k: Int,
      pivot: Option[Seq[Any]] = None,
      aggs: Seq[NextK.AggSpec] = Seq.empty): Array[Row] =
    sketch(id)(df => NextK.nextK(df, order, k, pivot, aggs))

  /** Entry-point C's first phase (getDataQuantiles → bucket bounds). */
  def dataRange(id: String, column: String): Array[Row] =
    sketch(id)(df => graft.operators.Stats.dataRange(df, column))

  /** Entry-point C's second phase (histogramAndCDF). */
  def histogramCdf(id: String, bucket: Column): Array[Row] =
    sketch(id)(df => graft.operators.Histograms.histogramWithCdf(df, bucket))

  def summary(id: String): Array[Row] =
    sketch(id)(df => graft.operators.Stats.rowCount(df))

  // ── redo log / bookmarks (web/.../RedoLog.java, bookmark/README.md) ──
  // The reference persists, per target, the request that produced it
  // ("hillview.redo"), so a restarted server replays the log and every
  // view URL/bookmark keeps resolving. Spark translation: one JSON line
  // per target — {id, parent, op, args} — written newest-last (the
  // LinkedHashMap preserves creation order, so parents always precede
  // children), replayed into a fresh registry with the ORIGINAL ids.

  // serialize with the same Jackson that replay() parses with — a
  // hand-rolled escaper would have to stay bug-compatible forever
  // (ObjectMapper is thread-safe after config; one instance per registry)
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  private def jsonLine(t: Target): String = {
    val n = mapper.createObjectNode()
    n.put("id", t.id)
    t.parent match {
      case Some(p) => n.put("parent", p)
      case None => n.putNull("parent")
    }
    n.put("op", t.op)
    val arr = n.putArray("args")
    t.args.foreach(arr.add)
    if (t.moreParents.nonEmpty) {
      val ps = n.putArray("parents2")
      t.moreParents.foreach(ps.add)
    }
    mapper.writeValueAsString(n)
  }

  /** Persist the full redo log (every target ever registered). Targets
    * with a volatile root are skipped with their descendants — they
    * cannot replay (the log stays loadable rather than failing). */
  def saveRedoLog(path: String): Unit = synchronized {
    val replayable = mutable.Set.empty[String]
    val lines = targets.values.toSeq.filter { t =>
      val ok = t.op != "load_volatile" &&
        (t.parent.toSeq ++ t.moreParents).forall(replayable)
      if (ok) replayable += t.id
      ok
    }.map(jsonLine)
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.mkString("\n").getBytes("UTF-8"))
  }

  /** Persist ONE view's lineage — the bookmark (bookmark/README.md: a
    * shareable pointer that reconstructs exactly one view). */
  def saveBookmark(id: String, path: String): Unit = synchronized {
    val c = chain(id)
    require(c.forall(_.op != "load_volatile"),
      s"target $id has a volatile root — not bookmarkable")
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      c.map(jsonLine).mkString("\n").getBytes("UTF-8"))
  }
}

object TargetRegistry {

  /** Hidden column carrying base-table row identity through a gesture
    * chain (struct of parquet `_metadata.file_path`, `row_index`). */
  val RowIdCol = "__graft_rid"

  /** Rebuild a registry from a redo log / bookmark file in a FRESH
    * session: each line replays its gesture against the already-replayed
    * parent, keeping the original target id, so saved sketch gestures
    * (and bookmark URLs carrying ids) resolve identically. Frames stay
    * lazy — replay costs no Spark jobs until a sketch runs; the first
    * sketch after replay is served from [[graft.streaming.Memo]] when
    * its plan was collected before (the reference's MemoizedResults
    * behavior across a restart).
    */
  def replay(spark: SparkSession, path: String): TargetRegistry = {
    import org.apache.spark.sql.functions.expr
    val reg = new TargetRegistry(spark)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile(path, "UTF-8")
    val lines = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    lines.foreach { line =>
      val n = mapper.readTree(line)
      val id = n.get("id").asText()
      val parent = Option(n.get("parent")).filterNot(_.isNull).map(_.asText())
      val op = n.get("op").asText()
      val args = (0 until n.get("args").size()).map(n.get("args").get(_).asText())
      op match {
        case "load" =>
          reg.loadImpl(args(0), args(1), Some(id))
        case "filter" =>
          reg.filterImpl(parent.get, expr(args(0)), args(0), Some(id))
        case "project" =>
          reg.projectImpl(parent.get, args, Some(id))
        case "col" =>
          reg.withColumnImpl(parent.get, args(0), expr(args(1)), args(1), Some(id))
        case "rename" =>
          reg.renameImpl(parent.get, args(0), args(1), Some(id))
        case "convert" =>
          reg.convertImpl(parent.get, args(0), args(1), Some(id))
        case "interval" =>
          reg.createIntervalImpl(parent.get, args(0), args(1), args(2), Some(id))
        case "jscol" =>
          reg.jsColumnImpl(parent.get, args(0), args(1), Some(id))
        case "jsfilter" =>
          reg.jsFilterImpl(parent.get, args(0), Some(id))
        case "setop" =>
          reg.setOpImpl(parent.get, args(1), args(0), Some(id))
        case "merge" =>
          reg.mergeImpl(parent.get +: args, Some(id))
        case other =>
          throw new IllegalArgumentException(s"unreplayable op: $other")
      }
    }
    reg
  }
}
