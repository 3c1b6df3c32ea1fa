package graft.streaming

import graft.engine.SketchExec
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.UnsafeProjection
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LocalRelation, OneRowRelation, Range => RangeRelation}
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import scala.collection.mutable

/** Progressive result refinement — the reference's signature interaction
  * model (dataset/api/PartialResult.java, ParallelDataSet.java:133-173:
  * every sketch streams monotonically improving partials to the UI).
  *
  * A sketch frame runs through [[Memo.collectMemoized]], the one path:
  * a memo hit emits once, at fraction 1.0; a miss runs [[SketchExec]],
  * which folds each finished partition's buffers into a running monoid
  * state on the driver and emits at most `steps` partials, however many
  * partitions there are. Each partition is read once, each partial is a
  * correct result over the partitions done, and the last one equals the
  * one-shot answer. A gesture is cancelled by running it under
  * `Sessions.inGroup` and ending that group with `Sessions.cancelGroup`.
  */
object Progressive {

  final case class Partial[T](fractionDone: Double, value: T)

  /** Progressive grouped count (the histogram shape) over any bucket
    * column — partials stream in as partitions complete, final result
    * equals the one-shot `groupBy(bucket).count()`.
    */
  def groupedCount(df: DataFrame, bucket: String, steps: Int)(
      emit: Partial[Map[Any, Long]] => Unit): Map[Any, Long] = {
    def counts(rows: Array[Row]) = rows.map(r => r.get(0) -> r.getLong(1)).toMap
    counts(Memo.collectMemoized(df.groupBy(bucket).count(), steps)(p =>
      emit(Partial(p.fractionDone, counts(p.value)))))
  }
}

/** Result memoization keyed by canonicalized plan plus the identity of
  * the data under each leaf (see [[Memo.fingerprint]]) — the Spark analog of
  * HillviewServer's MemoizedResults (dataset/remoting/HillviewServer
  * .java:105-120, MemoizedResults.java:31-90): repeated gestures over the
  * same view hit the cache instead of the cluster. Every sketch frame,
  * one-shot or progressive, is collected by [[collectMemoized]], and only
  * a completed result is recorded.
  */
object Memo {
  private final case class Entry(rows: Array[org.apache.spark.sql.Row],
      bytes: Long)
  // LinkedHashMap in ACCESS order (hits reinsert): head = LRU victim.
  // The reference's MemoizedResults is unbounded and relies on purge
  // RPCs; a long interactive session here would accumulate collected
  // row arrays without bound, so retention is byte-budgeted — an entry
  // is charged rows × estimated row size and the least-recently-USED
  // entries fall off when the budget overflows.
  private val cache = mutable.LinkedHashMap.empty[String, Entry]
  private var totalBytes = 0L
  private var hitCount = 0L
  @volatile private var budget: Long = 64L << 20 // 64 MB of sketch results
  // SetMemoization (management/SetMemoization.java): a disabled cache
  // passes collects straight through WITHOUT recording — existing
  // entries are kept (and still served once re-enabled) exactly like
  // the reference, which toggles lookup, not retention.
  @volatile private var enabled = true

  /** The memo key of `df`, or the bare plan text for a frame that is
    * never memoized (see [[key]]). */
  def fingerprint(df: DataFrame): String =
    key(df).getOrElse(df.queryExecution.optimizedPlan.canonicalized.toString)

  /** The canonicalized optimized plan names the operators but not the
    * data under them (a parquet scan prints without its path, a local
    * relation without its rows), so the key appends one identity per
    * leaf: a file scan's files with size and modification time, a local
    * relation's row digest, an RDD's id. None when a leaf holds data the
    * key cannot name; such a frame is collected without memoizing.
    */
  private def key(df: DataFrame): Option[String] = {
    val plan = df.queryExecution.optimizedPlan
    val ids = plan.collectWithSubqueries { case leaf: LeafNode => leafId(leaf) }
    if (ids.forall(_.isDefined))
      Some((plan.canonicalized.toString +: ids.flatten).mkString("\n"))
    else None
  }

  private def leafId(leaf: LeafNode): Option[String] = leaf match {
    case l: LogicalRelation => l.relation match {
      case fs: HadoopFsRelation => Some(fs.location.listFiles(Nil, Nil).flatMap(_.files)
        .map(f => s"${f.getPath} ${f.getLen} ${f.getModificationTime}")
        .sorted.mkString("files ", ", ", ""))
      case _ => None
    }
    case r: LocalRelation =>
      val toUnsafe = UnsafeProjection.create(r.output.map(_.dataType).toArray)
      val md = java.security.MessageDigest.getInstance("SHA-256")
      r.data.foreach { row =>
        val u = toUnsafe(row)
        md.update(java.nio.ByteBuffer.allocate(4).putInt(u.getSizeInBytes).array())
        md.update(u.getBytes)
      }
      Some(r.output.map(_.dataType.catalogString).mkString("rows (", ", ", ") ") +
        md.digest().map(b => f"$b%02x").mkString)
    case r: LogicalRDD => Some(s"rdd ${r.rdd.id}")
    // every input of these is in the plan text
    case _: OneRowRelation | _: RangeRelation => Some("")
    case _ => None
  }

  // sampled estimate (first 32 rows extrapolated): JVM object overheads
  // approximated, not measured — the budget bounds growth, it is not an
  // accounting ledger
  private def rowBytes(r: org.apache.spark.sql.Row): Long = {
    var b = 16L; var i = 0
    while (i < r.length) {
      b += (r.get(i) match {
        case null => 4L
        case s: String => 40L + 2L * s.length
        case a: Array[Byte] => 24L + a.length
        case q: scala.collection.Seq[_] => 24L + 16L * q.length
        case _ => 16L
      })
      i += 1
    }
    b
  }
  private def estimateBytes(rows: Array[org.apache.spark.sql.Row]): Long =
    if (rows.isEmpty) 64L
    else {
      val sample = rows.take(32)
      64L + sample.map(rowBytes).sum / sample.length * rows.length
    }

  /** `df.collect()` in one step. */
  def collectMemoized(df: DataFrame): Array[Row] = collectMemoized(df, 1)(_ => ())

  /** Collect `df` through the cache. A hit emits its rows once, at
    * fraction 1.0, and starts no job. A miss runs
    * [[SketchExec.progressive]] in `steps` steps and records the result
    * only when the run completes, so a cancelled or failed run leaves no
    * entry and the next identical call computes afresh. */
  def collectMemoized(df: DataFrame, steps: Int)(
      emit: Progressive.Partial[Array[Row]] => Unit): Array[Row] = {
    val key = if (enabled) this.key(df) else None
    key.flatMap(lookup) match {
      case Some(rows) =>
        emit(Progressive.Partial(1.0, rows))
        rows
      case None =>
        // OUTSIDE the lock: a slow job must not block hits
        val r = SketchExec.progressive(df, steps)((f, rows) => emit(Progressive.Partial(f, rows)))
        key.foreach(record(_, r))
        r
    }
  }

  private def lookup(key: String): Option[Array[Row]] = cache.synchronized {
    cache.remove(key).map { e => // LRU touch: reinsert at the tail
      cache.update(key, e); hitCount += 1; e.rows
    }
  }

  private def record(key: String, r: Array[Row]): Unit = {
    val bytes = estimateBytes(r)
    cache.synchronized {
      // an entry alone bigger than the whole budget is not cached at
      // all (it would evict everything and then be evicted next); a
      // racing identical collect keeps the first entry
      if (bytes <= budget && !cache.contains(key)) {
        cache.update(key, Entry(r, bytes))
        totalBytes += bytes
        while (totalBytes > budget && cache.size > 1) {
          val (k0, e0) = cache.head
          cache.remove(k0); totalBytes -= e0.bytes
        }
      }
    }
  }

  def setEnabled(on: Boolean): Unit = enabled = on
  def isEnabled: Boolean = enabled
  /** Retention budget in bytes (estimated); shrinking it evicts LRU-first. */
  def setBudget(bytes: Long): Unit = cache.synchronized {
    budget = math.max(bytes, 1L)
    while (totalBytes > budget && cache.nonEmpty) {
      val (k0, e0) = cache.head
      cache.remove(k0); totalBytes -= e0.bytes
    }
  }
  def budgetBytes: Long = budget
  def usedBytes: Long = cache.synchronized(totalBytes)

  def clear(): Unit = cache.synchronized {
    cache.clear(); totalBytes = 0L; hitCount = 0L
  }
  def size: Int = cache.synchronized(cache.size)
  /** Cache hits since the last clear — gesture-replay observability
    * (MemoizedResults records the same). */
  def hits: Long = cache.synchronized(hitCount)
}
