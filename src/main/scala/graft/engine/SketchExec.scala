package graft.engine

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, Expression, InterpretedOrdering, MutableProjection, NamedExpression, SortOrder, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Final, Partial, PartialMerge}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SortExec, SparkPlan, TakeOrderedAndProjectExec, WholeStageCodegenExec, graftexec}
import org.apache.spark.sql.execution.aggregate.{BaseAggregateExec, SortBasedAggregationIterator}
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowEvaluatorFactory, WindowExec}
import scala.collection.mutable

/** Hillview's sketch protocol on Catalyst's own partial aggregates: a
  * sketch per leaf, merged by its monoid at the root, with no shuffle
  * (SURVEY §0; Hillview VLDB 2019 §7.1).
  *
  * A sketch frame whose physical plan is a tail of projections and
  * windows over a final aggregate over one exchange over a partial
  * aggregate runs its partial side as ONE Spark job, planned without
  * adaptive execution. Each finished partition's buffer rows reach the
  * driver, where Spark's own merge code folds them into one buffer row
  * per group (partial-merge mode while folding, final mode when a result
  * is read), so driver state is O(groups) and the exchange, and AQE's
  * second job, are never run. The tail runs on the driver over the final
  * rows, as hillview's root finishes a histogram's CDF: a window sorts
  * them by its own required order and evaluates with Spark's window
  * evaluator, so the sort and exchange planned below it are skipped.
  *
  * A limit whose order is the grouping keys' (hillview's NextKSketch, SURVEY
  * §2.5) may sit on top of the final aggregate. No two groups tie under
  * such an order, so a group is among the K first overall only if it is
  * among the K first of every partition that holds it: each task returns
  * only the buffer rows of its partition's K smallest keys, the driver
  * keeps the K smallest after each fold, and driver state is O(K). The
  * limit then sorts, takes and projects the final rows on the driver.
  *
  * The result equals `df.collect()` with the same schema: as a multiset
  * of rows, and row for row in order under a limit. A plan of any other
  * shape (a limit ordered by an aggregate value, with an offset, or over
  * anything but the aggregate) is collected as it is.
  */
object SketchExec {

  /** `df.collect()`, in one job when the plan has the sketch shape. */
  def collect(df: DataFrame): Array[Row] = progressive(df, 1)((_, _) => ())

  /** Collect `df`, calling `emit(fractionDone, rows)` on the caller's
    * thread each time the count of finished partitions reaches one of
    * `steps` evenly spaced cuts. Every partial is the exact result over
    * the partitions finished so far; the last one has fraction 1.0 and
    * is the returned result. A frame of another shape emits once, its
    * full result. */
  def progressive(df: DataFrame, steps: Int)(emit: (Double, Array[Row]) => Unit): Array[Row] = {
    require(steps >= 1, s"steps must be positive, got $steps")
    val qe = graftexec.queryExecution(df)
    lazy val nonAdaptive = graftexec.nonAdaptive(qe)
    val shape =
      if (split(qe.sparkPlan, prepared = false).isEmpty) None
      else split(nonAdaptive.executedPlan, prepared = true)
    shape match {
      case Some(s) => graftexec.withExecutionId(nonAdaptive)(run(df, s, steps, emit))
      case None =>
        val rows = df.collect()
        emit(1.0, rows)
        rows
    }
  }

  /** `tail` holds the steps above `fin`, outermost first. `first` is set
    * when the tail is a limit ordered by the grouping keys: its count and
    * that order, on the keys themselves. */
  private final case class Shape(tail: Seq[SparkPlan], fin: BaseAggregateExec,
      side: SparkPlan, first: Option[(Int, Seq[SortOrder])] = None)

  private def unwrap(p: SparkPlan): SparkPlan = p match {
    case w: WholeStageCodegenExec => unwrap(w.child)
    case i: InputAdapter => unwrap(i.child)
    case _ => p
  }

  // Before preparation the final aggregate sits directly on the partial
  // one; after it, on the exchange that EnsureRequirements put between.
  // Grouping keys must be binary-stable, as the fold groups their bytes.
  private def split(plan: SparkPlan, prepared: Boolean): Option[Shape] = unwrap(plan) match {
    case p: ProjectExec if p.subqueries.isEmpty =>
      split(p.child, prepared).map(s => s.copy(tail = p +: s.tail))
    case w: WindowExec if w.subqueries.isEmpty =>
      split(belowWindow(w.child), prepared).map(s => s.copy(tail = w +: s.tail))
    case t: TakeOrderedAndProjectExec if t.offset == 0 && t.subqueries.isEmpty =>
      for {
        s <- split(t.child, prepared) if s.tail.isEmpty
        order <- keyOrder(t.sortOrder, s.fin)
      } yield s.copy(tail = Seq(t), first = Some((t.limit, order)))
    case f: BaseAggregateExec if f.requiredChildDistributionExpressions.isDefined &&
        f.aggregateExpressions.forall(_.mode == Final) && f.subqueries.isEmpty &&
        f.groupingExpressions.forall(g => UnsafeRowUtils.isBinaryStable(g.dataType)) =>
      val side = if (!prepared) Some(f.child) else unwrap(f.child) match {
        case e: ShuffleExchangeExec => Some(e.child)
        case _ => None
      }
      side.collect { case s if isPartial(unwrap(s)) => Shape(Nil, f, s) }
    case _ => None
  }

  // A limit's order moved onto the grouping keys, when each of its
  // expressions is a key and every key is among them.
  private def keyOrder(order: Seq[SortOrder], fin: BaseAggregateExec): Option[Seq[SortOrder]] = {
    val keys = fin.groupingExpressions.map(_.toAttribute)
    val named = fin.resultExpressions.map(e => e.exprId -> e).toMap
    def key(e: Expression): Option[Attribute] = e match {
      case a: Attribute => named.get(a.exprId).map {
        case Alias(c, _) => c
        case n => n
      }.collect { case k: Attribute if keys.exists(_.semanticEquals(k)) => k }
      case _ => None
    }
    val onKeys = order.flatMap(o => key(o.child).map(k => o.copy(child = k, sameOrderExpressions = Nil)))
    Some(onKeys).filter(o => o.size == order.size &&
      keys.forall(k => o.exists(_.child.semanticEquals(k))))
  }

  /** The rows whose keys are among the `k` smallest under `order`, in
    * that order, copied; rows of one key all stay, as a partial
    * aggregate may emit a key more than once. O(n log k). */
  private[graft] def smallest(rows: Iterator[InternalRow], k: Int,
      order: Ordering[InternalRow]): Array[InternalRow] = {
    val kept = new java.util.TreeMap[InternalRow, mutable.ArrayBuffer[InternalRow]](order)
    rows.foreach { r =>
      if (kept.size < k || (k > 0 && order.lteq(r, kept.lastKey))) {
        val c = r.copy()
        val same = kept.get(c)
        if (same != null) same += c
        else {
          kept.put(c, mutable.ArrayBuffer(c))
          if (kept.size > k) kept.pollLastEntry()
        }
      }
    }
    val out = mutable.ArrayBuffer.empty[InternalRow]
    kept.values.forEach(out ++= _)
    out.toArray
  }

  // what a window's input is sorted and moved by; the driver sorts itself
  private def belowWindow(p: SparkPlan): SparkPlan = unwrap(p) match {
    case s: SortExec => belowWindow(s.child)
    case e: ShuffleExchangeExec => belowWindow(e.child)
    case q => q
  }

  private def isPartial(p: SparkPlan): Boolean = p match {
    case a: BaseAggregateExec => a.requiredChildDistributionExpressions.isEmpty &&
      a.aggregateExpressions.forall(_.mode == Partial)
    case _ => false
  }

  private def run(df: DataFrame, s: Shape, steps: Int,
      emit: (Double, Array[Row]) => Unit): Array[Row] = {
    val rdd = s.side.execute()
    val n = rdd.getNumPartitions
    val fold = new Fold(s, df.sparkSession.sparkContext)
    val toRow = ExpressionEncoder(df.schema).resolveAndBind().createDeserializer()
    def result(done: Int): Array[Row] = {
      val rows = fold.result().map(toRow)
      emit(if (n == 0) 1.0 else done.toDouble / n, rows)
      rows
    }
    if (n == 0) return result(0)
    val cuts = mutable.Queue((1 to steps).map(i => math.max(1, n * i / steps)).distinct: _*)
    val arrived = new LinkedBlockingQueue[Array[InternalRow]]()
    // the result handler runs on the scheduler's event thread: it only
    // hands the buffers over, and the fold runs here
    val job = df.sparkSession.sparkContext.submitJob(rdd, fold.keep, 0 until n,
      (_: Int, rows: Array[InternalRow]) => arrived.put(rows), ())
    try {
      var done = 0
      var last: Array[Row] = null
      while (done < n) {
        val rows = arrived.poll(20, TimeUnit.MILLISECONDS)
        if (rows != null) {
          fold.add(rows)
          done += 1
          if (done == cuts.head) { cuts.dequeue(); last = result(done) }
        } else if (job.isCompleted) job.value.get.get // a failed job throws here
      }
      last
    } finally if (!job.isCompleted) job.cancel()
  }

  /** The aggregate's state on the driver: one partial-format buffer row
    * per group (per group among the K first under a key-ordered limit),
    * folded by `SortBasedAggregationIterator`, and the tail that turns it
    * into result rows. The mutable projections the merge asks for, the
    * key order and the tail's steps are built once per fold; only the
    * iterator's own key and output projections are built per partition. */
  private final class Fold(s: Shape, sc: SparkContext) {
    private val fin = s.fin
    // the final aggregate's merge expressions name its own copies of the
    // buffer attributes, so its input binds by position (SPARK-31620)
    private val input = {
      val buffers = fin.aggregateExpressions.flatMap(_.aggregateFunction.inputAggBufferAttributes)
      fin.child.output.dropRight(buffers.length) ++ buffers
    }
    private val keys = UnsafeProjection.create(fin.groupingExpressions, input)
    private val merging = fin.aggregateExpressions.map(_.copy(mode = PartialMerge))
    private val projections = mutable.HashMap.empty[(Seq[Expression], Seq[Attribute]), MutableProjection]
    private var state = Array.empty[InternalRow]

    /** What a task returns of its partition's buffer rows, and what the
      * state keeps after a fold: every row, or under a key-ordered limit
      * the rows of the K smallest keys. It captures no fold, as tasks
      * run it. */
    val keep: Iterator[InternalRow] => Array[InternalRow] = s.first match {
      case Some((k, order)) =>
        val onBuffers = new InterpretedOrdering(order, input)
        rows => smallest(rows, k, onBuffers)
      case None => rows => rows.map(_.copy()).toArray
    }

    private def aggregate(rows: Iterator[InternalRow], aggs: Seq[AggregateExpression],
        out: Seq[NamedExpression]) =
      new SortBasedAggregationIterator(0, fin.groupingExpressions, input, rows, aggs,
        fin.aggregateAttributes, fin.initialInputBufferOffset, out,
        (e, a) => projections.getOrElseUpdate((e, a), MutableProjection.create(e, a)),
        fin.longMetric("numOutputRows"))

    /** Merge one partition's buffers in. The iterator merges runs of
      * equal keys, so rows are first clustered by their key bytes. */
    def add(rows: Array[InternalRow]): Unit = if (rows.nonEmpty) {
      val groups = mutable.LinkedHashMap.empty[UnsafeRow, mutable.ArrayBuffer[InternalRow]]
      (state.iterator ++ rows.iterator).foreach { r =>
        groups.getOrElseUpdate(keys(r).copy(), mutable.ArrayBuffer.empty) += r
      }
      state = keep(aggregate(groups.valuesIterator.flatMap(_.iterator), merging,
        fin.groupingExpressions.map(_.toAttribute)))
    }

    // the tail, innermost step first: a projection maps each row; a
    // window sorts the rows by its required order and evaluates them as
    // one task's partition on the caller's thread; a limit sorts, takes
    // and projects
    private val tail: Seq[Array[InternalRow] => Array[InternalRow]] = s.tail.reverse.map {
      case p: ProjectExec =>
        val proj = UnsafeProjection.create(p.projectList, p.child.output)
        (in: Array[InternalRow]) => {
          proj.initialize(0)
          in.map(r => proj(r).copy())
        }
      case w: WindowExec =>
        val order = new InterpretedOrdering(w.requiredChildOrdering.head, w.child.output)
        val window = new WindowEvaluatorFactory(w.windowExpression, w.partitionSpec,
          w.orderSpec, w.child.output, w.longMetric("spillSize"))
        (in: Array[InternalRow]) => graftexec.onDriverTask(sc) {
          window.createEvaluator().eval(0, in.sorted(order).iterator).map(_.copy()).toArray
        }
      case t: TakeOrderedAndProjectExec =>
        val order = new InterpretedOrdering(t.sortOrder, t.child.output)
        val proj = UnsafeProjection.create(t.projectList, t.child.output)
        (in: Array[InternalRow]) => {
          proj.initialize(0)
          in.sorted(order).take(t.limit).map(r => proj(r).copy())
        }
    }

    /** The final rows over the state, through the tail above the
      * aggregate. With no input, a no-group aggregate still has its row. */
    def result(): Array[InternalRow] = {
      def it = aggregate(state.iterator, fin.aggregateExpressions, fin.resultExpressions)
      val rows: Array[InternalRow] =
        if (state.nonEmpty) it.map(_.copy()).toArray
        else if (fin.groupingExpressions.isEmpty) Array(it.outputForEmptyGroupingKeyWithoutInput())
        else Array.empty
      tail.foldLeft(rows)((in, step) => if (in.isEmpty) in else step(in))
    }
  }
}
