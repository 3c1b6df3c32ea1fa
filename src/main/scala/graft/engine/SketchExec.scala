package graft.engine

import java.util.concurrent.{LinkedBlockingQueue, TimeUnit}
import org.apache.spark.SparkContext
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, InterpretedOrdering, MutableProjection, NamedExpression, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Final, Partial, PartialMerge}
import org.apache.spark.sql.catalyst.util.UnsafeRowUtils
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SortExec, SparkPlan, WholeStageCodegenExec, graftexec}
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
  * evaluator, so the sort and exchange planned below it are skipped. The
  * result equals `df.collect()` as a multiset of rows with the same
  * schema. A plan of any other shape is collected as it is.
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

  /** `tail` holds the projections and windows above `fin`, outermost
    * first. */
  private final case class Shape(tail: Seq[SparkPlan], fin: BaseAggregateExec,
      side: SparkPlan)

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
    val job = df.sparkSession.sparkContext.submitJob(rdd,
      (it: Iterator[InternalRow]) => it.map(_.copy()).toArray, 0 until n,
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
    * per group, folded by `SortBasedAggregationIterator`, and the tail
    * that turns it into result rows. The mutable projections the merge
    * asks for, and the tail's steps, are built once per fold; only the
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
      state = aggregate(groups.valuesIterator.flatMap(_.iterator), merging,
        fin.groupingExpressions.map(_.toAttribute)).map(_.copy()).toArray
    }

    // the tail, innermost step first: a projection maps each row; a
    // window sorts the rows by its required order and evaluates them as
    // one task's partition on the caller's thread
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
