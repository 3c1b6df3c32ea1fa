package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable

/** Misra-Gries heavy-hitter summary as a Spark typed Aggregator over
  * string keys — re-expression of hillview's MGFreqKSketch
  * (sketches/MGFreqKSketch.java:49-175; merge at 110-125, Agarwal et al.
  * "Mergeable Summaries", TODS). The buffer is a bounded k-entry mutable
  * map (kryo-serialized only at partition boundaries; `reduce` mutates
  * in place, so the per-row cost is O(1) amortized — the immutable-Map
  * formulation copies k entries per row and is ~10× slower at 600k
  * rows). `reduce` and `merge` are the shared MG core
  * ([[MgSketch.add]], [[MgSketch.combine]]). Bounded state per partition
  * + commutative merge = Spark's partial/final aggregation contract:
  * scales to any number of executors with an O(k) driver result.
  */
object MisraGries {

  final class MGBuffer(val counts: mutable.HashMap[String, Long])
      extends Serializable

  class MGAggregator(k: Int) extends Aggregator[String, MGBuffer, Map[String, Long]] {
    override def zero: MGBuffer = new MGBuffer(mutable.HashMap.empty)

    override def reduce(b: MGBuffer, v: String): MGBuffer = {
      MgSketch.add(b.counts, v, k)(identity)
      b
    }

    override def merge(a: MGBuffer, b: MGBuffer): MGBuffer = {
      MgSketch.combine(a.counts, b.counts, k)
      a
    }

    override def finish(r: MGBuffer): Map[String, Long] = r.counts.toMap
    override def bufferEncoder: Encoder[MGBuffer] = Encoders.kryo[MGBuffer]
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }
}
