package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import scala.collection.mutable

/** Min-K-hash distinct-value sampler — hillview's
  * SampleDistinctElementsSketch (result MinKSet): keep the K distinct
  * values with the smallest hashes; at the root they form approximate
  * equi-depth boundaries over the distinct-value space (string histogram
  * bucket edges, QuantilesArgs.java:35-69).
  *
  * A uniform sample of *distinct* values (dedup by hash, not frequency)
  * with O(K) mergeable state — the textbook KMV sketch. Deterministic:
  * xxhash64, no RNG.
  */
object MinKHash {

  final class KMVBuffer(val m: mutable.TreeMap[Long, String]) extends Serializable

  class MinKAggregator(k: Int) extends Aggregator[String, KMVBuffer, Seq[String]] {
    override def zero: KMVBuffer = new KMVBuffer(mutable.TreeMap.empty)

    private def insert(b: KMVBuffer, h: Long, v: String): Unit = {
      val m = b.m
      if (m.size < k) m.update(h, v)
      else if (h < m.lastKey) { m.remove(m.lastKey); m.update(h, v) }
    }

    override def reduce(b: KMVBuffer, v: String): KMVBuffer = {
      if (v != null) {
        // full UTF-8 byte length (v.length would truncate non-ASCII) and a
        // 64-bit hash so distinct values virtually never collide in the KMV
        val bytes = v.getBytes("UTF-8")
        val h = org.apache.spark.sql.catalyst.expressions.XXH64.hashUnsafeBytes(
          bytes, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
          bytes.length, 42L)
        insert(b, h, v)
      }
      b
    }

    override def merge(a: KMVBuffer, b: KMVBuffer): KMVBuffer = {
      b.m.foreach { case (h, v) => insert(a, h, v) }
      a
    }

    /** Distinct sampled values in natural order (boundary candidates). */
    override def finish(r: KMVBuffer): Seq[String] = r.m.values.toSeq.distinct.sorted
    override def bufferEncoder: Encoder[KMVBuffer] = Encoders.kryo[KMVBuffer]
    override def outputEncoder: Encoder[Seq[String]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]()
  }
}
