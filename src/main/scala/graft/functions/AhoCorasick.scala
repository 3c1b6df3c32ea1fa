package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Multi-pattern lexicon scan (Aho–Corasick 1975) — the C4/RefinedWeb
  * "badwords" filter shape: given a literal lexicon of m terms, find
  * every term's occurrences in every document in ONE pass over the
  * text. The naive formulation is m independent `contains()` scans per
  * row — m full passes over 100 TB of text for a 10k-term production
  * blocklist; the automaton makes the per-byte cost independent of m,
  * which is the only shape that survives at corpus scale.
  *
  * Matching semantics (chosen to be exactly replayable by a cheap
  * DuckDB oracle): per pattern, LEFTMOST-GREEDY NON-OVERLAPPING
  * substring occurrences — identical to what
  * `(length(s) - length(replace(s, p, ''))) / length(p)` counts.
  * Different patterns count independently (a "low" inside "slow"
  * matches both terms); patterns may span word boundaries (phrases
  * like "slow join" — something token-based matching cannot express).
  * Case folding is the caller's job (pass `lower(text)`).
  *
  * Execution model follows the BpeTrie pattern: the automaton is built
  * once per JVM from the literal pattern list (transient lazy), rides
  * in the generated code's references array, and the per-row work is
  * one primitive byte loop — no per-pattern lambda, nothing
  * m-proportional on the hot path. The walk runs over the
  * UTF8String's bytes directly; UTF-8 is self-synchronizing, so
  * byte-level matches are exactly codepoint-level matches, including
  * multilingual patterns (CJK, emoji).
  *
  * Reference scope note: hillview has per-column string filters
  * (`StringFilterDescription`, platform/src/main/java/org/hillview/
  * table/filters/StringFilterDescription.java) but no multi-pattern
  * primitive; this is pipeline-layer parity-plus, next to TF-IDF/BM25.
  */
object AhoCorasick {

  /** `ac_matches(text)`: sparse per-pattern match counts —
    * `array<struct<id int, cnt bigint>>` with one entry per pattern
    * that occurs in the text (ascending pattern index), `cnt` its
    * leftmost-greedy non-overlapping occurrence count. Sparse output
    * keeps the row width proportional to MATCHES, not lexicon size —
    * a 10k-term lexicon over mostly-clean text emits near-empty
    * arrays, not 10k-wide ones.
    */
  def ac_matches(text: Column, patterns: Seq[String]): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      AcMatchCounts(org.apache.spark.sql.graftshim.columnToExpr(text), patterns))

  /** The DuckDB literal VALUES list for the same lexicon — interpolated
    * into oracle SQL so engine and oracle can never desynchronize.
    * Lowercased to mirror the blocklist API's lexicon normalization
    * (the blocklist queries scan `lower(text)`). */
  def patternsSqlValues(patterns: Seq[String]): String =
    patterns.map(p => "('" + p.toLowerCase.replace("'", "''") + "')").mkString(", ")
}

/** The frozen automaton: a byte-level trie over the patterns with
  * BFS failure links, plus dictionary-suffix links so match emission
  * is O(matches), not O(depth). Two layouts behind one walker,
  * mirroring [[BpeTrie]]:
  *
  *  - FLAT (≤2048 nodes): failure transitions are PRE-RESOLVED into a
  *    full 256-way next-state table (the automaton becomes a DFA) —
  *    O(1) per byte with zero fail-chain walking, the hot path for
  *    literal lexicons;
  *  - CSR (beyond): per-node sorted edge arrays + binary search with
  *    explicit fail-link walking — O(total pattern bytes) memory, so a
  *    100k-term production blocklist is ~MBs instead of the flat
  *    table's node-count × 1 KiB.
  *
  * Scratch state for a scan (per-pattern last-match-end, the matched-id
  * list) is per-thread and GENERATION-STAMPED: arrays are allocated
  * once per thread and never cleared — a stamp mismatch means "not
  * touched this row" — so per-row setup is O(1) even at m = 100k
  * (reference objects are shared across an executor's task threads,
  * hence the ThreadLocal).
  */
final class AcAutomaton(val patterns: Array[String], layout: Int)
    extends Serializable {
  def this(patterns: Array[String]) = this(patterns, BpeTrie.LayoutAuto)

  require(patterns.nonEmpty, "empty pattern list")
  require(patterns.distinct.length == patterns.length,
    "duplicate patterns in the lexicon")
  patterns.foreach { p =>
    require(p.nonEmpty, "empty pattern")
    val bs = p.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    require(new String(bs, java.nio.charset.StandardCharsets.UTF_8) == p,
      s"pattern does not round-trip UTF-8 (unpaired surrogate?): $p")
  }

  // frozen structures, serialized with the object (the BpeTrie
  // pattern): CSR edges + fail links always; the pre-resolved DFA only
  // under the FLAT layout (null under CSR)
  private var patLenBytes: Array[Int] = _
  // node -> pattern index ending exactly at this node, or -1
  private var term: Array[Int] = _
  // node -> nearest proper-suffix node that ends a pattern, or -1
  private var dict: Array[Int] = _
  // FLAT: pre-resolved DFA, node*256 + byte -> next node (never -1)
  private var dfa: Array[Int] = _
  // CSR: sorted edges + BFS fail links
  private var csrOff: Array[Int] = _
  private var csrKeys: Array[Byte] = _
  private var csrChild: Array[Int] = _
  private var fail: Array[Int] = _
  private var nNodes: Int = 0

  build()

  private def build(): Unit = {
    val utf8 = java.nio.charset.StandardCharsets.UTF_8
    val patBytes = patterns.map(_.getBytes(utf8))
    patLenBytes = patBytes.map(_.length)
    // trie build: growable per-node sorted edge lists (byte key -> child)
    val kids = scala.collection.mutable.ArrayBuffer(
      new java.util.TreeMap[Integer, Integer]())
    val termB = scala.collection.mutable.ArrayBuffer(-1)
    var pi = 0
    while (pi < patBytes.length) {
      var node = 0
      val bs = patBytes(pi)
      var i = 0
      while (i < bs.length) {
        val b = bs(i) & 0xff
        val nxt = kids(node).get(b)
        if (nxt == null) {
          kids(node).put(b, kids.length)
          node = kids.length
          kids += new java.util.TreeMap[Integer, Integer]()
          termB += -1
        } else node = nxt
        i += 1
      }
      termB(node) = pi
      pi += 1
    }
    nNodes = kids.length
    term = termB.toArray
    // freeze edges to CSR (build substrate for both layouts)
    val nEdges = kids.iterator.map(_.size).sum
    csrOff = new Array[Int](nNodes + 1)
    csrKeys = new Array[Byte](nEdges)
    csrChild = new Array[Int](nEdges)
    var e = 0
    var n = 0
    while (n < nNodes) {
      csrOff(n) = e
      val it = kids(n).entrySet().iterator()
      while (it.hasNext) {
        val kv = it.next()
        csrKeys(e) = kv.getKey.toByte
        csrChild(e) = kv.getValue
        e += 1
      }
      n += 1
    }
    csrOff(nNodes) = e
    // BFS failure + dictionary-suffix links
    fail = new Array[Int](nNodes)
    dict = new Array[Int](nNodes)
    java.util.Arrays.fill(dict, -1)
    val queue = new java.util.ArrayDeque[Integer]()
    var i = csrOff(0)
    while (i < csrOff(1)) { // depth-1 children fail to root
      fail(csrChild(i)) = 0
      queue.add(csrChild(i))
      i += 1
    }
    while (!queue.isEmpty) {
      val u = queue.poll()
      dict(u) = if (term(fail(u)) >= 0) fail(u) else dict(fail(u))
      var j = csrOff(u)
      while (j < csrOff(u + 1)) {
        val b = csrKeys(j) & 0xff
        val v = csrChild(j)
        // walk u's fail chain to find the deepest state with a b-edge
        var f = fail(u)
        var fn = csrEdge(f, b)
        while (fn < 0 && f != 0) { f = fail(f); fn = csrEdge(f, b) }
        fail(v) = if (fn >= 0) fn else 0
        queue.add(v)
        j += 1
      }
    }
    val flat = layout match {
      case BpeTrie.LayoutFlat => true
      case BpeTrie.LayoutCompact => false
      case _ => nNodes <= 2048
    }
    if (flat) {
      // strict: nNodes == 2^23 makes (nNodes << 8) == 2^31 overflow Int
      require(nNodes < (1 << 23), s"forced-flat automaton too large ($nNodes nodes)")
      dfa = new Array[Int](nNodes << 8)
      // root row first, then BFS order guarantees fail(u) is resolved
      var b = 0
      while (b < 256) {
        val c = csrEdge(0, b)
        dfa(b) = if (c >= 0) c else 0
        b += 1
      }
      val q2 = new java.util.ArrayDeque[Integer]()
      var k = csrOff(0)
      while (k < csrOff(1)) { q2.add(csrChild(k)); k += 1 }
      while (!q2.isEmpty) {
        val u = q2.poll()
        var bb = 0
        while (bb < 256) {
          val c = csrEdge(u, bb)
          dfa((u << 8) | bb) = if (c >= 0) { q2.add(c); c }
            else dfa((fail(u) << 8) | bb)
          bb += 1
        }
      }
    } else dfa = null
  }

  private def csrEdge(node: Int, b: Int): Int = {
    var lo = csrOff(node)
    var hi = csrOff(node + 1) - 1
    while (lo <= hi) {
      val mid = (lo + hi) >>> 1
      val k = csrKeys(mid) & 0xff
      if (k == b) return csrChild(mid)
      else if (k < b) lo = mid + 1
      else hi = mid - 1
    }
    -1
  }

  /** Per-thread scan scratch, generation-stamped so reset is O(1). */
  private final class Scratch {
    val lastEnd = new Array[Int](patterns.length)
    // Long generation stamp: an Int would wrap after 2^32 rows on one
    // executor thread and could alias a stale stamp (treating a previous
    // row's lastEnd/cnt as current) — plausible at per-JVM 100 TB scale
    val stamp = new Array[Long](patterns.length)
    val cnt = new Array[Long](patterns.length)
    var matched = new Array[Int](16)
    var gen = 0L
  }
  @transient private lazy val scratch: ThreadLocal[Scratch] =
    ThreadLocal.withInitial(() => new Scratch)

  /** One-pass scan: sparse `(pattern id, non-overlap count)` pairs,
    * ascending id, as Catalyst rows. */
  def matchCounts(s: UTF8String): ArrayData = {
    val sc = scratch.get()
    sc.gen += 1
    val gen = sc.gen
    var nMatched = 0
    val bytes = s.getBytes // zero-copy when the UTF8String is array-backed
    val len = bytes.length
    var node = 0
    var i = 0
    if (dfa ne null) {
      while (i < len) {
        node = dfa((node << 8) | (bytes(i) & 0xff))
        if (term(node) >= 0 || dict(node) >= 0)
          nMatched = emit(sc, node, i, gen, nMatched)
        i += 1
      }
    } else {
      while (i < len) {
        val b = bytes(i) & 0xff
        var nxt = csrEdge(node, b)
        while (nxt < 0 && node != 0) { node = fail(node); nxt = csrEdge(node, b) }
        node = if (nxt >= 0) nxt else 0
        if (term(node) >= 0 || dict(node) >= 0)
          nMatched = emit(sc, node, i, gen, nMatched)
        i += 1
      }
    }
    // matched ids arrive in first-occurrence order; sort for a canonical
    // ascending-id output (match counts are tiny: O(distinct terms hit))
    val ids = java.util.Arrays.copyOf(sc.matched, nMatched)
    java.util.Arrays.sort(ids)
    val out = new Array[Any](nMatched)
    var k = 0
    while (k < nMatched) {
      out(k) = InternalRow(ids(k), sc.cnt(ids(k)))
      k += 1
    }
    new GenericArrayData(out)
  }

  /** Record every pattern ending at `node` (its own term + the
    * dictionary-suffix chain), honoring per-pattern non-overlap. */
  private def emit(sc: Scratch, node: Int, endIdx: Int, gen: Long,
      nMatched0: Int): Int = {
    var nMatched = nMatched0
    var u = if (term(node) >= 0) node else dict(node)
    while (u >= 0) {
      val p = term(u)
      val start = endIdx - patLenBytes(p) + 1
      if (sc.stamp(p) != gen) {
        sc.stamp(p) = gen
        sc.cnt(p) = 1L
        sc.lastEnd(p) = endIdx
        if (nMatched == sc.matched.length)
          sc.matched = java.util.Arrays.copyOf(sc.matched, nMatched * 2)
        sc.matched(nMatched) = p
        nMatched += 1
      } else if (start > sc.lastEnd(p)) {
        sc.cnt(p) += 1L
        sc.lastEnd(p) = endIdx
      }
      u = dict(u)
    }
    nMatched
  }

  /** Frozen-structure footprint in bytes (heap-gate surface). */
  def storageBytes: Long = {
    val shared = 4L * term.length + 4L * dict.length + 4L * fail.length +
      4L * csrOff.length + csrKeys.length + 4L * csrChild.length
    if (dfa ne null) shared + 4L * dfa.length else shared
  }

  def isFlat: Boolean = dfa ne null
}

/** Codegen expression: sparse per-pattern match counts of a string
  * under a literal lexicon — `array<struct<id:int, cnt:bigint>>`. The
  * automaton is rebuilt lazily per JVM and referenced from the
  * generated code; the hot path is one call into a primitive byte
  * loop, inside whole-stage codegen like [[BpeCountTokens]].
  */
case class AcMatchCounts(child: Expression, patterns: Seq[String],
    layout: Int = BpeTrie.LayoutAuto)
    extends UnaryExpression {
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", IntegerType, nullable = false),
    StructField("cnt", LongType, nullable = false))), containsNull = false)

  @transient private lazy val ac = new AcAutomaton(patterns.toArray, layout)

  override def nullSafeEval(v: Any): Any =
    ac.matchCounts(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("acAutomaton", ac, classOf[AcAutomaton].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.matchCounts($c);")
  }

  override def prettyName: String = "ac_matches"
  override protected def withNewChildInternal(newChild: Expression): AcMatchCounts =
    copy(child = newChild)
}
