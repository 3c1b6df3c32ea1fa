package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, CodegenFallback, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Subword tokenization as the token-budget currency.
  *
  * Every token-budget operator in the pipeline layer (`packSequences`,
  * `corpusMix`, temperature mixing) previously budgeted in WHITESPACE
  * tokens; real training pipelines budget in subword tokens (BPE —
  * Sennrich et al. 2016; WordPiece — Wu et al. 2016), which differ from
  * word counts by 1.3–1.8× on English text and far more on code or
  * non-Latin scripts. This module provides the deterministic encoder:
  * greedy longest-match against a LITERAL bounded vocabulary (the
  * inference-time algorithm of WordPiece; the trained merge list is an
  * input, not something the engine learns), with unmatched characters
  * falling back to one token each (the byte-fallback convention).
  *
  * Execution model follows the FloatVecDot/Int8Quantize pattern: a
  * custom codegen expression whose per-row work is ONE primitive trie
  * walk over the string — no per-token lambda, no array
  * materialization, no boxed higher-order functions. The vocabulary
  * rides along as a broadcast-sized reference object (kilobytes) inside
  * the generated code's references array, so a 100 TB scan pays one
  * virtual call per row.
  *
  * Semantics contract (replayed exactly by the DuckDB oracle through a
  * recursive CTE over the same literal vocab):
  *  - input is matched within whitespace-separated words (vocab entries
  *    never contain spaces; the walk stops at ' ');
  *  - at each position the LONGEST vocab prefix wins; on no match one
  *    CODEPOINT is one token (advance a full UTF-8 sequence — the
  *    oracle's `substr`/`ascii` are codepoint-based, and a UTF-16
  *    code-unit walk would desync on astral-plane input);
  *  - empty words (consecutive spaces) contribute nothing.
  */
object BpeTokenizer {

  /** Literal default vocabulary: whole high-frequency words plus
    * subword fragments, so common corpus words tokenize to 1 token and
    * the rest split into 2–4 — including overlapping entries ("join"
    * vs "jo"/"in", "order" vs "or"/"der") so greedy longest-match is
    * actually exercised, not vacuous. ~50 entries ≈ a merge table
    * truncated to the corpus domain; production swaps in its trained
    * list (the algorithm is vocabulary-agnostic).
    */
  val defaultVocab: Seq[String] = Seq(
    // whole words (win by longest-match over their fragments)
    "the", "data", "join", "hash", "order", "table", "stream",
    "query", "value", "column", "filter", "window", "customer",
    // prefixes / suffixes / fragments
    "a", "agg", "an", "at", "ba", "big", "ch", "co", "der", "er",
    "fa", "gro", "in", "jo", "key", "li", "line", "lumn", "me", "mer",
    "ne", "or", "ow", "part", "qu", "row", "scan", "sl", "small",
    "sort", "st", "tch", "up", "ue", "val", "vec", "wind")

  /** `bpe_count(text)`: subword-token count of a string column under
    * the vocab — the budget-currency column expression. */
  def bpe_count(text: Column, vocab: Seq[String] = defaultVocab): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      BpeCountTokens(org.apache.spark.sql.graftshim.columnToExpr(text), vocab))

  /** `bpe_encode(text)`: the token-ID array (`input_ids`) — vocab match
    * → its index, unmatched char c → vocab.size + codepoint(c) (the
    * byte-fallback block). `size(bpe_encode(t)) == bpe_count(t)`. */
  def bpe_encode(text: Column, vocab: Seq[String] = defaultVocab): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      BpeEncodeTokens(org.apache.spark.sql.graftshim.columnToExpr(text), vocab))

  /** `bpe_decode(ids)`: id array → text. Inverse of [[bpe_encode]] up
    * to word boundaries (encode drops spaces): every matched token
    * decodes to its literal entry and every fallback id to its
    * character, so `bpe_decode(bpe_encode(t)) == t minus spaces` —
    * exactly, for any input (the invertibility oracle). */
  def bpe_decode(ids: Column, vocab: Seq[String] = defaultVocab): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      BpeDecodeTokens(org.apache.spark.sql.graftshim.columnToExpr(ids), vocab))

  /** The DuckDB literal list for the same vocab — interpolated into
    * oracle SQL so engine and oracle can never desynchronize. Single
    * quotes are SQL-doubled: a trained vocab may carry apostrophes
    * (e.g. a learned "n't" merge). */
  def vocabSqlList(vocab: Seq[String] = defaultVocab): String =
    vocab.map(v => "'" + v.replace("'", "''") + "'").mkString("[", ", ", "]")

  // ── GPT-2 byte-level alphabet (Radford et al. 2019, encoder.py's
  // bytes_to_unicode — public domain algorithm) ──────────────────────
  //
  // Every BYTE 0..255 gets a printable unicode stand-in: the three
  // printable latin-1 ranges map to themselves ('!'..'~', '¡'..'¬',
  // '®'..'ÿ') and the remaining 68 bytes (controls, space, DEL, …) map
  // to 256+n in first-gap order — so ' ' becomes 'Ġ' (0x120), '\n'
  // becomes 'Ċ', and EVERY byte sequence round-trips through ordinary
  // strings. This is what lets real BPE vocabs carry whitespace inside
  // tokens ("Ġthe") instead of dropping it at word boundaries.

  /** mapped codepoint per byte value 0..255 */
  val bytesToUnicode: Array[Int] = {
    val out = new Array[Int](256)
    var n = 0
    (0 until 256).foreach { b =>
      val printable = (b >= '!' && b <= '~') || (b >= 0xa1 && b <= 0xac) ||
        (b >= 0xae && b <= 0xff)
      if (printable) out(b) = b
      else { out(b) = 256 + n; n += 1 }
    }
    out
  }

  /** byte-level encode of a string: each UTF-8 BYTE becomes its mapped
    * unicode stand-in character (so a 2-byte é becomes two chars). */
  def byteEncodeString(s: String): String = {
    val bs = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val sb = new java.lang.StringBuilder(bs.length)
    bs.foreach(b => sb.append(bytesToUnicode(b & 0xff).toChar))
    sb.toString
  }

  /** The byte-level vocabulary: the word vocab in byte-alphabet space
    * plus the leading-space ("Ġ"-prefixed) merge of every entry — the
    * GPT-2 vocab shape, where " the" is ONE token "Ġthe". ASCII entries
    * map to themselves, so ids 0..|V|-1 coincide with the word vocab's
    * (the ASCII-agreement fuzz gate rides on exactly this). */
  val byteVocab: Seq[String] =
    defaultVocab.map(byteEncodeString) ++
      defaultVocab.map(w => "Ġ" + byteEncodeString(w))

  /** `byte_unicode(text)`: the byte-level encode as a column. */
  def byte_unicode(text: Column): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      Utf8BytesToUnicode(org.apache.spark.sql.graftshim.columnToExpr(text)))

  /** inverse of [[byte_unicode]]: mapped stand-in characters back to the
    * original bytes — the decode half of the lossless round trip. */
  def byte_unicode_decode(text: Column): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      Utf8BytesFromUnicode(org.apache.spark.sql.graftshim.columnToExpr(text)))

  /** byte-level token count: byte-map then greedy trie over [[byteVocab]] */
  def bpe_count_bytes(text: Column): Column =
    bpe_count(byte_unicode(text), byteVocab)
}

/** UTF-8 BYTE-level trie for greedy longest-match (alphabet 256):
  * vocab entries may be any space-free UTF-8 strings (multilingual
  * merges, CJK, emoji). The walk runs directly over the UTF8String's
  * bytes — no String materialization per row. A match always covers
  * whole codepoints (entries are valid UTF-8, so a byte-prefix match
  * of an entry IS a character-prefix match — UTF-8 is prefix-
  * preserving and self-synchronizing); on no match the fallback
  * consumes ONE CODEPOINT (1–4 bytes) and its id is
  * `vocab.length + codepoint`, which keeps the per-character DuckDB
  * oracles (`substr`/`ascii` are codepoint-based) exactly in sync,
  * including astral-plane input where a UTF-16 walk would desync.
  *
  * Two frozen layouts behind one walker:
  *  - FLAT: one 256-wide int dispatch row per node — O(1)/byte, the
  *    hot path for literal/test vocabs (≤16 KiB of entry bytes);
  *  - CSR: per-node sorted edge arrays + binary search — O(edges)
  *    memory for production vocabs (a 50k-entry vocab is ~a few MB
  *    where FLAT would be hundreds; parity-gated in PropertySpec).
  */
final class BpeTrie(val vocab: Array[String], layout: Int)
    extends Serializable {
  def this(vocab: Array[String]) = this(vocab, BpeTrie.LayoutAuto)

  // frozen structures; exactly one of (flatChildren) / (csrOff, csrKeys,
  // csrChild) is non-null. term(node) = vocab index + 1 (0 = interior).
  // (single tuple val + projections — typed destructuring patterns
  // would MatchError on the null layout slots)
  private val frozen: (Array[Int], Array[Int], Array[Int], Array[Byte],
      Array[Int]) = {
    val vbytes = vocab.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // build-time adjacency: per node a packed (byte << 24 | child) list
    val kids = scala.collection.mutable.ArrayBuffer(
      new scala.collection.mutable.ArrayBuffer[Int]())
    val terms = scala.collection.mutable.ArrayBuffer(0)
    vocab.zip(vbytes).zipWithIndex.foreach { case ((v, bs), vi) =>
      require(bs.nonEmpty, "empty vocab entry")
      require(!bs.contains(' '.toByte), s"vocab must be space-free: '$v'")
      // getBytes(UTF_8) silently replaces unpaired surrogates with '?',
      // which would collide with literal '?' entries (and each other) —
      // demand well-formed entries instead
      require(new String(bs, java.nio.charset.StandardCharsets.UTF_8) == v,
        s"vocab entry is not valid UTF-8 (unpaired surrogate?): '$v'")
      var node = 0
      var i = 0
      while (i < bs.length) {
        val b = bs(i) & 0xFF
        var nxt = -1
        val row = kids(node)
        var k = 0
        while (nxt == -1 && k < row.length) {
          if ((row(k) >>> 24) == b) nxt = row(k) & 0xFFFFFF
          k += 1
        }
        if (nxt == -1) {
          nxt = kids.length
          require(nxt < (1 << 24), "vocab too large for trie node ids")
          row += (b << 24) | nxt
          kids += new scala.collection.mutable.ArrayBuffer[Int]()
          terms += 0
        }
        node = nxt
        i += 1
      }
      terms(node) = vi + 1
    }
    val n = kids.length
    // layout decision AFTER the adjacency exists: flat memory is
    // O(nodes·1 KiB), so the auto threshold keys on the NODE COUNT
    // (2048 nodes = a 2 MiB dispatch table serialized into the plan),
    // not on entry bytes — a prefix-free vocab has ~one node per byte
    val useFlat = layout match {
      case BpeTrie.LayoutFlat    => true
      case BpeTrie.LayoutCompact => false
      case _                     => n <= 2048
    }
    if (useFlat) {
      // n*256 overflows Int past 8.4M nodes and (node << 8) would wrap
      // — the 24-bit node-id require above only guards the CSR path.
      // STRICT bound: at n == 2^23 exactly, n*256 == 2^31 already
      // overflows Int (the allocation below would throw
      // NegativeArraySizeException instead of this clear error)
      require(n < (1 << 23),
        s"flat trie layout capped below ${1 << 23} nodes (got $n); use CSR")
      val flat = Array.fill(n * 256)(-1)
      var node = 0
      while (node < n) {
        kids(node).foreach(e => flat((node << 8) | (e >>> 24)) = e & 0xFFFFFF)
        node += 1
      }
      (terms.toArray, flat, null, null, null)
    } else {
      val nEdges = kids.iterator.map(_.length).sum
      val off = new Array[Int](n + 1)
      val keys = new Array[Byte](nEdges)
      val child = new Array[Int](nEdges)
      var p = 0
      var node = 0
      while (node < n) {
        off(node) = p
        kids(node).sortBy(_ >>> 24).foreach { e =>
          keys(p) = (e >>> 24).toByte
          child(p) = e & 0xFFFFFF
          p += 1
        }
        node += 1
      }
      off(n) = p
      (terms.toArray, null, off, keys, child)
    }
  }
  private val term = frozen._1
  private val flatChildren = frozen._2
  private val csrOff = frozen._3
  private val csrKeys = frozen._4
  private val csrChild = frozen._5

  /** Child of `node` along byte `b` (0–255), -1 if none. */
  @inline private def step(node: Int, b: Int): Int =
    if (flatChildren ne null) flatChildren((node << 8) | b)
    else {
      var lo = csrOff(node)
      var hi = csrOff(node + 1) - 1
      var found = -1
      while (found == -1 && lo <= hi) {
        val mid = (lo + hi) >>> 1
        val k = csrKeys(mid) & 0xFF
        if (k == b) found = csrChild(mid)
        else if (k < b) lo = mid + 1
        else hi = mid - 1
      }
      found
    }

  /** Longest vocab byte-prefix at byte offset `i`, packed as
    * `(byteLen.toLong << 32) | (vocabIndex + 1)`; 0 = no match. */
  private def matchBest(s: UTF8String, i: Int, len: Int): Long = {
    var node = 0
    var j = i
    var best = 0L
    var walking = true
    while (walking && j < len) {
      val b = s.getByte(j) & 0xFF
      if (b == 0x20) walking = false
      else {
        val nxt = step(node, b)
        if (nxt == -1) walking = false
        else {
          node = nxt
          j += 1
          if (term(node) > 0) best = ((j - i).toLong << 32) | term(node).toLong
        }
      }
    }
    best
  }

  /** Byte width of the UTF-8 sequence starting at `i` (clamped to the
    * remaining bytes — a truncated tail still advances). */
  @inline private def cpWidth(s: UTF8String, i: Int, len: Int): Int = {
    val nb = UTF8String.numBytesForFirstByte(s.getByte(i))
    if (i + nb <= len) nb else 1
  }

  /** Codepoint of the `nb`-byte UTF-8 sequence at `i`. */
  private def codePoint(s: UTF8String, i: Int, nb: Int): Int = {
    val b0 = s.getByte(i) & 0xFF
    nb match {
      case 1 => b0
      case 2 => ((b0 & 0x1F) << 6) | (s.getByte(i + 1) & 0x3F)
      case 3 => ((b0 & 0x0F) << 12) | ((s.getByte(i + 1) & 0x3F) << 6) |
        (s.getByte(i + 2) & 0x3F)
      case _ => ((b0 & 0x07) << 18) | ((s.getByte(i + 1) & 0x3F) << 12) |
        ((s.getByte(i + 2) & 0x3F) << 6) | (s.getByte(i + 3) & 0x3F)
    }
  }

  /** One pass over the bytes: spaces delimit words for free (vocab is
    * space-free so a match can never cross a boundary; 0x20 never
    * occurs inside a multi-byte UTF-8 sequence). */
  def countTokens(s: UTF8String): Long = {
    var n = 0L
    var i = 0
    val len = s.numBytes()
    while (i < len) {
      if ((s.getByte(i) & 0xFF) == 0x20) i += 1
      else {
        val m = (matchBest(s, i, len) >>> 32).toInt
        i += (if (m > 0) m else cpWidth(s, i, len)) // no match: 1 codepoint = 1 token
        n += 1L
      }
    }
    n
  }

  def count(str: String): Long = countTokens(UTF8String.fromString(str))

  def encodeIds(s: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(encodeUtf8(s))

  /** Greedy longest-match token IDS: vocab match → its index; fallback
    * codepoint c → vocab.length + c (the fallback id block — one id per
    * CODEPOINT, so astral characters are one token, not two).
    * `countTokens(s) == encodeUtf8(s).length` by construction. */
  def encodeUtf8(s: UTF8String): Array[Int] = {
    val len = s.numBytes()
    val out = new scala.collection.mutable.ArrayBuffer[Int](len / 3 + 4)
    var i = 0
    while (i < len) {
      if ((s.getByte(i) & 0xFF) == 0x20) i += 1
      else {
        val best = matchBest(s, i, len)
        if (best != 0L) {
          out += (best & 0xFFFFFFFFL).toInt - 1
          i += (best >>> 32).toInt
        } else {
          val nb = cpWidth(s, i, len)
          out += vocab.length + codePoint(s, i, nb)
          i += nb
        }
      }
    }
    out.toArray
  }

  def encode(str: String): Array[Int] = encodeUtf8(UTF8String.fromString(str))

  /** Frozen-structure footprint in bytes (the heap-gate surface: CSR is
    * O(edges) ≈ O(total vocab bytes); FLAT is O(nodes·1 KiB)). */
  def storageBytes: Long =
    if (flatChildren ne null) 4L * flatChildren.length + 4L * term.length
    else 4L * csrOff.length + csrKeys.length + 4L * csrChild.length +
      4L * term.length
}

object BpeTrie {
  /** FLAT when total entry bytes ≤16 KiB, CSR beyond. */
  val LayoutAuto = 0
  /** Force the O(1)/byte 256-way dispatch layout (tests). */
  val LayoutFlat = 1
  /** Force the O(edges)-memory sorted-edge layout (tests). */
  val LayoutCompact = 2
}

/** Codegen expression: GPT-2 bytes-to-unicode encode — every UTF-8
  * BYTE of the input becomes its printable stand-in character (see
  * [[BpeTokenizer.bytesToUnicode]]). One primitive byte walk per row;
  * mapped codepoints are ≤ 323, so the output is plain 1–2-byte UTF-8.
  */
case class Utf8BytesToUnicode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType

  def encodeBytes(v: UTF8String): UTF8String = {
    val bs = v.getBytes
    val sb = new java.lang.StringBuilder(bs.length)
    var i = 0
    while (i < bs.length) {
      sb.append(BpeTokenizer.bytesToUnicode(bs(i) & 0xff).toChar); i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override def nullSafeEval(v: Any): Any =
    encodeBytes(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteUni", this, classOf[Utf8BytesToUnicode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encodeBytes($c);")
  }

  override def prettyName: String = "byte_unicode"
  override protected def withNewChildInternal(newChild: Expression): Utf8BytesToUnicode =
    copy(child = newChild)
}

/** Codegen expression: the INVERSE byte-level map — every stand-in
  * character becomes its original byte, so
  * `from(to(x)) == x` bit-exactly for any input. A codepoint outside
  * the 324-entry alphabet is a corrupted sequence and errors loudly
  * (the [[BpeDecodeTokens]] convention, not silent skipping).
  */
case class Utf8BytesFromUnicode(child: Expression) extends UnaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.StringType

  def decodeBytes(v: UTF8String): UTF8String = {
    val str = v.toString
    val out = new java.io.ByteArrayOutputStream(str.length)
    var i = 0
    while (i < str.length) {
      val cp = str.charAt(i).toInt // alphabet is BMP, ≤ 0x143
      val b = Utf8BytesFromUnicode.inverse(
        if (cp < Utf8BytesFromUnicode.inverse.length) cp else 0)
      if (b < 0 || cp >= Utf8BytesFromUnicode.inverse.length)
        throw new IllegalArgumentException(
          s"byte_unicode_decode: codepoint $cp is not in the GPT-2 byte alphabet")
      out.write(b); i += 1
    }
    UTF8String.fromBytes(out.toByteArray)
  }

  override def nullSafeEval(v: Any): Any =
    decodeBytes(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("byteUniDec", this, classOf[Utf8BytesFromUnicode].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.decodeBytes($c);")
  }

  override def prettyName: String = "byte_unicode_decode"
  override protected def withNewChildInternal(newChild: Expression): Utf8BytesFromUnicode =
    copy(child = newChild)
}

object Utf8BytesFromUnicode {
  /** mapped codepoint → original byte (−1 = not in the alphabet) */
  private[functions] val inverse: Array[Int] = {
    val inv = Array.fill(324)(-1)
    (0 until 256).foreach(b => inv(BpeTokenizer.bytesToUnicode(b)) = b)
    inv
  }
}

/** Codegen expression: subword-token count of a string under a literal
  * vocab. The trie is rebuilt lazily per JVM (transient) and referenced
  * from the generated code — the hot path is one call into a primitive
  * char loop, fully inside whole-stage codegen like FloatVecDot.
  */
case class BpeCountTokens(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType = LongType

  @transient private lazy val trie = new BpeTrie(vocab.toArray)

  override def nullSafeEval(v: Any): Any =
    trie.countTokens(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTrie", trie, classOf[BpeTrie].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.countTokens($c);")
  }

  override def prettyName: String = "bpe_count"
  override protected def withNewChildInternal(newChild: Expression): BpeCountTokens =
    copy(child = newChild)
}

/** Token ids → text (inverse of [[BpeEncodeTokens]] up to the spaces
  * encode drops): vocab ids decode to their literal entries, byte-
  * fallback ids to their characters. Unknown ids (negative, or past
  * the fallback block) yield null — a corrupted sequence should be
  * visible, not silently skipped.
  */
case class BpeDecodeTokens(child: Expression, vocab: Seq[String])
    extends UnaryExpression with CodegenFallback {
  // CodegenFallback on purpose: decode is an inspection/debug surface
  // (look inside a packed batch), never a corpus-width hot path
  override def dataType: DataType = org.apache.spark.sql.types.StringType

  @transient private lazy val entries: Array[UTF8String] =
    vocab.map(UTF8String.fromString).toArray

  override def nullable: Boolean = true

  override def nullSafeEval(v: Any): Any = {
    val in = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    val sb = new java.lang.StringBuilder
    var i = 0
    val n = in.numElements()
    while (i < n) {
      val id = in.getInt(i)
      if (id >= 0 && id < entries.length) sb.append(entries(id).toString)
      else if (id >= entries.length && id < entries.length + 0x110000)
        sb.appendCodePoint(id - entries.length)
      else return null
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }

  override def prettyName: String = "bpe_decode"
  override protected def withNewChildInternal(newChild: Expression): BpeDecodeTokens =
    copy(child = newChild)
}

/** One BPE merge step applied to a symbol array: left-to-right
  * non-overlapping replacement of adjacent (a, b) with a+b — the inner
  * map of BPE training. Codegen (one primitive loop per word), not an
  * interpreted aggregate() fold: training runs this once per word per
  * merge step over the vocabulary table.
  */
case class BpeMergeApply(child: Expression, a: String, b: String)
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.StringType, containsNull = false)

  private def m: String = a + b

  override def nullSafeEval(v: Any): Any = {
    val in = v.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
    BpeMergeApply.merge(in, UTF8String.fromString(a), UTF8String.fromString(b),
      UTF8String.fromString(m))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ua = ctx.addReferenceObj("mergeA", UTF8String.fromString(a),
      classOf[UTF8String].getName)
    val ub = ctx.addReferenceObj("mergeB", UTF8String.fromString(b),
      classOf[UTF8String].getName)
    val um = ctx.addReferenceObj("mergeM", UTF8String.fromString(m),
      classOf[UTF8String].getName)
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.BpeMergeApply.merge($c, $ua, $ub, $um);")
  }

  override def prettyName: String = "bpe_merge_apply"
  override protected def withNewChildInternal(newChild: Expression): BpeMergeApply =
    copy(child = newChild)
}

object BpeMergeApply {
  def apply_merge(syms: Column, a: String, b: String): Column =
    org.apache.spark.sql.graftshim.exprToColumn(
      BpeMergeApply(org.apache.spark.sql.graftshim.columnToExpr(syms), a, b))

  /** Static so generated code can call it: left-to-right scan, merged
    * element never re-merges within the same step. */
  def merge(in: org.apache.spark.sql.catalyst.util.ArrayData,
      a: UTF8String, b: UTF8String,
      m: UTF8String): org.apache.spark.sql.catalyst.util.ArrayData = {
    val n = in.numElements()
    val out = new java.util.ArrayList[UTF8String](n)
    var i = 0
    while (i < n) {
      val x = in.getUTF8String(i)
      if (i + 1 < n && x.equals(a) && in.getUTF8String(i + 1).equals(b)) {
        out.add(m)
        i += 2
      } else {
        out.add(x)
        i += 1
      }
    }
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.toArray(new Array[AnyRef](out.size())))
  }
}

/** Codegen expression: the token-ID array of a string under a literal
  * vocab — `input_ids` materialization for sequence packing. Same trie
  * walk as [[BpeCountTokens]], emitting ids instead of a count.
  */
case class BpeEncodeTokens(child: Expression, vocab: Seq[String])
    extends UnaryExpression {
  override def dataType: DataType =
    org.apache.spark.sql.types.ArrayType(
      org.apache.spark.sql.types.IntegerType, containsNull = false)

  @transient private lazy val trie = new BpeTrie(vocab.toArray)

  override def nullSafeEval(v: Any): Any =
    trie.encodeIds(v.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bpeTrie", trie, classOf[BpeTrie].getName)
    nullSafeCodeGen(ctx, ev, c => s"${ev.value} = $ref.encodeIds($c);")
  }

  override def prettyName: String = "bpe_encode"
  override protected def withNewChildInternal(newChild: Expression): BpeEncodeTokens =
    copy(child = newChild)
}
