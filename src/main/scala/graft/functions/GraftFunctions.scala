package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** JVM inner loops for the two hot per-row kernels. Called from generated
  * code (one static call per row, loop inside) — this keeps whole-stage
  * codegen intact while avoiding per-element Catalyst interpretation,
  * which profiling showed dominates d03/s0x at bench scale (SURVEY.md §4
  * nominated a custom expression as exactly this fallback).
  *
  * Values are BIT-IDENTICAL to the built-in formulations they replace
  * (and to the DuckDB oracle): same md5, same 15-hex-char prefix parse,
  * same (a_i*x + b_i) mod p family, same int64 dot product.
  */
object GraftHash {
  val P = 1000000007L
  val NumHashes = 15
  val ShingleLen = 8

  private val mdLocal =
    new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }

  /** First 60 bits (15 hex chars) of md5(bytes[off, off+len)) as a
    * non-negative long — the prefix parse the dedup family publishes.
    */
  def md5Head60(bytes: Array[Byte], off: Int, len: Int): Long =
    md5Head64(bytes, off, len) >>> 4

  /** First 8 digest bytes (16 hex chars) of md5(bytes[off, off+len))
    * as a big-endian long, via a THREAD-LOCAL MessageDigest (executors
    * call from many task threads; getInstance per call was the old
    * per-row cost). r15 note: a hand-rolled one-block MD5 compression
    * was tried here and measured ~1.5x SLOWER than MessageDigest on
    * this JVM — HotSpot intrinsifies MD5 (md5_implCompress, JDK 16+),
    * so the library call IS the fast path; do not re-inline it.
    * Md5KernelSpec pins the 60-bit prefix against an independent
    * hex-string parse.
    */
  def md5Head64(bytes: Array[Byte], off: Int, len: Int): Long = {
    val md = mdLocal.get()
    md.update(bytes, off, len)
    val d = md.digest() // digest() also resets for the next round
    var x = 0L
    var k = 0
    while (k < 8) { x = (x << 8) | (d(k) & 0xffL); k += 1 }
    x
  }

  /** SimHash over single-space-delimited tokens: for hex position j
    * (1..16) of each token's md5, sum the nibble values across ALL
    * tokens (multiset — split semantics keep empty tokens, including
    * the [""] of an empty text) and emit '1' iff 2*sum > 15*n_tokens.
    * Bit-identical to the d04 SQL chain
    *   concat_{j=1..16}(CASE WHEN 2 * aggregate(th, 0L, (acc, h) ->
    *     acc + (instr('0123456789abcdef', substring(h, j, 1)) - 1)) >
    *     15 * size(th) THEN '1' ELSE '0' END)
    * over th = transform(split(text, ' '), t -> md5(t)) — but ONE pass
    * over the text bytes with one one-block md5 per token, instead of
    * 16 interpreted ArrayAggregate folds over materialized hex strings
    * (' ' is a single UTF-8 byte, so the byte scan splits exactly like
    * split's code-point walk). Returns (simhash, n_tokens) — the two
    * values d04/d06 publish. SimhashKernelSpec pins the equivalence.
    */
  def simhash16(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val nb = bytes.length
    val sums = new Array[Long](16)
    var n = 0L
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == ' ') {
        val h = md5Head64(bytes, start, i - start)
        var j = 0
        while (j < 16) {
          sums(j) += (h >>> (60 - 4 * j)) & 0xfL
          j += 1
        }
        n += 1
        start = i + 1
      }
      i += 1
    }
    val sb = new Array[Byte](16)
    var j = 0
    while (j < 16) {
      sb(j) = if (2L * sums(j) > 15L * n) '1' else '0'
      j += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](UTF8String.fromBytes(sb), n))
  }

  /** Code-point start offsets of UTF-8 `bytes`: offs(i) = byte offset
    * of code point i, offs(total) = bytes.length. One linear pass,
    * shared by the three shingle kernels below so every shingle is
    * hashed/emitted as the RAW byte slice [offs(i), offs(i+len)) —
    * the UTF-8 encoding of a code-point substring IS that byte slice,
    * so md5 inputs and emitted strings are byte-identical to the old
    * per-shingle `new String(codepoints, ...)` + re-encode round-trip
    * while skipping two allocations/copies per position (r15, guide
    * per-task-work tier; the kernels dominate d21/d02-family compute).
    * Code-POINT counting is preserved exactly: a UTF-8 sequence start
    * byte begins each code point (numBytesForFirstByte), matching
    * Spark's and DuckDB's substring semantics on non-BMP text — the
    * FunctionsSpec/WinnowingSpec supplementary-plane fixtures pin it.
    */
  private def cpOffsets(bytes: Array[Byte]): (Array[Int], Int) = {
    val nb = bytes.length
    val offs = new Array[Int](nb + 1)
    var total = 0
    var off = 0
    while (off < nb) {
      offs(total) = off
      total += 1
      off += UTF8String.numBytesForFirstByte(bytes(off))
    }
    offs(total) = nb // clamps a truncated final sequence, too
    (offs, total)
  }

  /** MinHash signature over ShingleLen-char shingles of `text`:
    * element j = min over shingles of ((37+61j)*x + (91+53j)) mod P,
    * x = first 15 hex chars of md5(shingle) mod P. Equivalent to the
    * array_min(transform(...)) chain in DedupOps' oracle SQL (multiset
    * min == set min, so no distinct pass is needed). Shingles by CODE
    * POINTS via the shared byte-offset walk (see [[cpOffsets]]).
    */
  def signature(text: UTF8String): ArrayData = {
    val bytes = text.getBytes
    val (offs, len) = cpOffsets(bytes)
    val n = math.max(len - (ShingleLen - 1), 1)
    val mins = Array.fill(NumHashes)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val end = offs(math.min(i + ShingleLen, len))
      // first 15 hex chars of md5(shingle), mod P
      val x = md5Head60(bytes, offs(i), end - offs(i)) % P
      var j = 0
      while (j < NumHashes) {
        val g = ((37L + 61L * j) * x + (91L + 53L * j)) % P
        if (g < mins(j)) mins(j) = g
        j += 1
      }
      i += 1
    }
    new GenericArrayData(mins)
  }

  /** int64 dot product of two equal-length long arrays. */
  def dot(a: ArrayData, b: ArrayData): Long = {
    val n = math.min(a.numElements(), b.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { acc += a.getLong(i) * b.getLong(i); i += 1 }
    acc
  }

  /** 8 per-subspace squared-L2 distances of two 64-element long arrays
    * (the PQ train/encode kernel): element m = sum over the m-th 8-dim
    * slice of (a_j - b_j)^2. Equal to the aggregate(sequence(...))
    * higher-order formulation — but ONE JVM loop per pair instead of 8
    * interpreted lambda evaluations (ArrayAggregate is CodegenFallback;
    * at 5M (vector, codeword) pairs the interpreted form dominated the
    * PQ-ADC probe runtime, NOTES.md "ANN scaling measurement").
    */
  def pqDists(a: ArrayData, b: ArrayData): ArrayData = {
    // registered as a general SQL function: validate the hard-coded
    // 64-element/8-subspace shape up front so a misshapen caller gets a
    // descriptive error, not an out-of-bounds read
    if (a.numElements() != 64 || b.numElements() != 64)
      throw new IllegalArgumentException(
        "graft_pq_dists expects two 64-element arrays (8 subspaces x 8 " +
          s"dims), got ${a.numElements()} and ${b.numElements()} elements")
    val out = new Array[Long](8)
    var m = 0
    while (m < 8) {
      var acc = 0L
      var j = m * 8
      val end = j + 8
      while (j < end) {
        if (a.isNullAt(j) || b.isNullAt(j))
          throw new IllegalArgumentException(
            s"graft_pq_dists: null array element at index $j")
        val d = a.getLong(j) - b.getLong(j)
        acc += d * d
        j += 1
      }
      out(m) = acc
      m += 1
    }
    new GenericArrayData(out)
  }

  /** ADC lookup sum: dtab[codes[m]*8 + m] summed over the 8 subspaces
    * (dtab is the code-major flattened per-query distance table).
    */
  def adc(dtab: ArrayData, codes: ArrayData): Long = {
    if (codes.numElements() != 8)
      throw new IllegalArgumentException(
        s"graft_adc expects 8 subspace codes, got ${codes.numElements()}")
    if (dtab.numElements() % 8 != 0)
      throw new IllegalArgumentException(
        "graft_adc expects a code-major distance table with 8 entries " +
          s"per codeword, got ${dtab.numElements()} elements")
    val nCodes = dtab.numElements() / 8
    var acc = 0L
    var m = 0
    while (m < 8) {
      if (codes.isNullAt(m))
        throw new IllegalArgumentException(
          s"graft_adc: null code at subspace $m")
      val c = codes.getLong(m)
      if (c < 0 || c >= nCodes)
        throw new IllegalArgumentException(
          s"graft_adc: code $c at subspace $m out of range [0, $nCodes)")
      val idx = c.toInt * 8 + m
      if (dtab.isNullAt(idx))
        throw new IllegalArgumentException(
          s"graft_adc: null distance-table entry at index $idx")
      acc += dtab.getLong(idx)
      m += 1
    }
    acc
  }

  /** Distinct `len`-code-point shingles of `text` in first-occurrence
    * order — exactly `array_distinct(transform(sequence(1,
    * greatest(numChars-len+1, 1)), i -> substring(text, i, len)))`, but
    * ONE linear pass over the code points. The SQL form calls
    * substring(text, i, _) once per position, and UTF8String.substring
    * re-walks the bytes from offset 0 to find the i-th char every call —
    * O(chars^2) byte scans per document, which at 100 TB with long
    * documents is the difference between a scan and a stall. Code-point
    * iteration (not UTF-16 code units) keeps the shingle boundaries
    * identical to Spark's and DuckDB's substring on non-BMP text, same
    * as `signature` above.
    */
  def shingleSet(text: UTF8String, len: Int): ArrayData = {
    val bytes = text.getBytes
    val (offs, total) = cpOffsets(bytes)
    val n = math.max(total - (len - 1), 1)
    // LinkedHashSet: distinct with first-occurrence order, matching
    // array_distinct over the transform output. Keys are UTF8String
    // (byte-wise equals/hashCode == String equality on valid UTF-8),
    // which doubles as the output element — no decode/re-encode.
    val seen = new java.util.LinkedHashSet[UTF8String](math.min(n, 1 << 16))
    var i = 0
    while (i < n) {
      val end = offs(math.min(i + len, total))
      seen.add(UTF8String.fromBytes(
        java.util.Arrays.copyOfRange(bytes, offs(i), end)))
      i += 1
    }
    val out = new Array[AnyRef](seen.size)
    val it = seen.iterator()
    var k = 0
    while (it.hasNext) { out(k) = it.next(); k += 1 }
    new GenericArrayData(out)
  }

  /** Per-POSITION `len`-code-point shingle hashes of `text`: element i
    * (0-based) = (first 15 hex chars of md5 of the shingle starting at
    * code point i+1) mod P — the positional counterpart of
    * `shingleSet`/`signature` (those dedup or fold; winnowing needs
    * every position, in order). Equal to
    * transform(sequence(1, greatest(numChars-len+1, 1)),
    *   i -> cast(conv(substring(md5(substring(text, i, len)), 1, 15),
    *   16, 10) as bigint) % P)
    * but ONE linear code-point pass — the SQL form's per-position
    * substring re-walks bytes from offset 0 (O(chars^2) per doc).
    */
  def posHashes(text: UTF8String, len: Int): ArrayData = {
    val bytes = text.getBytes
    val (offs, total) = cpOffsets(bytes)
    val n = math.max(total - (len - 1), 1)
    val out = new Array[Long](n)
    var i = 0
    while (i < n) {
      val end = offs(math.min(i + len, total))
      out(i) = md5Head60(bytes, offs(i), end - offs(i)) % P
      i += 1
    }
    new GenericArrayData(out)
  }

  /** Positions encode into 8 decimal digits in the winnowing string
    * tie-break (`lpad(pos, 8, '0')`); the fused kernel reuses the same
    * bound as its hash*Enc+pos packing modulus.
    */
  val WinnowPosEnc = 100000000L

  /** Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken), fused:
    * per-position md5-prefix hashes of `len`-code-point shingles, then
    * every width-`w` window's minimum under (hash, pos) lexicographic
    * order (ties break to the smaller position), distinct selections in
    * selection order, each encoded as `hash * WinnowPosEnc + pos` (pos
    * 1-based). Bit-identical to d21's declarative chain
    *   array_distinct(transform(sequence(1, greatest(m - w + 1, 1)),
    *     i -> array_min(slice(vs, i, w))))
    * over vs = lpad(hash,10,'0')||'-'||lpad(pos,8,'0'), because (a) the
    * padded-string min IS the (hash, pos) lexicographic min, (b) slice
    * clamps at the array end exactly like this kernel's `end` bound (one
    * clamped window for m < w), and (c) a position re-selected by a
    * later window is re-selected by every window between (any separating
    * smaller element would have beaten it in one of the endpoints), so
    * consecutive dedup == global distinct. WinnowKernelSpec pins the
    * equivalence on random and adversarial corpora.
    *
    * One linear pass, O(m) total via a monotonic index deque — replaces
    * the per-position string allocation, the per-window slice allocation
    * + w string compares, and the array_distinct hash set of the SQL
    * form (the measured 1.4s of d21's 1.9s compute at sf0.1).
    */
  def winnow(text: UTF8String, len: Int, w: Int): ArrayData = {
    val bytes = text.getBytes
    val (offs, total) = cpOffsets(bytes)
    val n = math.max(total - (len - 1), 1)
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      val end = offs(math.min(i + len, total))
      hs(i) = md5Head60(bytes, offs(i), end - offs(i)) % P
      i += 1
    }
    val nw = math.max(n - w + 1, 1)
    // monotonic deque of positions with strictly increasing hash values;
    // equal hashes keep the earlier position (the tie-break), so pops
    // are strict-greater only
    val dq = new Array[Int](n)
    var head = 0
    var tail = 0
    val out = new Array[Long](nw)
    var nOut = 0
    var p = 0
    var s = 0
    while (s < nw) {
      val wEnd = math.min(s + w - 1, n - 1)
      while (p <= wEnd) {
        while (tail > head && hs(dq(tail - 1)) > hs(p)) tail -= 1
        dq(tail) = p
        tail += 1
        p += 1
      }
      while (dq(head) < s) head += 1
      val sel = dq(head)
      val enc = hs(sel) * WinnowPosEnc + (sel + 1)
      if (nOut == 0 || out(nOut - 1) != enc) { out(nOut) = enc; nOut += 1 }
      s += 1
    }
    new GenericArrayData(
      if (nOut == nw) out else java.util.Arrays.copyOf(out, nOut))
  }

  /** Byte offsets of token starts under Spark's split(text, ' ')
    * semantics (Java split with limit -1: EVERY space starts a new
    * token, empty tokens kept, including the [""] of an empty text).
    * Returns (starts, k): k tokens; starts(j) = byte offset of token
    * j's first byte; starts(k) = bytes.length + 1, so token j's end
    * byte (exclusive) is always starts(j+1) - 1 — the space separator
    * (or one past the end for the last token). ' ' is a single UTF-8
    * byte that never occurs inside a multi-byte sequence, so the byte
    * scan splits exactly like split's code-point walk (the simhash16
    * argument).
    */
  private def tokenOffsets(bytes: Array[Byte]): (Array[Int], Int) = {
    val nb = bytes.length
    var k = 1
    var i = 0
    while (i < nb) { if (bytes(i) == ' ') k += 1; i += 1 }
    val starts = new Array[Int](k + 1)
    starts(0) = 0
    var t = 1
    i = 0
    while (i < nb) {
      if (bytes(i) == ' ') { starts(t) = i + 1; t += 1 }
      i += 1
    }
    starts(k) = nb + 1
    (starts, k)
  }

  /** Token `n`-grams of `text` joined by ' ', in position order —
    * exactly `transform(sequence(1, greatest(size(toks)-n+1, 1)),
    * i -> array_join(slice(toks, i, n), ' '))` over
    * toks = split(text, ' ') (and, with `distinct`, wrapped in
    * array_distinct — first-occurrence order). ONE linear byte pass:
    * tokens are the inter-space byte slices and consecutive tokens are
    * separated by exactly one space byte, so the n-gram
    * "t_i .. t_{i+n-1}" joined by ' ' IS the contiguous byte slice
    * [starts(i), starts(min(i+n, k)) - 1) of the text — no token
    * array, no per-position slice/join churn. When k < n the single
    * clamped gram (slice semantics) is the whole text — the same
    * bytes. NgramKernelSpec pins bit-equality against the declarative
    * chain on adversarial and random corpora.
    */
  def tokenNgrams(text: UTF8String, n: Int, distinct: Boolean): ArrayData = {
    val bytes = text.getBytes
    val (starts, k) = tokenOffsets(bytes)
    val m = math.max(k - n + 1, 1)
    if (distinct) {
      // set keys are zero-copy VIEWS into `bytes` (stable for the whole
      // eval); only first occurrences are copied out, so a highly
      // repetitive document allocates once per DISTINCT gram
      val seen = new java.util.HashSet[UTF8String](
        math.min(m * 2, 1 << 16))
      val out = new scala.collection.mutable.ArrayBuffer[AnyRef](
        math.min(m, 1 << 12))
      var i = 0
      while (i < m) {
        val s = starts(i)
        val e = starts(math.min(i + n, k)) - 1
        if (seen.add(UTF8String.fromBytes(bytes, s, e - s)))
          out += UTF8String.fromBytes(
            java.util.Arrays.copyOfRange(bytes, s, e))
        i += 1
      }
      new GenericArrayData(out.toArray)
    } else {
      val out = new Array[AnyRef](m)
      var i = 0
      while (i < m) {
        val s = starts(i)
        val e = starts(math.min(i + n, k)) - 1
        out(i) = UTF8String.fromBytes(
          java.util.Arrays.copyOfRange(bytes, s, e))
        i += 1
      }
      new GenericArrayData(out)
    }
  }

  // Packed marker lookup for langScores: key = (len<<24)|(b0<<16)|
  // (b1<<8)|b2 of a 1-3 byte ASCII token; value = language bitmask
  // (1=en, 2=fr, 4=de, 8=es). "un" is deliberately both fr AND es and
  // "de" is a FRENCH marker — the lists are TextOps' verbatim.
  private val langMarkers: java.util.HashMap[Integer, Integer] = {
    val m = new java.util.HashMap[Integer, Integer]()
    def add(words: Seq[String], bit: Int): Unit = words.foreach { w =>
      val b = w.getBytes("UTF-8")
      require(b.length <= 3)
      val key = (b.length << 24) |
        ((b(0) & 0xff) << 16) |
        ((if (b.length > 1) b(1) & 0xff else 0) << 8) |
        (if (b.length > 2) b(2) & 0xff else 0)
      m.merge(key, bit, (a: Integer, x: Integer) => a | x)
    }
    add(Seq("the", "a", "of", "and", "is", "to", "in"), 1)
    add(Seq("le", "la", "les", "et", "de", "un"), 2)
    add(Seq("der", "die", "das", "und", "ist", "ein"), 4)
    add(Seq("el", "los", "las", "es", "un", "una"), 8)
    m
  }

  /** (score_en, score_fr, score_de, score_es, score_zh) of t02's
    * lang-ID scoring in ONE pass over the text bytes: score_L = number
    * of tokens (split(text, ' ') semantics, empty tokens kept) equal
    * to one of L's function-word markers — exactly
    * size(filter(toks, t -> t IN markers_L)) — and score_zh = number
    * of code points in [U+4E00, U+9FFF] — exactly
    * regexp_count(text, '[\\x{4e00}-\\x{9fff}]') (each such code
    * point is one BMP char, so regex char-class matches == code-point
    * count; the range encodes only as 3-byte UTF-8 sequences).
    * Replaces four interpreted ArrayFilter folds (~25 marker compares
    * per token per language) plus a regex scan per row.
    * LangKernelSpec pins bit-equality against the declarative chain.
    */
  def langScores(text: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val bytes = text.getBytes
    val nb = bytes.length
    var en = 0L; var fr = 0L; var de = 0L; var es = 0L
    var start = 0
    var i = 0
    while (i <= nb) {
      if (i == nb || bytes(i) == ' ') {
        val len = i - start
        if (len >= 1 && len <= 3) {
          val key = (len << 24) |
            ((bytes(start) & 0xff) << 16) |
            ((if (len > 1) bytes(start + 1) & 0xff else 0) << 8) |
            (if (len > 2) bytes(start + 2) & 0xff else 0)
          val bits = langMarkers.get(key)
          if (bits != null) {
            val b = bits.intValue()
            if ((b & 1) != 0) en += 1
            if ((b & 2) != 0) fr += 1
            if ((b & 4) != 0) de += 1
            if ((b & 8) != 0) es += 1
          }
        }
        start = i + 1
      }
      i += 1
    }
    var zh = 0L
    var off = 0
    while (off < nb) {
      val step = UTF8String.numBytesForFirstByte(bytes(off))
      if (step == 3 && off + 2 < nb) {
        val cp = ((bytes(off) & 0x0f) << 12) |
          ((bytes(off + 1) & 0x3f) << 6) | (bytes(off + 2) & 0x3f)
        if (cp >= 0x4e00 && cp <= 0x9fff) zh += 1
      }
      off += step
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](en, fr, de, es, zh))
  }

  /** |intersection| of two SORTED string arrays (sort_array order ==
    * UTF8String binary order) by linear merge — no per-pair hash set.
    * Equal to size(array_intersect(a, b)) for distinct-element arrays.
    */
  def sortedCommon(a: ArrayData, b: ArrayData): Long = {
    val (na, nb) = (a.numElements(), b.numElements())
    var i = 0
    var j = 0
    var common = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { common += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    common
  }
}

/** graft_minhash(text) -> array<bigint> of GraftHash.NumHashes minhashes. */
case class MinHashSig(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_minhash needs a string argument, got ${child.dataType}")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_minhash"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.signature(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.signature($c)")
  override protected def withNewChildInternal(newChild: Expression): MinHashSig =
    copy(child = newChild)
}

/** graft_long_dot(array<bigint>, array<bigint>) -> bigint. */
case class LongDot(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_long_dot needs two array<bigint> arguments, " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_long_dot"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftHash.dot($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LongDot =
    copy(left = newLeft, right = newRight)
}

/** graft_pq_dists(array<bigint>[64], array<bigint>[64]) -> array<bigint>[8]:
  * per-subspace squared L2 distances (PQ encode/table kernel).
  */
case class PqDists(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pq_dists needs two array<bigint> arguments, " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pq_dists"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.pqDists(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftHash.pqDists($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqDists =
    copy(left = newLeft, right = newRight)
}

/** graft_adc(array<bigint> dtab, array<bigint> codes) -> bigint:
  * the 8-lookup ADC distance sum.
  */
case class AdcSum(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isLongArray(t: DataType): Boolean = t match {
    case ArrayType(LongType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isLongArray(left.dataType) && isLongArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_adc needs two array<bigint> arguments, " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_adc"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.adc(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftHash.adc($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): AdcSum =
    copy(left = newLeft, right = newRight)
}

/** graft_shingles(text, len) -> array<string> of DISTINCT len-char
  * shingles in first-occurrence order; len must be an integer literal.
  */
case class ShingleSet(child: Expression, len: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && len > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_shingles needs a string argument and a positive literal " +
        s"length, got (${child.dataType}, $len)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_shingles"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.shingleSet(input.asInstanceOf[UTF8String], len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.shingleSet($c, $len)")
  override protected def withNewChildInternal(newChild: Expression): ShingleSet =
    copy(child = newChild)
}

/** graft_pos_hashes(text, len) -> array<bigint> of per-position shingle
  * hashes (winnowing's ordered input stream); len must be an integer
  * literal.
  */
case class PosHashes(child: Expression, len: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && len > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_pos_hashes needs a string argument and a positive literal " +
        s"length, got (${child.dataType}, $len)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_pos_hashes"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.posHashes(input.asInstanceOf[UTF8String], len)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.posHashes($c, $len)")
  override protected def withNewChildInternal(newChild: Expression): PosHashes =
    copy(child = newChild)
}

/** graft_winnow(text, len, w) -> array<bigint> of distinct winnowing
  * selections `hash * 100000000 + pos` in selection order; len and w
  * must be positive integer literals.
  */
case class Winnow(child: Expression, len: Int, w: Int)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && len > 0 && w > 0)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_winnow needs a string argument and positive literal " +
        s"shingle/window lengths, got (${child.dataType}, $len, $w)")
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "graft_winnow"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.winnow(input.asInstanceOf[UTF8String], len, w)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.winnow($c, $len, $w)")
  override protected def withNewChildInternal(newChild: Expression): Winnow =
    copy(child = newChild)
}

/** graft_ngrams(text, n) / graft_ngrams_distinct(text, n) ->
  * array<string> of token n-grams (space-joined); n must be a positive
  * integer literal. Count = greatest(n_tokens - n + 1, 1), the clamped
  * slice convention of every declared gram chain.
  */
case class TokenNgrams(child: Expression, n: Int, distinct: Boolean)
    extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType && n > 0) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_ngrams needs a string argument and a positive literal n, " +
        s"got (${child.dataType}, $n)")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String =
    if (distinct) "graft_ngrams_distinct" else "graft_ngrams"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.tokenNgrams(input.asInstanceOf[UTF8String], n, distinct)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.GraftHash.tokenNgrams($c, $n, $distinct)")
  override protected def withNewChildInternal(newChild: Expression): TokenNgrams =
    copy(child = newChild)
}

/** graft_lang_scores(text) -> struct<score_en, score_fr, score_de,
  * score_es, score_zh: bigint>: t02's marker/CJK lang-ID scores in one
  * byte pass.
  */
case class LangScores(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_lang_scores needs a string argument, got ${child.dataType}")
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(
      Seq("score_en", "score_fr", "score_de", "score_es", "score_zh").map(
        f => org.apache.spark.sql.types.StructField(f, LongType,
          nullable = false)))
  override def prettyName: String = "graft_lang_scores"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.langScores(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.langScores($c)")
  override protected def withNewChildInternal(newChild: Expression): LangScores =
    copy(child = newChild)
}

/** graft_simhash(text) -> struct<simhash: string, n_tokens: bigint>:
  * the 16-bit token-md5 majority fingerprint plus the token count.
  */
case class Simhash16(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_simhash needs a string argument, got ${child.dataType}")
  override def dataType: DataType =
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("simhash", StringType,
        nullable = false),
      org.apache.spark.sql.types.StructField("n_tokens", LongType,
        nullable = false)))
  override def prettyName: String = "graft_simhash"
  override protected def nullSafeEval(input: Any): Any =
    GraftHash.simhash16(input.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.GraftHash.simhash16($c)")
  override protected def withNewChildInternal(newChild: Expression): Simhash16 =
    copy(child = newChild)
}

/** graft_sorted_common(array<string>, array<string>) -> bigint;
  * both inputs MUST be sorted (sort_array).
  */
case class SortedCommon(left: Expression, right: Expression)
    extends BinaryExpression {
  private def isStringArray(t: DataType): Boolean = t match {
    case ArrayType(StringType, _) => true
    case _ => false
  }
  override def checkInputDataTypes(): TypeCheckResult =
    if (isStringArray(left.dataType) && isStringArray(right.dataType))
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"graft_sorted_common needs two array<string> arguments, " +
        s"got (${left.dataType}, ${right.dataType})")
  override def dataType: DataType = LongType
  override def prettyName: String = "graft_sorted_common"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    GraftHash.sortedCommon(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.GraftHash.sortedCommon($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedCommon =
    copy(left = newLeft, right = newRight)
}

/** Runtime registration (idempotent) so `expr("graft_minhash(...)")`
  * resolves; `GraftExtensions` is the spark.sql.extensions deployment
  * path for the same functions.
  */
object GraftFunctions {
  private def literalK(e: Expression): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, _) => v
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Long, _) => v.toInt
    case other => throw new IllegalArgumentException(
      s"expected an integer literal argument, got $other")
  }

  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "graft_minhash" -> ((es: Seq[Expression]) => MinHashSig(es.head)),
    "graft_long_dot" -> ((es: Seq[Expression]) => LongDot(es(0), es(1))),
    "graft_pq_dists" -> ((es: Seq[Expression]) => PqDists(es(0), es(1))),
    "graft_adc" -> ((es: Seq[Expression]) => AdcSum(es(0), es(1))),
    "graft_sorted_common" -> ((es: Seq[Expression]) => SortedCommon(es(0), es(1))),
    "graft_shingles" -> ((es: Seq[Expression]) =>
      ShingleSet(es(0), literalK(es(1)))),
    "graft_pos_hashes" -> ((es: Seq[Expression]) =>
      PosHashes(es(0), literalK(es(1)))),
    "graft_winnow" -> ((es: Seq[Expression]) =>
      Winnow(es(0), literalK(es(1)), literalK(es(2)))),
    "graft_simhash" -> ((es: Seq[Expression]) => Simhash16(es.head)),
    "graft_ngrams" -> ((es: Seq[Expression]) =>
      TokenNgrams(es(0), literalK(es(1)), distinct = false)),
    "graft_ngrams_distinct" -> ((es: Seq[Expression]) =>
      TokenNgrams(es(0), literalK(es(1)), distinct = true)),
    "graft_lang_scores" -> ((es: Seq[Expression]) => LangScores(es.head)),
    "graft_topk" -> ((es: Seq[Expression]) =>
      TopKAgg(es(0), es(1), literalK(es(2)))),
    "graft_heavy_keys" -> ((es: Seq[Expression]) =>
      MisraGriesAgg(es(0), literalK(es(1)))),
    // Spark's own runtime-filter machinery (the expressions behind
    // spark.sql.optimizer.runtime.bloomFilter), surfaced as callable
    // functions so an operator can build a bloom over a small side and
    // prefilter a huge scan with it (DedupOps.d10). The analyzer wraps
    // the AggregateFunction in an AggregateExpression, same as
    // graft_topk.
    "graft_bloom_agg" -> ((es: Seq[Expression]) =>
      new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
        es(0), es(1))),
    "graft_bloom_contains" -> ((es: Seq[Expression]) =>
      org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
        es(0), es(1))))

  def register(spark: SparkSession): Unit = {
    val reg = spark.sessionState.functionRegistry
    all.foreach { case (name, builder) =>
      reg.createOrReplaceTempFunction(name, builder, "built-in")
    }
  }
}

/** `--conf spark.sql.extensions=graft.functions.GraftExtensions` */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo("graft.functions.GraftFunctions", name), builder))
    }
    // Deployment-path governance: unbounded cartesian products fail at
    // analysis time (graft.plans.CrossJoinGuard scaladoc for the size/
    // hint escape hatches). Check rules rewrite nothing, so passing
    // plans are byte-identical with or without the extension.
    ext.injectCheckRule(_ => graft.plans.CrossJoinGuard)
  }
}
