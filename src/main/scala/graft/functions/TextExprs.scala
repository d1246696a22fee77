package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native codegen form of the word-n-gram shingle set.
  *
  * The HOF formulation (`transform(sequence(...), i => concat_ws(" ",
  * slice(tokens, i, n)))` + `array_distinct`) evaluates through interpreted
  * lambda plumbing and allocates a slice array + sequence array per
  * shingle — measured at sf0.1 it was ~90% of the MinHash signature stage
  * (4.2 s vs 0.3 s for the bare token explode). This expression is one
  * compiled loop building the same strings in the same first-occurrence
  * order, so every downstream hash (md5 family, xxhash64 family) sees
  * byte-identical input and every oracle stays valid.
  *
  * Semantics (must stay exactly `TextFns.wordShingles`): distinct
  * space-joined n-grams in first-occurrence order; fewer than n tokens →
  * empty array; null element handling matches concat_ws (nulls skipped).
  */
case class WordShingles(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(in: Any): Any =
    WordShingles.compute(in.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WordShingles.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WordShingles {

  private val Sep = UTF8String.fromString(" ")

  /** Compiled shingle loop — called from both interpreted eval and the
    * generated code.
    */
  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[AnyRef])
    val seen = new java.util.LinkedHashSet[UTF8String]()
    var i = 0
    while (i + n <= m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      seen.add(UTF8String.concatWs(Sep, parts: _*))
      i += 1
    }
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Positional (non-distinct) word-n-gram list: one space-joined n-gram per
  * starting position, in position order — the sequence form winnowing and
  * n-gram language models need, where `WordShingles`' distinct SET form
  * would lose multiplicity and position. Same compiled-loop rationale as
  * `WordShingles`; fewer than n tokens → empty array.
  */
case class ShingleList(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(in: Any): Any =
    ShingleList.compute(in.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.ShingleList.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object ShingleList {

  private val Sep = UTF8String.fromString(" ")

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    if (m < n) return new GenericArrayData(Array.empty[AnyRef])
    val out = new Array[AnyRef](m - n + 1)
    var i = 0
    while (i + n <= m) {
      val parts = new Array[UTF8String](n)
      var j = 0
      while (j < n) { parts(j) = arr.getUTF8String(i + j); j += 1 }
      out(i) = UTF8String.concatWs(Sep, parts: _*)
      i += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused winnowing fingerprint selection (Schleimer/Wilkerson/Aiken
  * SIGMOD'03): positional k-gram md5-16-hex-prefix hashes + sliding
  * window-of-w minima + distinct, as ONE compiled pass. The composable
  * formulation (`ShingleList` → `transform(md5)` → window-min HOF) is
  * semantically identical but allocates a slice array + sequence per
  * window through interpreted lambda plumbing — measured 24.5 s for the
  * corpus query at sf0.1, ~20% of the whole bench. This expression hashes
  * each gram incrementally (no gram string materialized; md5 over the
  * identical separator-joined byte sequence) and takes window minima with
  * a monotone deque — O(m) total, not O(m·w).
  *
  * Semantics contract (pinned by `TextExprsSpec` equality and the
  * `q_winnow_fp` oracle): fewer than k tokens → empty; fewer grams than
  * one window → the single overall minimum; else one minimum per window,
  * distinct. Byte-identical to the SQL-replayable HOF form.
  */
case class WinnowFingerprints(child: Expression, k: Int, w: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override protected def nullSafeEval(in: Any): Any =
    WinnowFingerprints.compute(in.asInstanceOf[ArrayData], k, w)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.WinnowFingerprints.compute($c, $k, $w);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object WinnowFingerprints {

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))
  private val Hex = "0123456789abcdef".getBytes

  def compute(arr: ArrayData, k: Int, w: Int): ArrayData = {
    val m = arr.numElements()
    if (m < k) return new GenericArrayData(Array.empty[AnyRef])
    val g = m - k + 1
    val md = md5.get()
    // 16-hex-char prefixes (8 digest bytes) of each gram's md5; the gram
    // string "t1 t2 .. tk" is hashed incrementally, never materialized
    val hs = new Array[UTF8String](g)
    var i = 0
    while (i < g) {
      md.reset()
      var j = 0
      while (j < k) {
        if (j > 0) md.update(' '.toByte)
        md.update(arr.getUTF8String(i + j).getBytes)
        j += 1
      }
      val d = md.digest()
      val hex = new Array[Byte](16)
      var b = 0
      while (b < 8) {
        hex(2 * b) = Hex((d(b) >> 4) & 0xF)
        hex(2 * b + 1) = Hex(d(b) & 0xF)
        b += 1
      }
      hs(i) = UTF8String.fromBytes(hex)
      i += 1
    }
    // sliding-window minima via monotone deque (indices, ascending values)
    val seen = new java.util.LinkedHashSet[UTF8String]()
    val dq = new Array[Int](g)
    var head = 0
    var tail = 0
    var x = 0
    while (x < g) {
      while (tail > head && hs(dq(tail - 1)).compareTo(hs(x)) >= 0) tail -= 1
      dq(tail) = x
      tail += 1
      while (dq(head) < x - w + 1) head += 1
      if (x >= w - 1) seen.add(hs(dq(head)))
      x += 1
    }
    // fewer grams than one window: the single truncated window's minimum
    // (= the overall minimum, which the deque head still holds)
    if (g < w) seen.add(hs(dq(head)))
    new GenericArrayData(seen.toArray.asInstanceOf[Array[AnyRef]])
  }
}

/** Unicode NFC normalization (canonical composition) as a native codegen
  * expression — Spark ships no normalizer builtin, and a text pipeline
  * ingesting web data must canonicalize before hashing/dedup or the same
  * visible string ("café" composed vs decomposed) fingerprints twice.
  * NFC is fully specified by the Unicode standard (UAX #15), so
  * `java.text.Normalizer` here and ICU's `nfc_normalize` in the SQL
  * oracle produce byte-identical output.
  */
case class NfcNormalize(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType

  override protected def nullSafeEval(in: Any): Any =
    NfcNormalize.compute(in.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NfcNormalize.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NfcNormalize {

  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    // quickCheck-positive strings (the overwhelming hot path on already-
    // normalized corpora) skip the String round-trip allocation
    if (java.text.Normalizer.isNormalized(str, java.text.Normalizer.Form.NFC)) s
    else UTF8String.fromString(
      java.text.Normalizer.normalize(str, java.text.Normalizer.Form.NFC))
  }
}

/** Fused Gopher repetition suite (Rae et al. 2112.11446, Table A1): the
  * nine within-document n-gram repetition fractions — top-n-gram character
  * mass for n=2..4 and duplicated-n-gram character coverage for n=5..10 —
  * computed in ONE compiled pass over the token array. The relational
  * formulation (9 × posexplode + groupBy at token grain) would shuffle
  * every token nine times; here the corpus is touched once and the whole
  * suite is per-row expression work, the same fusion rationale as
  * `WinnowFingerprints`.
  *
  * Exact semantics (shared with the DuckDB oracle, all integer/single-
  * division math so the doubles replay bit-for-bit):
  * - character counts are token characters (Unicode chars, no separators);
  *   `total` = sum over tokens of numChars.
  * - top_{n}gram_frac (n=2,3,4): the occurrence count of the most frequent
  *   positional n-gram (ties broken by byte-order-smallest gram string)
  *   times the gram's token characters, over `total`.
  * - dup_{n}gram_frac (n=5..10): characters of tokens covered by at least
  *   one occurrence of a duplicated n-gram (count >= 2, overlaps counted
  *   once — a coverage mask, not a sum over occurrences), over `total`.
  * - fewer than n tokens, or an empty document → 0.0 for that field.
  */
case class RepetitionStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = RepetitionStats.schema

  override protected def nullSafeEval(in: Any): Any =
    RepetitionStats.compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.RepetitionStats.compute($c);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object RepetitionStats {

  import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

  val fieldNames: Seq[String] =
    (2 to 4).map(n => s"top_${n}gram_frac") ++
      (5 to 10).map(n => s"dup_${n}gram_frac")

  val schema: StructType =
    StructType(fieldNames.map(StructField(_, DoubleType, nullable = false)))

  private val Sep = UTF8String.fromString(" ")

  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = arr.numElements()
    val toks = new Array[UTF8String](m)
    var total = 0L
    var i = 0
    while (i < m) {
      toks(i) = arr.getUTF8String(i)
      total += toks(i).numChars()
      i += 1
    }
    val out = new Array[Any](9)
    var idx = 0
    var n = 2
    while (n <= 10) {
      if (m < n || total == 0L) out(idx) = 0.0
      else {
        val g = m - n + 1
        val grams = new Array[UTF8String](g)
        val counts = new java.util.HashMap[UTF8String, Int](g * 2)
        var p = 0
        while (p < g) {
          val parts = new Array[UTF8String](n)
          var j = 0
          while (j < n) { parts(j) = toks(p + j); j += 1 }
          val gram = UTF8String.concatWs(Sep, parts: _*)
          grams(p) = gram
          counts.merge(gram, 1, (a, b) => a + b)
          p += 1
        }
        if (n <= 4) {
          var bestG: UTF8String = null
          var bestC = 0
          val it = counts.entrySet().iterator()
          while (it.hasNext) {
            val e = it.next()
            val c = e.getValue
            if (c > bestC || (c == bestC && e.getKey.compareTo(bestG) < 0)) {
              bestG = e.getKey; bestC = c
            }
          }
          // token chars only: gram string chars minus its n-1 separators
          val gramChars = bestG.numChars() - (n - 1)
          out(idx) = (bestC.toLong * gramChars).toDouble / total.toDouble
        } else {
          val covered = new Array[Boolean](m)
          var q = 0
          while (q < g) {
            if (counts.get(grams(q)) > 1) {
              var j = q
              while (j < q + n) { covered(j) = true; j += 1 }
            }
            q += 1
          }
          var cc = 0L
          var j = 0
          while (j < m) { if (covered(j)) cc += toks(j).numChars(); j += 1 }
          out(idx) = cc.toDouble / total.toDouble
        }
      }
      idx += 1
      n += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(out)
  }
}

/** Fused feature-hashing term-frequency map (the hashing trick,
  * Weinberger et al. ICML'09): token -> md5-derived bucket (the value of
  * the first 8 md5 hex digits, mod `dims` — byte-identical to
  * `conv(substring(md5(tok), 1, 8), 16, 10) % dims`), counted per
  * document in ONE compiled pass. Output is an array of (bucket, tf)
  * structs in first-occurrence order.
  *
  * This replaces the relational form (explode every token, md5 at row
  * grain, groupBy (doc, bucket)) with per-row expression work: the corpus
  * never explodes to token-grain rows and the (doc, bucket) SHUFFLE
  * disappears entirely — the consumer explodes the already-aggregated
  * per-doc map, whose cardinality is min(doc tokens, dims), not tokens.
  */
case class HashedTermFreqs(child: Expression, dims: Int) extends UnaryExpression {

  override def dataType: DataType = HashedTermFreqs.schema

  override protected def nullSafeEval(in: Any): Any =
    HashedTermFreqs.compute(in.asInstanceOf[ArrayData], dims)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.HashedTermFreqs.compute($c, $dims);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object HashedTermFreqs {

  import org.apache.spark.sql.types.{StructField, StructType}

  val schema: ArrayType = ArrayType(
    StructType(Seq(
      StructField("bucket", LongType, nullable = false),
      StructField("tf", LongType, nullable = false))),
    containsNull = false)

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def compute(arr: ArrayData, dims: Int): ArrayData = {
    val m = arr.numElements()
    val md = md5.get()
    val counts = new java.util.LinkedHashMap[java.lang.Long, java.lang.Long](16)
    var i = 0
    while (i < m) {
      md.reset()
      val d = md.digest(arr.getUTF8String(i).getBytes)
      // first 8 hex digits = first 4 digest bytes as an unsigned 32-bit
      // big-endian integer — exactly conv(substring(md5(tok),1,8),16,10)
      val v = ((d(0) & 0xFFL) << 24) | ((d(1) & 0xFFL) << 16) |
        ((d(2) & 0xFFL) << 8) | (d(3) & 0xFFL)
      val b = java.lang.Long.valueOf(v % dims)
      val prev = counts.get(b)
      counts.put(b, java.lang.Long.valueOf(if (prev == null) 1L else prev.longValue + 1L))
      i += 1
    }
    val out = new Array[AnyRef](counts.size)
    val it = counts.entrySet().iterator()
    var j = 0
    while (it.hasNext) {
      val e = it.next()
      out(j) = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](e.getKey.longValue(), e.getValue.longValue()))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** Fused MinHash signature of a shingle array: element i is the minimum
  * over shingles s of h_i(s), for i in [0, numHashes), computed in ONE
  * compiled pass per row — map-only work, where an explode → per-hash
  * min aggregation shuffles partial minima per document.
  *
  * Two hash families (`hexMd5` selects), bit-identical to the relational
  * forms `TextExprsSpec` keeps as ground truth:
  *   - Xx64: h_i(s) = xxhash64(i, s) with Spark's seed 42, i.e.
  *     `XXH64.hashInt(i, 42)` then `hashUnsafeBytes` over the UTF-8 bytes
  *     (a null shingle contributes the bare `hashInt(i, 42)`, as
  *     `xxhash64` skips nulls);
  *   - HexMd5: Broder's construction — ONE base hash per shingle (its first
  *     7 md5 hex digits as a 28-bit int), permuted by numHashes linear-
  *     congruential functions h_i(b) = (A_i*b + B_i) mod (2^31-1), exact
  *     long arithmetic so a SQL oracle replays it. A null shingle has no
  *     base and is skipped; an array of only nulls gives null elements.
  * Null or empty input → null signature (no shingles, nothing to band).
  */
case class MinHashSignature(child: Expression, numHashes: Int, hexMd5: Boolean)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = true)

  // no shingles → null, also for a non-null input
  override def nullable: Boolean = true

  override protected def nullSafeEval(in: Any): Any =
    MinHashSignature.compute(in.asInstanceOf[ArrayData], numHashes, hexMd5)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.MinHashSignature.compute($c, $numHashes, $hexMd5);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object MinHashSignature {

  // HexMd5: h_i(b) = (A_i*b + B_i) mod M; A_i*b < 2^59, so exact in a long
  private val M = 2147483647L
  private def lcgA(i: Int): Long = (1103515245L * (i + 1)) % M
  private def lcgB(i: Int): Long = 12345L * (i + 1)

  private val md5 = ThreadLocal.withInitial[java.security.MessageDigest](() =>
    java.security.MessageDigest.getInstance("MD5"))

  def compute(arr: ArrayData, numHashes: Int, hexMd5: Boolean): ArrayData = {
    val m = arr.numElements()
    if (m == 0) return null
    val mins = Array.fill(numHashes)(Long.MaxValue)
    if (hexMd5) {
      val md = md5.get()
      val as = Array.tabulate(numHashes)(lcgA)
      val bs = Array.tabulate(numHashes)(lcgB)
      var seen = false
      var s = 0
      while (s < m) {
        if (!arr.isNullAt(s)) {
          seen = true
          md.reset()
          val d = md.digest(arr.getUTF8String(s).getBytes)
          // first 7 hex digits = the top 28 bits of the digest
          val base = ((d(0) & 0xFFL) << 20) | ((d(1) & 0xFFL) << 12) |
            ((d(2) & 0xFFL) << 4) | ((d(3) & 0xFFL) >>> 4)
          var i = 0
          while (i < numHashes) {
            val h = (as(i) * base + bs(i)) % M
            if (h < mins(i)) mins(i) = h
            i += 1
          }
        }
        s += 1
      }
      if (!seen) return new GenericArrayData(new Array[Any](numHashes))
    } else {
      val seeds = Array.tabulate(numHashes)(i => XXH64.hashInt(i, 42L))
      var s = 0
      while (s < m) {
        val sh = if (arr.isNullAt(s)) null else arr.getUTF8String(s)
        var i = 0
        while (i < numHashes) {
          val h = if (sh == null) seeds(i)
            else XXH64.hashUnsafeBytes(sh.getBaseObject, sh.getBaseOffset, sh.numBytes, seeds(i))
          if (h < mins(i)) mins(i) = h
          i += 1
        }
        s += 1
      }
    }
    UnsafeArrayData.fromPrimitiveArray(mins)
  }
}

/** Sorted distinct 64-bit hashes of a token array's word n-grams, in ONE
  * compiled pass per row: gram p hashes tokens p..p+n-1 as
  * `xxhash64(t_p, .., t_{p+n-1})` (seed 42, chained `hashUnsafeBytes`), a
  * gram with a null token is skipped, and the hashes are sorted ascending
  * (signed) and deduplicated — the carrier exact-Jaccard verification
  * intersects with `IntersectCardSorted`. Tokens contain no separator
  * characters (whitespace tokenization), so tuple identity is
  * joined-string identity. Per-row, so the set build never shuffles
  * tokens (a posexplode → lead window → collect_set plan does). Fewer
  * than n tokens → empty array; null input → null.
  */
case class NgramHashSet(child: Expression, n: Int) extends UnaryExpression {

  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override protected def nullSafeEval(in: Any): Any =
    NgramHashSet.compute(in.asInstanceOf[ArrayData], n)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.NgramHashSet.compute($c, $n);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object NgramHashSet {

  def compute(arr: ArrayData, n: Int): ArrayData = {
    val m = arr.numElements()
    val g = math.max(m - n + 1, 0)
    val hs = new Array[Long](g)
    var k = 0
    var p = 0
    while (p < g) {
      var h = 42L
      var j = 0
      while (j < n && !arr.isNullAt(p + j)) {
        val t = arr.getUTF8String(p + j)
        h = XXH64.hashUnsafeBytes(t.getBaseObject, t.getBaseOffset, t.numBytes, h)
        j += 1
      }
      if (j == n) { hs(k) = h; k += 1 }
      p += 1
    }
    java.util.Arrays.sort(hs, 0, k)
    var d = 0
    var i = 0
    while (i < k) {
      if (d == 0 || hs(i) != hs(d - 1)) { hs(d) = hs(i); d += 1 }
      i += 1
    }
    UnsafeArrayData.fromPrimitiveArray(java.util.Arrays.copyOf(hs, d))
  }
}

/** Per-document token statistics in ONE compiled pass: `top_cnt`, the
  * occurrence count of the most frequent token, and `char_sum`, the total
  * characters (Unicode chars) of the tokens — per-row, where
  * explode(tokens) → groupBy(doc, token) → groupBy(doc) → join shuffles
  * twice at token grain. Null tokens count as one distinct value towards `top_cnt` and
  * add no characters (`char_sum` is null when no token is non-null), as
  * the grouped form does. Null or empty input → null stats, which keeps the
  * grouped form's left-join nulls and never divides by a zero word count.
  */
case class TokenStats(child: Expression) extends UnaryExpression {

  override def dataType: DataType = TokenStats.schema

  // no tokens → null, also for a non-null input
  override def nullable: Boolean = true

  override protected def nullSafeEval(in: Any): Any =
    TokenStats.compute(in.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c =>
      s"""${ev.value} = graft.functions.TokenStats.compute($c);
         |${ev.isNull} = ${ev.value} == null;""".stripMargin)

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object TokenStats {

  import org.apache.spark.sql.types.{StructField, StructType}

  val schema: StructType = StructType(Seq(
    StructField("top_cnt", LongType, nullable = false),
    StructField("char_sum", LongType, nullable = true)))

  def compute(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val m = arr.numElements()
    if (m == 0) return null
    val counts = new java.util.HashMap[UTF8String, Array[Long]](m * 2)
    var nulls = 0L
    var top = 0L
    var chars = 0L
    var i = 0
    while (i < m) {
      if (arr.isNullAt(i)) {
        nulls += 1
        if (nulls > top) top = nulls
      } else {
        val t = arr.getUTF8String(i)
        chars += t.numChars()
        var c = counts.get(t)
        if (c == null) { c = new Array[Long](1); counts.put(t, c) }
        c(0) += 1
        if (c(0) > top) top = c(0)
      }
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](top, if (nulls == m) null else chars))
  }
}
