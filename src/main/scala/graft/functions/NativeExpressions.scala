package graft.functions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.XxHash64Function
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.functions.{call_function, lit}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions (SURVEY §7.3: cosine is "the only place a
  * custom expression is even plausibly warranted"; single-pass SimHash
  * joined it after profiling showed 32 interpreted aggregate passes).
  *
  * Both implement `doGenCode`, so they stay inside whole-stage codegen —
  * the generated loop runs over the array's unsafe memory with zero
  * per-element boxing, vs the higher-order-function path which evaluates
  * an interpreted lambda per element. Semantics are bit-identical to the
  * HOF formulations (same accumulation order, same xxhash64 seed), which
  * the test suite asserts.
  */
object NativeExpressions {

  /** cosine(a, b) over float arrays, double accumulation, sequential
    * order; 0.0 for zero-norm inputs (matches Similarity.cosine).
    */
  case class CosineSimilarity(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType match {
        case ArrayType(FloatType, _) => true
        case _ => false
      })
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"cosine_sim expects array<float> inputs, got ${left.dataType}, ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[ArrayData]; val y = b.asInstanceOf[ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < n) {
        val xv = x.getFloat(i).toDouble; val yv = y.getFloat(i).toDouble
        dot += xv * yv; na += xv * xv; nb += yv * yv; i += 1
      }
      val denom = math.sqrt(na) * math.sqrt(nb)
      if (denom == 0.0) 0.0 else dot / denom
    }

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      nullSafeCodeGen(ctx, ev, (a, b) => {
        val n = ctx.freshName("n"); val i = ctx.freshName("i")
        val dot = ctx.freshName("dot"); val na = ctx.freshName("na")
        val nb = ctx.freshName("nb"); val denom = ctx.freshName("denom")
        val xv = ctx.freshName("xv"); val yv = ctx.freshName("yv")
        s"""
           |int $n = Math.min($a.numElements(), $b.numElements());
           |double $dot = 0.0; double $na = 0.0; double $nb = 0.0;
           |for (int $i = 0; $i < $n; $i++) {
           |  double $xv = (double) $a.getFloat($i);
           |  double $yv = (double) $b.getFloat($i);
           |  $dot += $xv * $yv; $na += $xv * $xv; $nb += $yv * $yv;
           |}
           |double $denom = Math.sqrt($na) * Math.sqrt($nb);
           |${ev.value} = ($denom == 0.0) ? 0.0 : ($dot / $denom);
           |""".stripMargin
      })

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): CosineSimilarity =
      copy(left = newLeft, right = newRight)
  }

  /** Single-pass SimHash over a token array: per-token xxhash64
    * (seed 42, identical to the `xxhash64` builtin), per-bit majority
    * votes, one traversal (the HOF formulation needs one pass per bit).
    * Default width is 64 — the scale posture: d≤6 pigeonhole chunks keep
    * ≥ 9 key bits each, vs 4-5 at 32 bits (see Dedup.simhashChunkLayout).
    */
  case class SimHash64(child: Expression, bits: Int = 64)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"simhash expects array<string>, got $t")
      }

    override def nullSafeEval(input: Any): Any =
      SimHashUtil.simhash(input.asInstanceOf[ArrayData], bits)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = SimHashUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $util.simhash($a, $bits);")
    }

    override protected def withNewChildInternal(newChild: Expression): SimHash64 =
      copy(child = newChild)
  }

  /** Interpreted core shared by eval and generated code (the per-token
    * hash is the hot loop either way; codegen removes the per-bit passes
    * and lambda dispatch).
    */
  object SimHashUtil {
    def simhash(arr: ArrayData, bits: Int): Long = {
      val votes = new Array[Int](bits)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val t = arr.getUTF8String(i)
        val h = XxHash64Function.hash(t, StringType, 42L)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        i += 1
      }
      var out = 0L; var b = 0
      while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  /** The two 64-bit base-hash flavors shared by the single-pass text
    * hashing expressions: Spark's XXH64 (seed 42, the fast default) and
    * the md5-derived 60-bit value of [[graft.operators.Dedup.Md5Hash]]
    * (first 15 hex chars of md5 → BIGINT, identical in DuckDB). The md5
    * flavor exists because the interpreted `conv(substr(md5(...)))`
    * expression tree costs ~10 µs per element inside a HOF lambda —
    * measured 40+ s over the sf0.1 gram pipeline vs ~2 s in this loop.
    */
  object Hash64Util {
    private val tlMd5 = new ThreadLocal[java.security.MessageDigest] {
      override def initialValue(): java.security.MessageDigest =
        java.security.MessageDigest.getInstance("MD5")
    }
    def xx(s: UTF8String): Long = XxHash64Function.hash(s, StringType, 42L)
    /** First 15 hex chars of md5 == top 60 bits of the big-endian first 8
      * digest bytes.
      */
    def md5_60(s: UTF8String): Long = {
      val b = s.getBytes
      md5_60(tlMd5Digest(), b, 0, b.length)
    }
    /** Reset-digest variant over a byte slice (no per-call copy). */
    def tlMd5Digest(): java.security.MessageDigest = tlMd5.get()
    def md5_60(md: java.security.MessageDigest, b: Array[Byte],
               off: Int, len: Int): Long = {
      md.reset()
      md.update(b, off, len)
      val d = md.digest()
      val be =
        ((d(0) & 0xFFL) << 56) | ((d(1) & 0xFFL) << 48) |
        ((d(2) & 0xFFL) << 40) | ((d(3) & 0xFFL) << 32) |
        ((d(4) & 0xFFL) << 24) | ((d(5) & 0xFFL) << 16) |
        ((d(6) & 0xFFL) << 8) | (d(7) & 0xFFL)
      be >>> 4
    }
    def hash(s: UTF8String, md5: Boolean): Long = if (md5) md5_60(s) else xx(s)
  }

  /** Per-element 64-bit hashes of a string array (multiplicity and order
    * preserved — the SimHash vote needs repeats): one pass, no interpreted
    * per-element lambda.
    */
  case class StringArrayHashes(child: Expression, md5: Boolean)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"token_hashes expects array<string>, got $t")
      }

    override def nullSafeEval(input: Any): Any =
      StringArrayHashesUtil.hashes(input.asInstanceOf[ArrayData], md5)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = StringArrayHashesUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $util.hashes($a, $md5);")
    }

    override protected def withNewChildInternal(newChild: Expression): StringArrayHashes =
      copy(child = newChild)
  }

  object StringArrayHashesUtil {
    def hashes(arr: ArrayData, md5: Boolean): ArrayData = {
      val n = arr.numElements()
      val out = new Array[Long](n)
      var i = 0
      while (i < n) {
        out(i) = Hash64Util.hash(arr.getUTF8String(i), md5)
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** Word-n-gram shingle hashes in one pass: for each window of `n`
    * tokens, hash the space-joined shingle exactly as
    * `xxhash64(concat_ws(" ", slice(toks, i, n)))` would (UTF8String
    * concatWs + XXH64 seed 42 — asserted bit-equal to the HOF path in
    * tests), deduped keeping first occurrence (array_distinct semantics).
    * `md5 = true` switches the element hash to the cross-engine md5-60
    * flavor. Avoids materializing shingle strings as a column: the
    * downstream minhash/Jaccard pipeline runs on longs.
    */
  case class ShingleHashes(child: Expression, n: Int = 3, md5: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(StringType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"shingle_hashes expects array<string>, got $t")
      }

    override def nullSafeEval(input: Any): Any =
      ShingleUtil.shingleHashes(input.asInstanceOf[ArrayData], n, md5)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = ShingleUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $util.shingleHashes($a, $n, $md5);")
    }

    override protected def withNewChildInternal(newChild: Expression): ShingleHashes =
      copy(child = newChild)
  }

  /** Primitive insertion-ordered long set (open addressing): the boxed
    * LinkedHashSet<Long> the hashing utils used was GC-bound at corpus
    * scale (every add boxes). add() returns true on first insertion.
    */
  final class LongOrderSet(expected: Int) {
    private var cap = 16
    while (cap < expected * 2) cap <<= 1
    private val table = new Array[Long](cap)
    private val usedF = new Array[Boolean](cap)
    private val order = new Array[Long](math.max(expected, 1))
    private var m = 0
    def add(h: Long): Boolean = {
      var idx = java.lang.Long.hashCode(h * -7046029254386353131L) & (cap - 1)
      while (usedF(idx)) {
        if (table(idx) == h) return false
        idx = (idx + 1) & (cap - 1)
      }
      usedF(idx) = true; table(idx) = h
      order(m) = h; m += 1
      true
    }
    def toArrayData: ArrayData =
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        java.util.Arrays.copyOf(order, m))
  }

  object ShingleUtil {
    private val sep = UTF8String.fromString(" ")
    def shingleHashes(toks: ArrayData, n: Int, md5: Boolean): ArrayData = {
      val num = toks.numElements()
      if (num < n) {
        // short doc: one shingle of all tokens (matches the HOF guard)
        val seen = new LongOrderSet(1)
        val parts = new Array[UTF8String](num)
        var i = 0
        while (i < num) { parts(i) = toks.getUTF8String(i); i += 1 }
        val sh = UTF8String.concatWs(sep, parts: _*)
        seen.add(Hash64Util.hash(sh, md5))
        seen.toArrayData
      } else {
        val seen = new LongOrderSet(num - n + 1)
        var i = 0
        val parts = new Array[UTF8String](n)
        while (i <= num - n) {
          var j = 0
          while (j < n) { parts(j) = toks.getUTF8String(i + j); j += 1 }
          val sh = UTF8String.concatWs(sep, parts: _*)
          seen.add(Hash64Util.hash(sh, md5))
          i += 1
        }
        seen.toArrayData
      }
    }
  }

  /** Character n-gram hashes in one pass over the string: hash of every
    * n-char window (code-point based, matching `substr`'s semantics, so
    * bit-equal to `transform(grams, xxhash64)` over the HOF gram path —
    * asserted in tests), deduped keeping first occurrence. Short strings
    * (< n chars) yield the single whole-string gram.
    */
  case class CharGramHashes(child: Expression, n: Int = 4, md5: Boolean = false)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case StringType =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"char_gram_hashes expects string, got $t")
      }

    override def nullSafeEval(input: Any): Any =
      CharGramUtil.gramHashes(input.asInstanceOf[UTF8String], n, md5)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = CharGramUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $util.gramHashes($a, $n, $md5);")
    }

    override protected def withNewChildInternal(newChild: Expression): CharGramHashes =
      copy(child = newChild)
  }

  object CharGramUtil {
    /** One pass over the byte array: `substringSQL(i, n)` re-walks the
      * string from byte 0 to find char i's offset, so the per-gram loop
      * was O(len²) per document (measured ~140 CPU-s on the sf0.1 ngram
      * pipeline). A char-start offset table makes each gram a byte slice;
      * values are identical — a gram IS substringSQL's result, hashed
      * over the same bytes (md5 digests the slice in place; xx hashes the
      * copied slice exactly as XxHash64Function does a UTF8String's bytes).
      */
    def gramHashes(s: UTF8String, n: Int, md5: Boolean): ArrayData = {
      val bytes = s.getBytes
      val total = s.numChars()
      val count = math.max(total - n + 1, 1)
      val offs = new Array[Int](total + 1)
      var ci = 0; var p = 0
      while (ci < total) {
        offs(ci) = p
        p += UTF8String.numBytesForFirstByte(bytes(p))
        ci += 1
      }
      offs(total) = bytes.length
      // primitive insertion-ordered dedup (a LinkedHashSet<Long> boxes
      // every gram hash — measured GC-bound run≫cpu on the ngram pipeline)
      val seen = new LongOrderSet(count)
      val md = if (md5) Hash64Util.tlMd5Digest() else null
      var i = 0
      while (i < count) {
        val lo = offs(i)
        val hi = offs(math.min(i + n, total))
        val h =
          if (md5) Hash64Util.md5_60(md, bytes, lo, hi - lo)
          else XxHash64Function.hash(
            UTF8String.fromBytes(bytes, lo, hi - lo), StringType, 42L)
        seen.add(h)
        i += 1
      }
      seen.toArrayData
    }
  }

  /** Seed constant for [[MinHashSigs]]' xor-shift mixer: golden-ratio
    * multiples masked to 59 bits. Computed HOST-side (Scala), so the
    * engines only ever evaluate overflow-free xor/shift — DuckDB BIGINT
    * arithmetic errors on overflow instead of wrapping, which rules out
    * multiplicative hashing inside the query.
    */
  def mixKey(seed: Int): Long =
    (0x9E3779B97F4A7C15L * (seed + 1)) & 0x07FFFFFFFFFFFFFFL

  /** Seed-mix used to derive per-seed minhashes from a base 64-bit hash:
    *
    *   x  = h ^ K(seed);  x ^= x >>> 29
    *   y  = ((x & 0xFFFFFFFF) << 28) | ((x >>> 32) & 0x0FFFFFFF)
    *
    * The final HALF-SWAP is load-bearing: with xor/shift alone the top
    * bits of the mixed value equal the top bits of `h` for EVERY seed (K
    * is 59-bit; xor can't reach above it, >>> only moves bits down), so
    * the per-seed minima all concentrate on the same elements — measured
    * 8-14/16 seed agreement on 0.95-Jaccard pairs where ~15.2/16 is
    * expected, silently killing banding recall. After the swap the
    * comparison-dominant bits are x's low word, which mixes h's bits 0..60
    * with seed bits everywhere. Only xor / logical shifts / bounded `<<`
    * — every operand stays in 60 bits, so DuckDB BIGINT (errors on
    * overflow, no wraparound multiply) computes the identical value.
    */
  object MinHashUtil {
    def mix(h: Long, k: Long): Long = {
      var x = h ^ k
      x ^= (x >>> 29)
      ((x & 0xFFFFFFFFL) << 28) | ((x >>> 32) & 0x0FFFFFFFL)
    }
    def sigs(arr: ArrayData, numHashes: Int): ArrayData = {
      val out = new Array[Long](numHashes)
      java.util.Arrays.fill(out, Long.MaxValue)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val h = arr.getLong(i)
        var s = 0
        while (s < numHashes) {
          val x = mix(h, mixKey(s))
          if (x < out(s)) out(s) = x
          s += 1
        }
        i += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
  }

  /** All `numHashes` MinHash signatures in ONE pass over the base-hash
    * array (the per-seed HOF formulation re-walks the array per seed with
    * an interpreted lambda — k× the traversals at ~100× the per-element
    * cost; measured 80+ s on the sf0.1 ngram pipeline vs seconds here).
    * Bit-equal to `array_min(transform(hs, mix(_, seed)))` per seed —
    * asserted in tests.
    */
  case class MinHashSigs(child: Expression, numHashes: Int)
      extends UnaryExpression {
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"minhash_sigs expects array<bigint>, got $t")
      }

    override def nullSafeEval(input: Any): Any =
      MinHashUtil.sigs(input.asInstanceOf[ArrayData], numHashes)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = MinHashUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $util.sigs($a, $numHashes);")
    }

    override protected def withNewChildInternal(newChild: Expression): MinHashSigs =
      copy(child = newChild)
  }

  /** SimHash bit-majority vote over a PRE-HASHED long array in one pass
    * (the HOF formulation is one interpreted aggregate traversal PER BIT —
    * 32 walks; measured ~16 s on the sf0.1 md5-family pipeline). Bit-equal
    * to [[graft.operators.Dedup.simhashFromHashes]] — asserted in tests
    * ((h >>> b) & 1 == (h >> b) & 1 for every h, b < 63, so the vote is
    * shift-flavor-independent).
    */
  case class SimHashFromHashes(child: Expression, bits: Int = 64)
      extends UnaryExpression {
    override def dataType: DataType = LongType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
      child.dataType match {
        case ArrayType(LongType, _) =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
        case t =>
          org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
            s"simhash_from_hashes expects array<bigint>, got $t")
      }

    override def nullSafeEval(input: Any): Any =
      SimHashFromHashesUtil.simhash(input.asInstanceOf[ArrayData], bits)

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = SimHashFromHashesUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, a => s"${ev.value} = $util.simhash($a, $bits);")
    }

    override protected def withNewChildInternal(newChild: Expression): SimHashFromHashes =
      copy(child = newChild)
  }

  object SimHashFromHashesUtil {
    def simhash(arr: ArrayData, bits: Int): Long = {
      val votes = new Array[Int](bits)
      val n = arr.numElements()
      var i = 0
      while (i < n) {
        val h = arr.getLong(i)
        var b = 0
        while (b < bits) {
          votes(b) += (if (((h >>> b) & 1L) == 1L) 1 else -1)
          b += 1
        }
        i += 1
      }
      var out = 0L; var b = 0
      while (b < bits) { if (votes(b) > 0) out |= (1L << b); b += 1 }
      out
    }
  }

  /** Jaro-Winkler interpreted core shared by eval and generated code
    * (the match/transposition scan is the hot loop either way). Semantics
    * pinned AGAINST DUCKDB's jaro_winkler_similarity (probed, and gated
    * in Round9Spec + the q_jaro_match oracle): match window
    * ⌊max(|a|,|b|)/2⌋−1, zero when either side is empty or no characters
    * match, transpositions = mismatched aligned pairs / 2, Winkler boost
    * min(prefix,4)·0.1·(1−jaro) applied ONLY when jaro > 0.7.
    */
  object JaroWinklerUtil {
    def jw(ua: UTF8String, ub: UTF8String): Double =
      jwStr(ua.toString, ub.toString)

    def jwStr(a: String, b: String): Double = {
      val la = a.length; val lb = b.length
      if (la == 0 || lb == 0) return 0.0
      val window = math.max(math.max(la, lb) / 2 - 1, 0)
      val ma = new Array[Boolean](la); val mb = new Array[Boolean](lb)
      var m = 0
      var i = 0
      while (i < la) {
        val lo = math.max(0, i - window)
        val hi = math.min(lb - 1, i + window)
        var j = lo
        var found = false
        while (j <= hi && !found) {
          if (!mb(j) && a.charAt(i) == b.charAt(j)) {
            ma(i) = true; mb(j) = true; m += 1; found = true
          }
          j += 1
        }
        i += 1
      }
      if (m == 0) return 0.0
      var t = 0; var k = 0
      i = 0
      while (i < la) {
        if (ma(i)) {
          while (!mb(k)) k += 1
          if (a.charAt(i) != b.charAt(k)) t += 1
          k += 1
        }
        i += 1
      }
      val md = m.toDouble
      val jaro = (md / la + md / lb + (md - t / 2.0) / md) / 3.0
      if (jaro <= 0.7) jaro
      else {
        var l = 0
        val maxP = math.min(4, math.min(la, lb))
        while (l < maxP && a.charAt(l) == b.charAt(l)) l += 1
        jaro + l * 0.1 * (1.0 - jaro)
      }
    }
  }

  /** jaro_winkler(a, b) over strings — the similarity DuckDB ships
    * natively and Spark lacks (levenshtein is the only built-in edit
    * metric): typo-tolerant entity matching weighs shared prefixes, the
    * empirically right prior for names/codes. Codegen'd via the shared
    * static core so it rides whole-stage codegen next to levenshtein in
    * the q_fuzzy_match family's candidate verify.
    */
  case class JaroWinkler(left: Expression, right: Expression)
      extends BinaryExpression {
    override def dataType: DataType = DoubleType
    override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
      val ok = Seq(left, right).forall(_.dataType == StringType)
      if (ok) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"jaro_winkler expects string inputs, got ${left.dataType}, ${right.dataType}")
    }

    override def nullSafeEval(a: Any, b: Any): Any =
      JaroWinklerUtil.jw(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
      val util = JaroWinklerUtil.getClass.getName.stripSuffix("$") + "$.MODULE$"
      nullSafeCodeGen(ctx, ev, (a, b) => s"${ev.value} = $util.jw($a, $b);")
    }

    override protected def withNewChildrenInternal(
        newLeft: Expression, newRight: Expression): JaroWinkler =
      copy(left = newLeft, right = newRight)
  }

  /** Identity wrapper marking a value for per-expression optimizer
    * rewrites ([[graft.plans.ApproxDistinctRewrite]] matches
    * `count(DISTINCT approx_hint(x))`). Pure passthrough in eval AND
    * codegen, so on a session where the rule is not installed the hinted
    * query still runs with exact semantics — the hint degrades gracefully
    * instead of failing.
    */
  case class ApproxHint(child: Expression) extends UnaryExpression {
    override def dataType: DataType = child.dataType
    override def nullable: Boolean = child.nullable
    override def eval(input: org.apache.spark.sql.catalyst.InternalRow): Any =
      child.eval(input)
    override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
      defineCodeGen(ctx, ev, c => c)
    override protected def withNewChildInternal(newChild: Expression): ApproxHint =
      copy(child = newChild)
  }

  /** Column-API entry points. Each installs the native functions on
    * `spark` first, a no-op once they are in (see [[GraftExtensions.install]]).
    */
  private def call(spark: SparkSession, name: String, args: Column*): Column = {
    GraftExtensions.install(spark)
    call_function(name, args: _*)
  }
  def cosineSim(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "cosine_sim", a, b)
  def approxHint(spark: SparkSession, c: Column): Column =
    call(spark, "approx_hint", c)
  def simhashNative(spark: SparkSession, toks: Column, bits: Int = 64): Column =
    call(spark, "simhash", toks, lit(bits))
  def shingleHashes(spark: SparkSession, toks: Column): Column =
    call(spark, "shingle_hashes", toks)
  def shingleHashes(spark: SparkSession, toks: Column, n: Int): Column =
    call(spark, "shingle_hashes", toks, lit(n))
  def charGramHashes(spark: SparkSession, text: Column): Column =
    call(spark, "char_gram_hashes", text)
  def minHashSigs(spark: SparkSession, hashes: Column, numHashes: Int): Column =
    call(spark, "minhash_sigs", hashes, lit(numHashes))
  def simhashFromHashes(spark: SparkSession, hashes: Column, bits: Int = 64): Column =
    call(spark, "simhash_from_hashes", hashes, lit(bits))
  def shingleHashesMd5(spark: SparkSession, toks: Column): Column =
    call(spark, "shingle_hashes_md5", toks)
  def shingleHashesMd5(spark: SparkSession, toks: Column, n: Int): Column =
    call(spark, "shingle_hashes_md5", toks, lit(n))
  def charGramHashesMd5(spark: SparkSession, text: Column): Column =
    call(spark, "char_gram_hashes_md5", text)
  def tokenHashesMd5(spark: SparkSession, toks: Column): Column =
    call(spark, "token_hashes_md5", toks)
  def jaroWinkler(spark: SparkSession, a: Column, b: Column): Column =
    call(spark, "jaro_winkler", a, b)
}
