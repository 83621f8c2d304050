package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The dedup family's hot hash and similarity kernels as native Catalyst
  * expressions, and the one home of the md5-to-60-bit hash they share.
  *
  * Spark's higher-order array functions (`transform`/`aggregate` lambdas)
  * run interpreted, and a UDF pays a per-row `ArrayData → Seq` conversion
  * (one boxed allocation per element) before the kernel even starts.
  * These expressions consume `ArrayData`/`UTF8String` directly with
  * primitive loops, and `doGenCode` keeps them inside whole-stage codegen.
  * Every fold is sequential left-to-right, so results are bit-identical to
  * the DuckDB oracles' SQL replications.
  */
object ArrayKernelOps {

  /** Per-thread reusable digest: `MessageDigest.getInstance` dominates the
    * hash cost when called once per shingle (millions of times per task). */
  private val md5Local = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  /** First 60 bits of md5 as a non-negative long — the compiled form of
    * the SQL `CAST(concat('0x', substr(md5(x),1,15)) AS BIGINT)` (and of
    * `QueryBase.h64`). Takes raw UTF-8 bytes: `UTF8String.getBytes` and
    * `String.getBytes("UTF-8")` produce the identical encoding, so every
    * caller hashes bit-for-bit the same values as the SQL oracle. */
  def md5LongBytes(bytes: Array[Byte]): Long = {
    val md = md5Local.get()
    md.reset()
    val d = md.digest(bytes)
    // first 15 hex chars = 7.5 bytes: take 8 bytes big-endian, drop low nibble
    var v = 0L
    var i = 0
    while (i < 8) { v = (v << 8) | (d(i) & 0xffL); i += 1 }
    v >>> 4
  }

  /** SimHash-32 over token md5s: bit j of the signature is the sign of the
    * balance of bit j across all token hashes (near-identical token sets →
    * identical signature). One md5 per token. */
  def simhash32(arr: ArrayData): Long = {
    val n = arr.numElements()
    val bal = new Array[Long](32)
    var i = 0
    while (i < n) {
      val h = md5LongBytes(arr.getUTF8String(i).getBytes)
      var j = 0
      while (j < 32) {
        bal(j) += (((h >> j) & 1L) * 2L - 1L)
        j += 1
      }
      i += 1
    }
    var sig = 0L
    var j = 0
    while (j < 32) { if (bal(j) > 0) sig |= (1L << j); j += 1 }
    sig
  }

  /** MinHash signature: seed j hashes shingle x as
    * ((2j+1) * (md5(x) mod 2^28) + 7919 j) mod (2^31 - 1) — one md5 per
    * shingle total; the per-seed family is overflow-free affine arithmetic
    * reproducible in any SQL engine. An empty set signs as all -1. */
  def minhashSig(arr: ArrayData, nSeeds: Int): ArrayData = {
    val n = arr.numElements()
    if (n == 0) return new GenericArrayData(Array.fill(nSeeds)(-1L))
    val hs = new Array[Long](n)
    var i = 0
    while (i < n) {
      hs(i) = md5LongBytes(arr.getUTF8String(i).getBytes) %
        268435456L
      i += 1
    }
    val out = new Array[Long](nSeeds)
    var j = 0
    while (j < nSeeds) {
      var mn = Long.MaxValue
      i = 0
      while (i < n) {
        val v = ((2L * j + 1L) * hs(i) + 7919L * j) % 2147483647L
        if (v < mn) mn = v
        i += 1
      }
      out(j) = mn
      j += 1
    }
    new GenericArrayData(out)
  }

  private val emptyLongs = new GenericArrayData(Array.emptyLongArray)

  /** First-occurrence-distinct sliding-4-window minima over `vals(0
    * until n)`. Shared winnow tail of the audio/text fingerprint
    * kernels: each expression-form window paid an `array_min(slice(g,
    * j, 4))` — one 4-element array ALLOCATION per position — plus the
    * transform/sequence scaffolding; this is the same integers with
    * three comparisons per step and zero allocations beyond the result.
    * Consecutive windows usually share their minimum, so the distinct
    * set is consulted only when the candidate changes. */
  private def winnowDistinctMinima(vals: Array[Long], n: Int): ArrayData = {
    val seen = new java.util.HashSet[java.lang.Long]()
    val out = new Array[Long](n - 3)
    var outN = 0
    var prev = Long.MinValue
    var first = true
    var j = 0
    while (j < n - 3) {
      var mn = vals(j)
      var t = vals(j + 1); if (t < mn) mn = t
      t = vals(j + 2); if (t < mn) mn = t
      t = vals(j + 3); if (t < mn) mn = t
      if (first || mn != prev) {
        if (seen.add(mn)) { out(outN) = mn; outN = outN + 1 }
        prev = mn
        first = false
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN))
  }

  /** Fused audio fingerprint selection — byte-quantize the PCM samples,
    * pack rolling 4-grams, drop constant shingles (multiples of
    * 0x01010101), winnow w=4 minima, distinct. Value-identical to the
    * expression chain it replaces in dedup_audio_fingerprint:
    * `q = transform(smp, x -> (x+32768) DIV 256)`;
    * `g = filter(transform(sequence(1, size(q)-3), i ->
    * ((q[i-1]*256+q[i])*256+q[i+1])*256+q[i+2]), x -> x % 16843009 != 0)`
    * (0-based bracket indexing ⇒ windows q[k..k+3] for k = 0..n-4);
    * `CASE WHEN size(g) >= 4 THEN array_distinct(transform(sequence(1,
    * size(g)-3), j -> array_min(slice(g, j, 4)))) ELSE array() END`.
    * 16-bit PCM keeps s+32768 in [0, 65535], so DIV 256 == >> 8. */
  def audioWinnowFps(smp: ArrayData): ArrayData = {
    val n = smp.numElements()
    if (n < 4) return emptyLongs
    val g = new Array[Long](n - 3)
    var gn = 0
    var k = 0
    while (k < n - 3) {
      val a = ((smp.getInt(k) + 32768) >> 8).toLong
      val b = ((smp.getInt(k + 1) + 32768) >> 8).toLong
      val c = ((smp.getInt(k + 2) + 32768) >> 8).toLong
      val d = ((smp.getInt(k + 3) + 32768) >> 8).toLong
      val v = ((a * 256L + b) * 256L + c) * 256L + d
      if (v % 16843009L != 0L) { g(gn) = v; gn += 1 }
      k += 1
    }
    if (gn < 4) emptyLongs else winnowDistinctMinima(g, gn)
  }

  /** Winnow w=4 distinct minima over a hash sequence — for n >= 1
    * value-identical to dedup_winnowing's `array_distinct(transform(
    * sequence(1, greatest(size(hs) - 3, 1)), j -> array_min(slice(hs, j,
    * 4))))`: for n >= 4 the full windows; for 1 <= n < 4 the single
    * truncated window (= min of the whole array), matching slice's end
    * truncation. For n = 0 it returns `[]` where that chain returns
    * `[null]`. Type-preserving (int murmur3 hashes stay 4-byte on the
    * posting exchange). */
  def winnowMin4(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return emptyLongs
    if (n < 4) {
      var mn = hs.getLong(0)
      var i = 1
      while (i < n) { val v = hs.getLong(i); if (v < mn) mn = v; i += 1 }
      return new GenericArrayData(Array(mn))
    }
    val vals = new Array[Long](n)
    var i = 0
    while (i < n) { vals(i) = hs.getLong(i); i += 1 }
    winnowDistinctMinima(vals, n)
  }

  /** Int twin of [[winnowMin4]]. */
  def winnowMin4Int(hs: ArrayData): ArrayData = {
    val n = hs.numElements()
    if (n == 0) return new GenericArrayData(Array.emptyIntArray)
    if (n < 4) {
      var mn = hs.getInt(0)
      var i = 1
      while (i < n) { val v = hs.getInt(i); if (v < mn) mn = v; i += 1 }
      return new GenericArrayData(Array(mn))
    }
    val seen = new java.util.HashSet[java.lang.Integer]()
    val out = new Array[Int](n - 3)
    var outN = 0
    var prev = Int.MinValue
    var first = true
    var j = 0
    while (j < n - 3) {
      var mn = hs.getInt(j)
      var t = hs.getInt(j + 1); if (t < mn) mn = t
      t = hs.getInt(j + 2); if (t < mn) mn = t
      t = hs.getInt(j + 3); if (t < mn) mn = t
      if (first || mn != prev) {
        if (seen.add(mn)) { out(outN) = mn; outN = outN + 1 }
        prev = mn
        first = false
      }
      j += 1
    }
    new GenericArrayData(java.util.Arrays.copyOf(out, outN))
  }

  /** Distinct character 3-grams in first-occurrence order, over UTF-16
    * char windows of the decoded string (compiled; the HOF-lambda substr
    * loop is interpreted and ~50x slower at corpus scale). */
  def charTrigrams(s: UTF8String): ArrayData = {
    val str = s.toString
    val set = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i + 3 <= str.length) { set.add(str.substring(i, i + 3)); i += 1 }
    val out = new Array[AnyRef](set.size)
    val it = set.iterator()
    i = 0
    while (it.hasNext) { out(i) = UTF8String.fromString(it.next()); i += 1 }
    new GenericArrayData(out)
  }

  /** Float-float cosine; dot and both norms are each folded left to
    * right. Embeddings stay raw `array<float>` in the plan and each element
    * widens to double inside the loop, which is exact, so the result is
    * bit-identical to casting the whole array first. */
  def cosineFF(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toFloatArray()
    val n = x.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += x(i).toDouble * y(i).toDouble; i += 1 }
    i = 0
    while (i < n) { na += x(i).toDouble * x(i).toDouble; i += 1 }
    i = 0
    while (i < n) { nb += y(i).toDouble * y(i).toDouble; i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Mixed float/double cosine (query vector vs double centroid), same
    * fold order and widening as [[cosineFF]]. */
  def cosineFD(a: ArrayData, b: ArrayData): Double = {
    val x = a.toFloatArray(); val y = b.toDoubleArray()
    val n = x.length
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) { dot += x(i).toDouble * y(i); i += 1 }
    i = 0
    while (i < n) { na += x(i).toDouble * x(i).toDouble; i += 1 }
    i = 0
    while (i < n) { nb += y(i) * y(i); i += 1 }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Random-hyperplane coefficients, md5-derived (plane p, dim d →
    * md5("p_d") % 2001 - 1000) — computed once per JVM, identical to the
    * oracle's per-row SQL derivation. */
  private lazy val planes: Array[Array[Double]] = Array.tabulate(32, 64) {
    (p, d) => ((md5LongBytes(s"${p}_$d".getBytes("UTF-8")) % 2001L) -
      1000L).toDouble
  }

  /** 8 banded 4-bit hyperplane bucket keys for a 64-dim float vector
    * (float→double widening is exact). */
  def bandKeysF(a: ArrayData): ArrayData = {
    val x = a.toFloatArray()
    val out = new Array[Long](8)
    var bd = 0
    while (bd < 8) {
      var key = 0L
      var j = 0
      while (j < 4) {
        val plane = planes(bd * 4 + j)
        var dot = 0.0
        var d = 0
        while (d < 64) { dot += x(d).toDouble * plane(d); d += 1 }
        if (dot > 0) key |= (1L << j)
        j += 1
      }
      out(bd) = key
      bd += 1
    }
    new GenericArrayData(out)
  }

  /** Banded sign-LSH bucket keys over an INTEGER vector (the DbscanCC
    * blocking): per band, `bits` hyperplane sign bits packed into a long.
    * Exact long arithmetic — bit-identical to the `element_at` mul-add
    * expression chain it replaces and to the DuckDB face (DbscanSql).
    * Contract: elements non-null, length = the planes' dim count. */
  def bandKeysL(a: ArrayData, planes: Array[Array[Long]], bands: Int,
      bits: Int): ArrayData = {
    val v = a.toLongArray()
    // A dims/vector-length mismatch must FAIL in BOTH directions, not
    // truncate or pad. Shorter: a partial dot can flip a sign bit that
    // the DuckDB face (full-length list arithmetic) and the replaced
    // expression form (NULL-propagating element_at past the end) would
    // never set — a silent blocking divergence at exactly the parity
    // boundary. Longer: the replaced element_at form silently IGNORED
    // trailing elements, but "padded" vectors are not a legitimate input
    // here — every caller (DbscanCC, the dedup blockers) builds vectors
    // whose length IS the configured dims, and a longer vector means the
    // caller's dims constant is stale, which the oracle (which always
    // dots the full list) would disagree with. Crashing names the bug;
    // the old form shipped it (r11 ADVICE documents this choice).
    if (planes.length > 0 && v.length != planes(0).length)
      throw new IllegalArgumentException(
        s"band_keys_l: vector length ${v.length} != configured dims " +
          s"${planes(0).length}")
    val out = new Array[Long](bands)
    var bd = 0
    while (bd < bands) {
      var key = 0L
      var j = 0
      while (j < bits) {
        val plane = planes(bd * bits + j)
        var dot = 0L
        var d = 0
        while (d < plane.length) { dot += v(d) * plane(d); d += 1 }
        if (dot > 0) key |= (1L << j)
        j += 1
      }
      out(bd) = key
      bd += 1
    }
    new GenericArrayData(out)
  }

  /** Set-Jaccard of two string arrays over raw UTF8Strings. */
  def jaccard(a: ArrayData, b: ArrayData): Double = {
    val sa = new java.util.HashSet[UTF8String]()
    var i = 0
    while (i < a.numElements()) { sa.add(a.getUTF8String(i)); i += 1 }
    val sb = new java.util.HashSet[UTF8String]()
    i = 0
    while (i < b.numElements()) { sb.add(b.getUTF8String(i)); i += 1 }
    var inter = 0
    val it = sa.iterator()
    while (it.hasNext) if (sb.contains(it.next())) inter += 1
    val union = sa.size + sb.size - inter
    if (union == 0) 0.0 else inter.toDouble / union
  }

  /** One-pass word-bigram stats (total, distinct, mode count) for the
    * repetition quality gate. Bigram = adjacent tokens joined with one
    * space — byte-identical to the `concat_ws(' ', ...)` construction.
    */
  def bigramStats(arr: ArrayData): org.apache.spark.sql.catalyst.InternalRow = {
    val n = arr.numElements()
    val counts = new java.util.HashMap[UTF8String, Integer]()
    val space = UTF8String.fromString(" ")
    var top = 0
    var i = 0
    while (i < n - 1) {
      val g = UTF8String.concat(arr.getUTF8String(i), space,
        arr.getUTF8String(i + 1))
      val c = counts.getOrDefault(g, 0) + 1
      counts.put(g, c)
      if (c > top) top = c
      i += 1
    }
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](math.max(n - 1, 0), counts.size(), top))
  }

  /** Repetition quality gate as ONE boolean kernel call — the predicate
    * form of [[bigramStats]] for filter contexts. Catalyst pushes filter
    * predicates through projections by alias substitution, so a predicate
    * built from several GetStructField(bigram_stats(...)) references would
    * run the stats kernel once PER REFERENCE per row inside FilterExec
    * (no cross-reference CSE there); this single call computes the stats
    * once and applies both thresholds. The arithmetic replicates the SQL
    * form exactly: int-diff/int-max division and 2.0*top/nTok in the same
    * left-to-right IEEE order as the oracle.
    */
  def repetitionKeep(arr: ArrayData, dupMax: Double, topMax: Double): Boolean = {
    val row = bigramStats(arr)
    val nB = row.getInt(0)
    val nD = row.getInt(1)
    val top = row.getInt(2)
    val nTok = arr.numElements()
    val dup = (nB - nD).toDouble / math.max(nB, 1)
    val topFrac = 2.0 * top / math.max(nTok, 1)
    dup <= dupMax && topFrac <= topMax
  }

  /** Luhn digit sum over an all-digit string with the DOUBLED-ODD-LEFT-
    * INDEX convention: 1-based left positions 1,3,5,… double (and fold
    * >9 back by −9). For an EVEN-length candidate this is exactly ISO/
    * IEC 7812 Luhn (the check digit lands on an even left index and is
    * never doubled); for the 15-digit mint payload it is the sum the
    * appended check digit must complement — the two call sites of
    * pipe_pii_redact, whose DuckDB oracle replays the identical parity
    * rule. Returns −1 on any non-digit char (validity tests then fail
    * instead of masking on garbage). The HOF fold form of this
    * (aggregate∘transform∘substring per digit) evaluated interpreted at
    * ~50 µs/row and put the whole PII projection on the slow path; this
    * kernel is one char loop. */
  def luhnSum(s: UTF8String): Int = {
    val bytes = s.getBytes
    var sum = 0
    var i = 0
    while (i < bytes.length) {
      val c = bytes(i) - '0'
      if (c < 0 || c > 9) return -1
      // 1-based left index = i + 1; doubled when odd ⇔ i even
      val d = if ((i & 1) == 0) { val t = 2 * c; if (t > 9) t - 9 else t }
              else c
      sum += d
      i += 1
    }
    sum
  }

  /** Left fold (acc·10 + digit) mod 97 over an all-digit string — the
    * ISO 13616 IBAN remainder (exact at any length; 97 · 10 + 9 fits an
    * int). Returns −1 on any non-digit char. */
  def mod97Fold(s: UTF8String): Int = {
    val bytes = s.getBytes
    var acc = 0
    var i = 0
    while (i < bytes.length) {
      val c = bytes(i) - '0'
      if (c < 0 || c > 9) return -1
      acc = (acc * 10 + c) % 97
      i += 1
    }
    acc
  }
}

private[functions] trait StringArrayInput { self: Expression =>
  protected def arrayChild: Expression
  protected def requireStringArray(): TypeCheckResult =
    arrayChild.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<string>, got $other")
    }
}

/** `simhash32(array<string>) → long` */
case class SimHash32(child: Expression)
    extends UnaryExpression with StringArrayInput {
  override protected def arrayChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireStringArray()
  override def dataType: DataType = LongType
  override def prettyName: String = "simhash32"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.simhash32(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernelOps.simhash32($c)")
  override protected def withNewChildInternal(c: Expression): SimHash32 =
    copy(child = c)
}

/** `minhash_sig(array<string>, nSeeds) → array<long>` (nSeeds literal) */
case class MinhashSig(child: Expression, nSeeds: Int)
    extends UnaryExpression with StringArrayInput {
  override protected def arrayChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireStringArray()
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash_sig"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.minhashSig(a.asInstanceOf[ArrayData], nSeeds)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ArrayKernelOps.minhashSig($c, $nSeeds)")
  override protected def withNewChildInternal(c: Expression): MinhashSig =
    copy(child = c)
}

/** `audio_winnow_fps(array<int>) → array<long>` — fused quantize →
  * 4-gram pack → constant-shingle filter → winnow-minima → distinct
  * (see [[ArrayKernelOps.audioWinnowFps]]). */
case class AudioWinnowFps(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(IntegerType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int>, got $other")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "audio_winnow_fps"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.audioWinnowFps(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ArrayKernelOps.audioWinnowFps($c)")
  override protected def withNewChildInternal(c: Expression): AudioWinnowFps =
    copy(child = c)
}

/** `winnow_min4(array<int|long>) → array<same>` — distinct w=4 window
  * minima, type-preserving; `[]` on an empty array (see
  * [[ArrayKernelOps.winnowMin4]]). */
case class WinnowMin4(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(LongType, _) | ArrayType(IntegerType, _) =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires array<int> or array<long>, got $other")
  }
  private def isLong: Boolean =
    child.dataType.asInstanceOf[ArrayType].elementType == LongType
  override def dataType: DataType = ArrayType(
    child.dataType.asInstanceOf[ArrayType].elementType, containsNull = false)
  override def prettyName: String = "winnow_min4"
  override protected def nullSafeEval(a: Any): Any =
    if (isLong) ArrayKernelOps.winnowMin4(a.asInstanceOf[ArrayData])
    else ArrayKernelOps.winnowMin4Int(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val fn = if (isLong) "winnowMin4" else "winnowMin4Int"
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernelOps.$fn($c)")
  }
  override protected def withNewChildInternal(c: Expression): WinnowMin4 =
    copy(child = c)
}

/** `char_trigrams(string) → array<string>` */
case class CharTrigrams(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires string, got ${child.dataType}")
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "char_trigrams"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.charTrigrams(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ArrayKernelOps.charTrigrams($c)")
  override protected def withNewChildInternal(c: Expression): CharTrigrams =
    copy(child = c)
}

private[functions] object FloatArrayCheck {
  def check(name: String, types: (DataType, DataType),
      rightElem: DataType): TypeCheckResult = types match {
    case (ArrayType(FloatType, _), ArrayType(e, _)) if e == rightElem =>
      TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"$name requires (array<float>, array<$rightElem>), got $other")
  }
}

/** `cosine_ff(array<float>, array<float>) → double` */
case class CosineFF(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    FloatArrayCheck.check(prettyName, (left.dataType, right.dataType),
      FloatType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_ff"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernelOps.cosineFF(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ArrayKernelOps.cosineFF($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineFF =
    copy(left = newLeft, right = newRight)
}

/** `cosine_fd(array<float>, array<double>) → double` */
case class CosineFD(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    FloatArrayCheck.check(prettyName, (left.dataType, right.dataType),
      DoubleType)
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_fd"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernelOps.cosineFD(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ArrayKernelOps.cosineFD($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CosineFD =
    copy(left = newLeft, right = newRight)
}

/** `band_keys_f(array<float>) → array<long>` */
case class BandKeysF(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(FloatType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<float>, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_keys_f"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.bandKeysF(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ArrayKernelOps.bandKeysF($c)")
  override protected def withNewChildInternal(c: Expression): BandKeysF =
    copy(child = c)
}

/** `band_keys_l(array<long>, salt, bands, bits, dims) → array<long>` —
  * banded sign-LSH bucket keys over integer vectors with the md5-derived
  * hyperplanes of [[graft.ml.DbscanCC.coef]] (salt/bands/bits/dims are
  * literals; the coefficient table is built once at plan time and shipped
  * as a reference object). The inline expression form this replaces
  * (bands × bits × dims `element_at` mul-add terms in one Project —
  * 1,024 at the N7 config) overflowed Janino's 64 KB method limit and
  * silently dropped the whole stage out of whole-stage codegen (observed
  * on the ×10 gate run); the kernel is one compiled loop at any config.
  */
case class BandKeysL(child: Expression, salt: String, bands: Int,
    bits: Int, dims: Int) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    child.dataType match {
      case ArrayType(LongType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires array<long>, got $other")
    }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "band_keys_l"
  @transient private lazy val planes: Array[Array[Long]] =
    Array.tabulate(bands * bits)(p =>
      Array.tabulate(dims)(d => graft.ml.DbscanCC.coef(salt, p, d)))
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.bandKeysL(a.asInstanceOf[ArrayData], planes, bands, bits)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("bkPlanes", planes, "long[][]")
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ArrayKernelOps.bandKeysL($c, $ref, $bands, $bits)")
  }
  override protected def withNewChildInternal(c: Expression): BandKeysL =
    copy(child = c)
}

/** `bigram_stats(array<string>) → struct<n_bigrams:int, n_distinct:int,
  * top_count:int>` — one-pass word-bigram statistics for the repetition
  * quality gate (dup fraction + mode coverage), replacing an interpreted
  * transform + array_distinct + array_sort + aggregate-HOF chain with a
  * single codegen'd kernel. Bigrams are adjacent tokens joined with a
  * single space, identical to the `concat_ws(' ', t[i], t[i+1])` form the
  * DuckDB oracle uses, so counts are value-identical.
  */
case class BigramStats(child: Expression)
    extends UnaryExpression with StringArrayInput {
  override protected def arrayChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireStringArray()
  override def dataType: DataType = StructType(Seq(
    StructField("n_bigrams", IntegerType, nullable = false),
    StructField("n_distinct", IntegerType, nullable = false),
    StructField("top_count", IntegerType, nullable = false)))
  override def prettyName: String = "bigram_stats"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.bigramStats(a.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ArrayKernelOps.bigramStats($c)")
  override protected def withNewChildInternal(c: Expression): BigramStats =
    copy(child = c)
}

/** `repetition_keep(array<string>, dupMax, topMax) → boolean` — the gate
  * predicate of [[BigramStats]] in one call (thresholds are literals).
  * See [[ArrayKernelOps.repetitionKeep]] for why the predicate form
  * exists: pushed filters evaluate each struct-field reference
  * independently.
  */
case class RepetitionKeep(child: Expression, dupMax: Double, topMax: Double)
    extends UnaryExpression with StringArrayInput {
  override protected def arrayChild: Expression = child
  override def checkInputDataTypes(): TypeCheckResult = requireStringArray()
  override def dataType: DataType = BooleanType
  override def prettyName: String = "repetition_keep"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.repetitionKeep(a.asInstanceOf[ArrayData], dupMax, topMax)
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.ArrayKernelOps.repetitionKeep($c, $dupMax, $topMax)")
  override protected def withNewChildInternal(c: Expression): RepetitionKeep =
    copy(child = c)
}

/** `luhn_sum(string) → int` (−1 on non-digit input) */
case class LuhnSum(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"luhn_sum requires string, got $other")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "luhn_sum"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.luhnSum(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernelOps.luhnSum($c)")
  override protected def withNewChildInternal(c: Expression): LuhnSum =
    copy(child = c)
}

/** `mod97_fold(string) → int` (ISO 13616 remainder; −1 on non-digit) */
case class Mod97Fold(child: Expression) extends UnaryExpression {
  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"mod97_fold requires string, got $other")
  }
  override def dataType: DataType = IntegerType
  override def prettyName: String = "mod97_fold"
  override protected def nullSafeEval(a: Any): Any =
    ArrayKernelOps.mod97Fold(a.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ArrayKernelOps.mod97Fold($c)")
  override protected def withNewChildInternal(c: Expression): Mod97Fold =
    copy(child = c)
}

/** `jaccard_sim(array<string>, array<string>) → double` */
case class JaccardSim(left: Expression, right: Expression)
    extends BinaryExpression {
  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<string>, array<string>), got $other")
    }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "jaccard_sim"
  override protected def nullSafeEval(a: Any, b: Any): Any =
    ArrayKernelOps.jaccard(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.ArrayKernelOps.jaccard($a, $b)")
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): JaccardSim =
    copy(left = newLeft, right = newRight)
}
