package graft.expressions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Static kernel for [[MinhashMd5Bands]], shaped for codegen (Scala
  * object → static forwarders, so generated Java calls it directly).
  *
  * The SQL formulation of curate's LSH signature (the q_minhash_oracle
  * construction, banded 4×2) is
  * {{{
  * toks  = filter(split(trim(lower(text)), '\s+'), x -> x != '')
  * shs   = size(toks) < 3 ? array(array_join(toks, ' '))
  *         : array_distinct(transform(sequence(1, size(toks) - 2),
  *             i -> array_join(slice(toks, i, 3), ' ')))
  * mh_i  = array_min(transform(shs, x -> md5(concat('i:', x))))  -- i = 0..7
  * bands = array(mh0 || mh1, mh2 || mh3, mh4 || mh5, mh6 || mh7)
  * }}}
  * — a stack of interpreted higher-order functions outside whole-stage
  * codegen, where every md5 call builds a fresh `MessageDigest`, a hex
  * `String` and a `UTF8String`. This kernel is the one-scan twin over
  * the LOWERED text: one pass finds the token byte ranges, each
  * shingle is assembled once behind a two-byte `"i:"` prefix, and the
  * 8 digests of each shingle run on one reused per-thread digest.
  *
  * Equivalence argument (the kernel ≡ reference property spec,
  * MinhashBandsSpec, checks it on generated adversarial text):
  *  - Case mapping is not re-implemented: the expression's child is
  *    Spark's own `lower(text)`, so it is whatever the reference's
  *    `lower` does (ICU or JDK tables, per
  *    `spark.sql.icu.caseMappings.enabled`). Both tables emit valid
  *    UTF-8, so `split`'s String round trip is byte-preserving.
  *  - Tokens: [[TokenHashUtil]]'s argument — Java's `\s` is exactly the
  *    bytes 0x09–0x0D and 0x20, no byte of a multi-byte UTF-8 sequence
  *    is below 0x80, `filter(_ != '')` leaves exactly the maximal
  *    non-separator byte runs, and `trim` (0x20 only) is a no-op under
  *    the scan.
  *  - Shingles: the 3-token windows joined by one 0x20, or — under 3
  *    tokens — the one whole-doc shingle (`""` for no tokens), as
  *    `array_join` builds them. `array_distinct` cannot change a
  *    minimum, so the kernel skips it.
  *  - Minimum: `md5` hashes the UTF-8 bytes of `'i:' || shingle` and
  *    returns fixed-length lowercase hex, whose string order (`0-9` <
  *    `a-f`, byte-wise) is the unsigned byte order of the raw digest;
  *    keeping the unsigned-byte minimum and hex-encoding only the 8
  *    winners gives the same strings `array_min` picks.
  *  - Null: null text makes every reference value null, so the
  *    reference yields 4 null band keys (not a null array); the kernel
  *    does the same, and a posexplode of either groups all null-text
  *    docs into the same 4 buckets. */
object MinhashMd5Util {
  import TokenHashUtil.isSep

  /** Minhash positions (the `i` in `md5('i:' || shingle)`). */
  private final val Hashes = 8
  /** Bands of 2 adjacent minhashes each. */
  private final val Bands = Hashes / 2
  private final val DigestLen = 16
  private final val Shingle = 3

  private val md = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val Hex = "0123456789abcdef".getBytes("US-ASCII")

  /** The 4 LSH band keys of already-lowered text; null → 4 nulls. */
  def bands(lowered: UTF8String): ArrayData = {
    if (lowered == null) return new GenericArrayData(new Array[Any](Bands))
    val bytes = lowered.getBytes
    val n = bytes.length
    var starts = new Array[Int](16)
    var ends = new Array[Int](16)
    var cnt = 0
    var p = 0
    while (p < n) {
      while (p < n && isSep(bytes(p))) p += 1
      if (p < n) {
        val start = p
        while (p < n && !isSep(bytes(p))) p += 1
        if (cnt == starts.length) {
          starts = java.util.Arrays.copyOf(starts, cnt * 2)
          ends = java.util.Arrays.copyOf(ends, cnt * 2)
        }
        starts(cnt) = start
        ends(cnt) = p
        cnt += 1
      }
    }
    val width = math.min(cnt, Shingle)
    val nShingles = if (cnt < Shingle) 1 else cnt - Shingle + 1
    // "i:" + shingle; a shingle never outgrows the text it came from
    val buf = new Array[Byte](n + 2)
    buf(1) = ':'
    val mins = new Array[Byte](Hashes * DigestLen)
    java.util.Arrays.fill(mins, 0xff.toByte)
    val dig = new Array[Byte](DigestLen)
    val d = md.get()
    var s = 0
    while (s < nShingles) {
      var len = 2
      var t = s
      while (t < s + width) {
        if (t > s) { buf(len) = ' '; len += 1 }
        val tl = ends(t) - starts(t)
        System.arraycopy(bytes, starts(t), buf, len, tl)
        len += tl
        t += 1
      }
      var h = 0
      while (h < Hashes) {
        buf(0) = ('0' + h).toByte
        d.update(buf, 0, len)
        d.digest(dig, 0, DigestLen)
        val off = h * DigestLen
        if (java.util.Arrays.compareUnsigned(
            dig, 0, DigestLen, mins, off, off + DigestLen) < 0)
          System.arraycopy(dig, 0, mins, off, DigestLen)
        h += 1
      }
      s += 1
    }
    val out = new Array[Any](Bands)
    var b = 0
    while (b < Bands) {
      // band b = hex(mh(2b)) || hex(mh(2b+1)): 32 contiguous digest bytes
      val hex = new Array[Byte](4 * DigestLen)
      var i = 0
      while (i < 2 * DigestLen) {
        val v = mins(2 * b * DigestLen + i) & 0xff
        hex(2 * i) = Hex(v >>> 4)
        hex(2 * i + 1) = Hex(v & 0x0f)
        i += 1
      }
      out(b) = UTF8String.fromBytes(hex)
      b += 1
    }
    new GenericArrayData(out)
  }
}

/** `array<string>` of the 4 MinHash-LSH band keys of LOWERED text —
  * curate's near-dedup signature as one codegen'd expression in place
  * of the interpreted shingle/md5 tower (see [[MinhashMd5Util]]).
  * Never null: null input yields 4 null keys, as the SQL form does. */
case class MinhashMd5Bands(child: Expression) extends UnaryExpression
    with Serializable {
  override def prettyName: String = "graft_minhash_md5_bands"
  override def dataType: DataType = ArrayType(StringType, containsNull = true)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a string input, got ${child.dataType.simpleString}")

  override def eval(input: InternalRow): Any =
    MinhashMd5Util.bands(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      |${c.code}
      |${CodeGenerator.javaType(dataType)} ${ev.value} =
      |  graft.expressions.MinhashMd5Util.bands(${c.isNull} ? null : ${c.value});
      |""".stripMargin, isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): MinhashMd5Bands =
    copy(child = newChild)
}
