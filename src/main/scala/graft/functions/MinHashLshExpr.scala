package graft.functions

import java.nio.charset.StandardCharsets

import org.apache.commons.codec.binary.Hex
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression, UnsafeArrayData, XXH64}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String

/** Native MinHash-LSH document kernel: one pass over a document's text
  * returns everything the near-dup pipeline needs from it, as
  * `struct<buckets, sh, set_size>`:
  *  - `buckets`: the LSH band buckets, element b bit-identical to
  *    `lshBucketsWide(minHashSignaturesWide(charShingles(...)))` for
  *    band b — seed i is the minimum over the distinct char-k-gram
  *    shingles of the unsigned 32-bit slice `i % 4` of
  *    md5((i / 4) + ":" + shingle), and the bucket is the md5 hex of
  *    the band's seeds as comma-joined 8-hex strings;
  *  - `sh`, `set_size`: the ascending xxhash64 (seed 42) identities of
  *    the distinct shingles and their count, bit-identical to
  *    `shingleSetRows(hashShingles(charShingles(...)))`.
  *
  * Shingling follows `Dedup.shingleSetCol`: windows of k code points
  * (Spark's `length`/`substring` rule), a text shorter than k being one
  * whole-text shingle (`""` included). A null text yields null.
  *
  * Why an Expression: the DataFrame form explodes every shingle into a
  * row, folds the md5 hex slices in a string `min` aggregate (no
  * fixed-width buffer, so a sort-based aggregate) and explodes again
  * for the verify sets. Here the shingles never leave the row: distinct
  * windows are found by open addressing on their xxhash64 (which the
  * set needs anyway, with byte equality on a hash match), seeds are
  * kept as longs and formatted as hex once per band.
  */
case class MinHashLsh(child: Expression, numHashes: Int, rowsPerBand: Int, k: Int)
    extends UnaryExpression {
  require(k >= 1 && rowsPerBand >= 1 && rowsPerBand <= numHashes,
    s"minhash_lsh requires k >= 1 and 1 <= rowsPerBand <= numHashes, got " +
      s"k=$k, rowsPerBand=$rowsPerBand, numHashes=$numHashes")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"minhash_lsh requires a string argument, got ${child.dataType}")
  override def dataType: DataType = MinHashLsh.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "minhash_lsh"

  override def nullSafeEval(input: Any): Any =
    MinHashLsh.compute(input.asInstanceOf[UTF8String], numHashes, rowsPerBand, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.MinHashLsh.compute($c, $numHashes, $rowsPerBand, $k)")

  override protected def withNewChildInternal(newChild: Expression): MinHashLsh =
    copy(child = newChild)
}

object MinHashLsh {

  val schema: StructType = StructType(Seq(
    StructField("buckets", ArrayType(StringType, containsNull = false), nullable = false),
    StructField("sh", ArrayType(LongType, containsNull = false), nullable = false),
    StructField("set_size", LongType, nullable = false)))

  /** Spark's `xxhash64` seed. */
  private[functions] val XxSeed = 42L

  private val md5Local =
    ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** The distinct windows of k code points of one text (Spark's
    * `length`/`substring` rule; a text shorter than k is one
    * whole-text window, `""` included), in first-occurrence order.
    * Window `u` spans `bytes(start(u) until end(u))` and has the
    * xxhash64 (seed 42) `hash(u)`. The walk both kernels share:
    * [[MinHashLsh]] signs these windows, [[ShingleOverlap]] looks them
    * up in the eval set. */
  final class Windows private[functions] (val bytes: Array[Byte],
      offs: Array[Int], width: Int, hs: Array[Long], uniq: Array[Int],
      val size: Int) {
    def start(u: Int): Int = offs(uniq(u))
    def end(u: Int): Int = offs(uniq(u) + width)
    def hash(u: Int): Long = hs(uniq(u))
  }

  def windows(s: UTF8String, k: Int): Windows = {
    val bytes = s.getBytes
    val n = bytes.length
    // byte offset of every code point, counted as UTF8String.numChars does
    val offs = new Array[Int](n + 1)
    var nChars = 0
    var p = 0
    while (p < n) {
      offs(nChars) = p
      p = math.min(n, p + UTF8String.numBytesForFirstByte(bytes(p)))
      nChars += 1
    }
    offs(nChars) = n
    val width = math.min(k, nChars)
    val nWin = nChars - width + 1

    // distinct windows: open addressing on the window's xxhash64, byte
    // equality on a hash match
    val hs = new Array[Long](nWin)
    val uniq = new Array[Int](nWin)
    var nUniq = 0
    var cap = 2
    while (cap < 2 * nWin) cap <<= 1
    val mask = cap - 1
    val table = Array.fill(cap)(-1)
    var w = 0
    while (w < nWin) {
      val off = offs(w)
      val end = offs(w + width)
      val h = XXH64.hashUnsafeBytes(bytes, Platform.BYTE_ARRAY_OFFSET + off,
        end - off, XxSeed)
      hs(w) = h
      var slot = (h ^ (h >>> 32)).toInt & mask
      var dup = false
      while (!dup && table(slot) >= 0) {
        val o = table(slot)
        if (hs(o) == h && java.util.Arrays.equals(
            bytes, offs(o), offs(o + width), bytes, off, end)) dup = true
        else slot = (slot + 1) & mask
      }
      if (!dup) { table(slot) = w; uniq(nUniq) = w; nUniq += 1 }
      w += 1
    }
    new Windows(bytes, offs, width, hs, uniq, nUniq)
  }

  def compute(s: UTF8String, numHashes: Int, rowsPerBand: Int, k: Int): InternalRow = {
    val win = windows(s, k)
    val bytes = win.bytes
    val nUniq = win.size

    // seeds: 4 per md5 digest, each an unsigned big-endian 32-bit slice
    // (the 8-hex slice of the digest's hex form, in the same order)
    val md = md5Local.get()
    val digest = new Array[Byte](16)
    val nGroups = (numHashes + 3) / 4
    val prefixes = Array.tabulate(nGroups)(g =>
      s"$g:".getBytes(StandardCharsets.UTF_8))
    val mins = Array.fill(numHashes)(Long.MaxValue)
    val sh = new Array[Long](nUniq)
    var u = 0
    while (u < nUniq) {
      sh(u) = win.hash(u)
      val off = win.start(u)
      val len = win.end(u) - off
      var g = 0
      while (g < nGroups) {
        md.update(prefixes(g))
        md.update(bytes, off, len)
        md.digest(digest, 0, 16)
        var j = 0
        while (j < 4 && 4 * g + j < numHashes) {
          val v = ((digest(4 * j) & 0xffL) << 24) | ((digest(4 * j + 1) & 0xffL) << 16) |
            ((digest(4 * j + 2) & 0xffL) << 8) | (digest(4 * j + 3) & 0xffL)
          if (v < mins(4 * g + j)) mins(4 * g + j) = v
          j += 1
        }
        g += 1
      }
      u += 1
    }
    java.util.Arrays.sort(sh)

    // band b's bucket: md5 hex of its seeds as comma-joined 8-hex strings
    val buckets = Array.tabulate[Any](numHashes / rowsPerBand) { b =>
      val line = (b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(i => f"${mins(i)}%08x").mkString(",")
      UTF8String.fromString(Hex.encodeHexString(
        md.digest(line.getBytes(StandardCharsets.US_ASCII))))
    }
    InternalRow(new GenericArrayData(buckets),
      UnsafeArrayData.fromPrimitiveArray(sh), nUniq.toLong)
  }

  /** Column-API entry point. */
  def minHashLsh(text: Column, numHashes: Int = 16, rowsPerBand: Int = 4,
      k: Int = 9): Column =
    ColumnBridge.column(
      MinHashLsh(ColumnBridge.expression(text), numHashes, rowsPerBand, k))
}
