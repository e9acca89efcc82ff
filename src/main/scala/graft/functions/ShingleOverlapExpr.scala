package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types.{DataType, LongType, StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

/** A distinct set of shingles (byte strings): an open-addressing table
  * on their xxhash64 (seed 42), compared byte-exactly on a hash match —
  * the table [[MinHashLsh.windows]] keeps per text, here over a whole
  * eval set. Built on the driver ([[ShingleSet.of]]), then read-only
  * and shipped once per use as a Spark `Broadcast`. Heap: one `Long`
  * and one reference per slot (at most four slots per shingle) plus
  * the shingle's own byte array. */
final class ShingleSet private () extends Serializable {

  private var hashes = new Array[Long](16)
  private var shingles = new Array[Array[Byte]](16)
  private var n = 0

  def size: Int = n

  /** The slot holding the shingle `b(from until to)` with hash `h`, or
    * the empty slot where it would go. */
  private def slot(b: Array[Byte], from: Int, to: Int, h: Long): Int = {
    val mask = hashes.length - 1
    var i = (h ^ (h >>> 32)).toInt & mask
    while (shingles(i) != null && !(hashes(i) == h &&
        java.util.Arrays.equals(shingles(i), 0, shingles(i).length, b, from, to)))
      i = (i + 1) & mask
    i
  }

  def contains(b: Array[Byte], from: Int, to: Int, h: Long): Boolean =
    shingles(slot(b, from, to, h)) != null

  private def add(b: Array[Byte], from: Int, to: Int, h: Long): Unit = {
    val i = slot(b, from, to, h)
    if (shingles(i) == null) {
      hashes(i) = h
      shingles(i) = java.util.Arrays.copyOfRange(b, from, to)
      n += 1
      if (2 * n > hashes.length) grow()
    }
  }

  private def grow(): Unit = {
    val (oldHashes, oldShingles) = (hashes, shingles)
    hashes = new Array[Long](2 * oldHashes.length)
    shingles = new Array[Array[Byte]](2 * oldHashes.length)
    n = 0
    var i = 0
    while (i < oldShingles.length) {
      val sh = oldShingles(i)
      if (sh != null) add(sh, 0, sh.length, oldHashes(i))
      i += 1
    }
  }
}

object ShingleSet {

  /** The distinct k-code-point shingles of `texts` — the union of
    * their [[MinHashLsh.windows]]; null texts contribute nothing — or
    * `None` as soon as there are more than `maxShingles` of them. */
  def of(texts: Iterator[String], k: Int, maxShingles: Int): Option[ShingleSet] = {
    val set = new ShingleSet()
    while (texts.hasNext && set.size <= maxShingles) {
      val t = texts.next()
      if (t != null) {
        val w = MinHashLsh.windows(UTF8String.fromString(t), k)
        var u = 0
        while (u < w.size && set.size <= maxShingles) {
          set.add(w.bytes, w.start(u), w.end(u), w.hash(u))
          u += 1
        }
      }
    }
    if (set.size <= maxShingles) Some(set) else None
  }
}

/** Native decontamination kernel: for one text, `struct<n_shared,
  * n_shingles>` — how many of its distinct char-k-gram shingles are in
  * the broadcast eval shingle set, and how many distinct shingles it
  * has. Shingles are [[MinHashLsh.windows]] (the `Dedup.shingleSetCol`
  * rule: windows of k code points, a text shorter than k being one
  * whole-text shingle, `""` included) and compare byte-exactly. A null
  * text yields null.
  *
  * Why an Expression: the DataFrame form explodes every shingle into a
  * row, joins the rows to the eval set and groups them back by
  * document. Here the shingles never leave the row, and the eval set
  * is read from one broadcast per call.
  *
  * The kernel is marked non-deterministic, as `asNondeterministic`
  * marks an expensive UDF: its value depends only on the row, but the
  * mark stops the optimizer from inlining it into each consumer of its
  * output or copying it into a filter pushed below it, so it runs once
  * per row.
  */
case class ShingleOverlap(child: Expression, evalShingles: Broadcast[ShingleSet],
    k: Int) extends UnaryExpression {
  require(k >= 1, s"shingle_overlap requires k >= 1, got k=$k")

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"shingle_overlap requires a string argument, got ${child.dataType}")
  override def dataType: DataType = ShingleOverlap.schema
  override def nullable: Boolean = child.nullable
  override def prettyName: String = "shingle_overlap"
  override lazy val deterministic: Boolean = false

  @transient private lazy val set = evalShingles.value

  override def nullSafeEval(input: Any): Any =
    ShingleOverlap.compute(input.asInstanceOf[UTF8String], set, k)

  override def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val bc = ctx.addReferenceObj("evalShingles", evalShingles,
      classOf[Broadcast[_]].getName)
    val setCls = classOf[ShingleSet].getName
    val set = ctx.addMutableState(setCls, "evalShingleSet",
      v => s"$v = ($setCls) $bc.value();", forceInline = true)
    defineCodeGen(ctx, ev, c =>
      s"graft.functions.ShingleOverlap.compute($c, $set, $k)")
  }

  override protected def withNewChildInternal(newChild: Expression): ShingleOverlap =
    copy(child = newChild)
}

object ShingleOverlap {

  val schema: StructType = StructType(Seq(
    StructField("n_shared", LongType, nullable = false),
    StructField("n_shingles", LongType, nullable = false)))

  def compute(s: UTF8String, set: ShingleSet, k: Int): InternalRow = {
    val w = MinHashLsh.windows(s, k)
    var shared = 0L
    var u = 0
    while (u < w.size) {
      if (set.contains(w.bytes, w.start(u), w.end(u), w.hash(u))) shared += 1
      u += 1
    }
    InternalRow(shared, w.size.toLong)
  }

  /** Column-API entry point. */
  def shingleOverlap(text: Column, evalShingles: Broadcast[ShingleSet],
      k: Int = 9): Column =
    ColumnBridge.column(ShingleOverlap(ColumnBridge.expression(text), evalShingles, k))
}
