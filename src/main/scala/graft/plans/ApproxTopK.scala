package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Misra–Gries heavy hitters as a native one-pass aggregate —
  * `approx_top_k(item, k, capacity)` returns the top-k items by estimated
  * frequency from a bounded `capacity`-counter summary.
  *
  * This is the 100 TB frequent-items shape: every task keeps at most
  * `capacity` counters regardless of input size (a full `groupBy(item)`
  * materializes one row per DISTINCT item — unbounded for URL / token /
  * n-gram keys), partial summaries combine map-side, and only
  * `capacity`-sized buffers cross the exchange.
  *
  * Guarantees (the classic MG bound, preserved under merge per the
  * mergeable-summaries construction — merge is pointwise counter sum
  * followed by subtracting the (capacity+1)-st largest count):
  *
  *  - `est(x) <= true(x)` for every reported item,
  *  - `true(x) - est(x) <= N / (capacity + 1)` over N total rows,
  *  - every item with `true(x) > N / (capacity + 1)` is present in the
  *    summary (no false negatives among true heavy hitters).
  *
  * When `capacity >= distinct(item)` no counter is ever evicted and the
  * summary is EXACT — the correctness gate (`a19_heavy_hitters`) pins that
  * window against a DuckDB exact top-k; `ApproxTopKSpec` pins the error
  * bounds under capacity pressure where no SQL twin exists.
  *
  * Output is `array<struct<item, est>>` sorted by (est desc, item asc) and
  * truncated to k — a deterministic order a SQL oracle can replay.
  */
case class ApproxTopK(
    child: Expression,
    k: Int,
    capacity: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[String, Long]] {

  require(k > 0 && capacity >= k, s"need k > 0 and capacity >= k, got k=$k capacity=$capacity")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", StringType), StructField("est", LongType))), containsNull = false)

  override def createAggregationBuffer(): mutable.HashMap[String, Long] =
    mutable.HashMap.empty

  override def update(buf: mutable.HashMap[String, Long], input: InternalRow): mutable.HashMap[String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      buf.get(s) match {
        case Some(c) => buf.update(s, c + 1)
        case None if buf.size < capacity => buf.update(s, 1L)
        case None =>
          // decrement-all: every stored count drops by one (paired with the
          // skipped increment, total decrements stay <= N/(capacity+1))
          val dead = mutable.ArrayBuffer.empty[String]
          buf.keysIterator.foreach { key =>
            val c = buf(key) - 1
            if (c == 0) dead += key else buf.update(key, c)
          }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(b1: mutable.HashMap[String, Long], b2: mutable.HashMap[String, Long]): mutable.HashMap[String, Long] = {
    b2.foreach { case (key, c) => b1.update(key, b1.getOrElse(key, 0L) + c) }
    if (b1.size > capacity) {
      // subtract the (capacity+1)-st largest count and drop non-positives:
      // leaves <= capacity counters and adds <= that count to every error
      val counts = b1.values.toArray
      java.util.Arrays.sort(counts)
      val sub = counts(counts.length - (capacity + 1))
      val dead = mutable.ArrayBuffer.empty[String]
      b1.keysIterator.foreach { key =>
        val c = b1(key) - sub
        if (c <= 0) dead += key else b1.update(key, c)
      }
      dead.foreach(b1.remove)
    }
    b1
  }

  override def eval(buf: mutable.HashMap[String, Long]): Any = {
    val top = buf.toArray
      .sortWith { case ((i1, c1), (i2, c2)) => c1 > c2 || (c1 == c2 && i1 < i2) }
      .take(k)
    new GenericArrayData(top.map { case (item, c) =>
      InternalRow(UTF8String.fromString(item), c)
    })
  }

  override def serialize(buf: mutable.HashMap[String, Long]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.size)
    buf.foreach { case (key, c) => out.writeUTF(key); out.writeLong(c) }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[String, Long] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    val buf = mutable.HashMap.empty[String, Long]
    var i = 0
    while (i < n) { buf.update(in.readUTF(), in.readLong()); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): ApproxTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): ApproxTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): ApproxTopK =
    copy(child = newChildren.head)

  override def prettyName: String = "approx_top_k"
}

object ApproxTopK {

  private def lit(e: Expression, what: String): Int = e match {
    case org.apache.spark.sql.catalyst.expressions.Literal(v: Int, IntegerType) => v
    case other => sys.error(s"approx_top_k $what must be an integer literal, got $other")
  }

  /** Expression builder shared by [[register]] and the
    * `GraftExtensions` session-build injection. */
  def build(exprs: Seq[Expression]): Expression =
    ApproxTopK(exprs.head, lit(exprs(1), "k"), lit(exprs(2), "capacity"))
      .toAggregateExpression()

  /** Registers `approx_top_k(item, k, capacity)` on the session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "approx_top_k", build, "scala_udf")
}
