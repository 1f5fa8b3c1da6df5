package graft.plans

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}
import java.security.MessageDigest

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native aggregate computing an n-way minhash signature in ONE pass with
  * one mutable buffer — replaces n separate `min(md5(i || ':' || shingle))`
  * aggregate expressions (which hash the shingle n times and keep n
  * independent agg states).
  *
  * Semantics are bit-identical to the expression form used by
  * `TextPipeline.minhashSignature`: hash i of a shingle s is the lowercase
  * hex md5 of `"$i:$s"`, and the signature element is the lexicographic
  * minimum over the group. Buffer is an array of byte[16] digests compared
  * unsigned-lexicographically (equivalent to comparing hex strings).
  *
  * TypedImperativeAggregate gives partial aggregation for free: update runs
  * map-side, merge combines partial signatures on the reducer, serialize is
  * a compact length-prefixed byte layout.
  */
case class MinHashSignature(
    child: Expression,
    numHashes: Int = 8,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[Array[Byte]]] {

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false

  override def dataType: DataType =
    StructType((0 until numHashes).map(i => StructField(s"h$i", StringType)))

  override def createAggregationBuffer(): Array[Array[Byte]] =
    Array.fill(numHashes)(null)

  @transient private lazy val md5 = MessageDigest.getInstance("MD5")

  private def less(a: Array[Byte], b: Array[Byte]): Boolean = {
    var i = 0
    while (i < a.length && i < b.length) {
      val x = a(i) & 0xff; val y = b(i) & 0xff
      if (x != y) return x < y
      i += 1
    }
    a.length < b.length
  }

  override def update(buf: Array[Array[Byte]], input: InternalRow): Array[Array[Byte]] = {
    val v = child.eval(input)
    if (v != null) {
      val s = v.asInstanceOf[UTF8String].toString
      var i = 0
      while (i < numHashes) {
        md5.reset()
        val d = md5.digest(s"$i:$s".getBytes("UTF-8"))
        if (buf(i) == null || less(d, buf(i))) buf(i) = d
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[Array[Byte]], b2: Array[Array[Byte]]): Array[Array[Byte]] = {
    var i = 0
    while (i < numHashes) {
      if (b1(i) == null || (b2(i) != null && less(b2(i), b1(i)))) b1(i) = b2(i)
      i += 1
    }
    b1
  }

  override def eval(buf: Array[Array[Byte]]): Any = {
    val hex = "0123456789abcdef"
    def toHex(d: Array[Byte]): UTF8String = {
      if (d == null) return null
      val sb = new java.lang.StringBuilder(32)
      d.foreach { b => sb.append(hex((b >> 4) & 0xf)).append(hex(b & 0xf)) }
      UTF8String.fromString(sb.toString)
    }
    InternalRow.fromSeq(buf.map(toHex).toIndexedSeq)
  }

  override def serialize(buf: Array[Array[Byte]]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    out.writeInt(buf.length)
    buf.foreach { d =>
      if (d == null) out.writeInt(-1)
      else { out.writeInt(d.length); out.write(d) }
    }
    out.flush(); bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[Array[Byte]] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val n = in.readInt()
    Array.fill(n) {
      val len = in.readInt()
      if (len < 0) null
      else { val d = new Array[Byte](len); in.readFully(d); d }
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MinHashSignature =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MinHashSignature =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): MinHashSignature =
    copy(child = newChildren.head)

  override def prettyName: String = "minhash_signature"
}

object MinHashSignature {
  /** Registers `minhash8(col)` on the session. */
  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      "minhash8", exprs => MinHashSignature(exprs.head).toAggregateExpression(), "scala_udf")
}
