package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodeGenerator, CodegenContext,
  ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, BooleanType, DataType, IntegerType, LongType,
  StringType, StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.io.{DvSidecars, DvVector}

/** One file's lazily-resolved deletion vector ([[DvFileSuppressed]]'s
  * per-instance cache slot). `v` is a benign-race cache of IMMUTABLE
  * sidecar content — volatile for cross-task visibility when a plan's
  * reference object is shared by partitions; a concurrent double-resolve
  * loads identical bytes. */
private[plans] final class DvVectorSlot(val sidecar: String) {
  @volatile var v: DvVector = _

  /** The decoded vector, loaded through [[DvSidecars]] on first use. */
  def vector(tableDir: String): DvVector = {
    var d = v
    if (d == null) { d = DvSidecars.vector(tableDir, sidecar); v = d }
    d
  }
}

/** PER-TASK deletion-vector application: `dv_suppressed(file, pos)` is
  * TRUE when row `pos` of data file `file` is suppressed by the file's
  * live deletion vector in `sidecarOf` — the filter the vectored read
  * path plants above its raw scan (`filter(!dv_suppressed(...))`).
  *
  * Scale rationale (the round-12 verdict's #2): the previous form
  * expanded EVERY live vector's positions driver-side and broadcast the
  * (file, position) pair list to every executor — cost ∝ total
  * suppressed rows table-wide, paid on every read of a vectored table.
  * Here the driver ships only the file→sidecar NAME map (∝ vectored
  * files, bytes each); a reading task decodes only the sidecars of the
  * files it actually scans, through the per-JVM immutable-content LRU
  * ([[DvSidecars.positions]] — the key-bloom sidecars' pattern), and
  * probes a sorted long array per row. No join, no shuffle, no
  * driver-side expansion; rows of vector-less files cost one hash-map
  * miss. Codegen'd: the generated predicate calls back into this
  * instance, so the surrounding scan/filter stays one WholeStageCodegen
  * span.
  *
  * The probe is `O(log k)` per row (k = the file's suppressed rows); the
  * 100 TB form swaps the sorted array for a roaring bitmap behind the
  * same cache — the plan shape does not change.
  */
case class DvFileSuppressed(left: Expression, right: Expression,
                            tableDir: String,
                            sidecarOf: Map[String, String])
    extends BinaryExpression {

  override def dataType: DataType = BooleanType
  override def nullable: Boolean = false
  override def prettyName: String = "dv_suppressed"
  // the plan prints the map's size, not its entries (see [[CdfStamps]])
  override def stringArgs: Iterator[Any] =
    Iterator(left, right, tableDir, s"${sidecarOf.size} vectors")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"dv_suppressed expects (string, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  // UTF8String-keyed view of the map: the per-row probe compares the scan's
  // raw file-name bytes with zero String decoding or allocation. Each
  // entry's slot caches the DECODED vector after its first probe, so the
  // steady-state row path is one lock-free HashMap.get + contains() — the
  // JVM-global [[DvSidecars]] cache (and its monitor) is touched once per
  // (expression instance, sidecar), never per row. The slot write is a
  // benign race: vectors are immutable, a concurrent double-resolve loads
  // identical content.
  @transient private lazy val byFile: java.util.HashMap[UTF8String, DvVectorSlot] = {
    val m = new java.util.HashMap[UTF8String, DvVectorSlot](sidecarOf.size * 2)
    sidecarOf.foreach { case (f, sc) =>
      m.put(UTF8String.fromString(f), new DvVectorSlot(sc))
    }
    m
  }

  /** Per-row probe (also the codegen entry point). A null file/pos never
    * matches a vector — the row is served. */
  def suppressed(file: UTF8String, pos: Long): Boolean = {
    if (file == null) return false
    val slot = byFile.get(file)
    slot != null && slot.vector(tableDir).contains(pos)
  }

  override def eval(input: InternalRow): Any = {
    val f = left.eval(input)
    val p = right.eval(input)
    if (f == null || p == null) false
    else suppressed(f.asInstanceOf[UTF8String], p.asInstanceOf[Long])
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("dvSuppressed", this, classOf[DvFileSuppressed].getName)
    val fileGen = left.genCode(ctx)
    val posGen = right.genCode(ctx)
    ev.copy(
      code = fileGen.code + posGen.code +
        code"""
           |boolean ${ev.value} = !${fileGen.isNull} && !${posGen.isNull} &&
           |  $self.suppressed(${fileGen.value}, ${posGen.value});
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DvFileSuppressed =
    copy(left = newLeft, right = newRight)
}

/** One change stamp of a change-feed window: the rows of one data file,
  * read under deletion vector `dv` (None: every row), enter commit
  * `version` with `sign` (+1 added, −1 removed). `update` marks a commit
  * whose every change row is an update image, committed at `millis`. An
  * annotated commit marks single rows as update images: every row of a
  * `post` stamp (an added postimage file), or the rows of a −1 stamp
  * whose positions are in its `dvu` sidecar. */
final case class CdfStamp(dv: Option[String], version: Long, sign: Int, update: Boolean,
                          millis: Long, post: Boolean, dvu: Option[String])

object CdfStamps {
  /** The columns one stamp adds to a scanned row. */
  val Fields: StructType = StructType(Seq(
    StructField("_graft_cdf_v", LongType, nullable = false),
    StructField("_graft_cdf_sign", IntegerType, nullable = false),
    StructField("_graft_cdf_u", BooleanType, nullable = false),
    StructField("_graft_cdf_upd", BooleanType, nullable = false),
    StructField("_graft_cdf_ms", LongType, nullable = false)))

  private val Empty: ArrayData = new GenericArrayData(Array.empty[Any])
}

/** One file's stamps, resolved for the per-row path: the stamp rows with
  * and without the update-image mark, and the vector slots to probe (null
  * where a stamp probes none). A file no stamp probes gets `constant`,
  * the same array for every row. */
private[plans] final class FileStamps(stamps: Seq[CdfStamp],
                                      slot: Option[String] => DvVectorSlot) {
  private def row(s: CdfStamp, u: Boolean): InternalRow =
    InternalRow(s.version, s.sign, u, s.update, s.millis)
  val n: Int = stamps.length
  val plain: Array[InternalRow] = stamps.map(s => row(s, s.post)).toArray
  val asUpdate: Array[InternalRow] = stamps.map(s => row(s, u = true)).toArray
  val dv: Array[DvVectorSlot] = stamps.map(s => slot(s.dv)).toArray
  val dvu: Array[DvVectorSlot] = stamps.map(s => slot(s.dvu)).toArray
  val constant: ArrayData =
    if (dv.forall(_ == null) && dvu.forall(_ == null)) new GenericArrayData(plain.toArray[Any])
    else null
}

/** `cdf_stamps(file, pos)`: the change stamps of the row at position `pos`
  * of data file `file` — one struct of [[CdfStamps.Fields]] per stamp of
  * the file in `stampsOf` whose vector does not suppress the row. The
  * change feed explodes it right above its one scan, so a row enters
  * every (version, sign) its file's stamps name: a file added in one
  * commit and removed in a later one contributes to both, and a file seen
  * under two vector states (before and after a dv commit) yields each
  * state's rows.
  *
  * The stamp map is built on the driver from the log walk and travels in
  * the task closure, like [[DvFileSuppressed]]'s file→sidecar map, so the
  * stamping is a hash lookup per row: no broadcast join, and no local
  * relation whose collection is a Spark job of its own. Vectors load per
  * task through the [[DvSidecars]] cache, once per (instance, sidecar). A
  * NULL `pos` probes no vector (the window holds none). The plan prints
  * the map's size, not its entries, so the plan text — rendered for every
  * SQL execution event — keeps its width however many files the window
  * touches. */
case class CdfStamps(left: Expression, right: Expression, tableDir: String,
                     stampsOf: Map[String, Seq[CdfStamp]])
    extends BinaryExpression {

  override def dataType: DataType = ArrayType(CdfStamps.Fields, containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "cdf_stamps"
  override def stringArgs: Iterator[Any] =
    Iterator(left, right, tableDir, s"${stampsOf.size} files")

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == LongType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"cdf_stamps expects (string, bigint), got " +
        s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")

  // UTF8String-keyed, so the probe compares the scan's raw file-name bytes;
  // stamps naming one sidecar share its slot
  @transient private lazy val byFile: java.util.HashMap[UTF8String, FileStamps] = {
    val slots = scala.collection.mutable.HashMap.empty[String, DvVectorSlot]
    val slot = (sc: Option[String]) =>
      sc.map(s => slots.getOrElseUpdate(s, new DvVectorSlot(s))).orNull
    val m = new java.util.HashMap[UTF8String, FileStamps](stampsOf.size * 2)
    stampsOf.foreach { case (f, ss) => m.put(UTF8String.fromString(f), new FileStamps(ss, slot)) }
    m
  }

  /** Per-row stamping (also the codegen entry point). */
  def stamps(file: UTF8String, pos: Long, posKnown: Boolean): ArrayData = {
    val fs = if (file == null) null else byFile.get(file)
    if (fs == null) CdfStamps.Empty
    else if (fs.constant != null) fs.constant
    else {
      val out = new Array[Any](fs.n)
      var k = 0
      var i = 0
      while (i < fs.n) {
        val dv = fs.dv(i)
        if (dv == null || !posKnown || !dv.vector(tableDir).contains(pos)) {
          val dvu = fs.dvu(i)
          out(k) =
            if (dvu != null && posKnown && dvu.vector(tableDir).contains(pos)) fs.asUpdate(i)
            else fs.plain(i)
          k += 1
        }
        i += 1
      }
      new GenericArrayData(if (k == out.length) out else out.take(k))
    }
  }

  override def eval(input: InternalRow): Any = {
    val p = right.eval(input)
    stamps(left.eval(input).asInstanceOf[UTF8String],
      if (p == null) 0L else p.asInstanceOf[Long], p != null)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    import org.apache.spark.sql.catalyst.expressions.codegen.Block._
    val self = ctx.addReferenceObj("cdfStamps", this, classOf[CdfStamps].getName)
    val fileGen = left.genCode(ctx)
    val posGen = right.genCode(ctx)
    ev.copy(
      code = fileGen.code + posGen.code +
        code"""
           |${CodeGenerator.javaType(dataType)} ${ev.value} = $self.stamps(
           |  ${fileGen.isNull} ? null : ${fileGen.value}, ${posGen.value}, !${posGen.isNull});
           |""".stripMargin,
      isNull = FalseLiteral)
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): CdfStamps =
    copy(left = newLeft, right = newRight)
}
