package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Ascending, Attribute, AttributeReference, SortOrder}
import org.apache.spark.sql.catalyst.expressions.codegen.{UnsafeArrayWriter, UnsafeRowWriter}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{ClusteredDistribution, Distribution, HashPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.{SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.types.{ArrayType, BooleanType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.BoxMerge

/** The merge-clustering operator as a first-class physical operator
  * (SURVEY.md A8 promoted from `flatMapGroups`/collect_list to the full
  * LogicalPlan -> Strategy -> SparkPlan stack).
  *
  * Why a custom operator is justified here (the (c) tier of the extension
  * policy): grouped connected-components has no relational expression, and
  * the Dataset-API forms either pay object SerDe (`flatMapGroups`) or
  * buffer whole groups through an ObjectHashAggregate (`collect_list`).
  * This Exec instead *declares* its distribution + ordering needs —
  * `ClusteredDistribution(key)` with an in-partition sort on
  * (key, x1, y1, x2, y2, label, chip) — so Catalyst plans one exchange (or
  * none, if the child is already clustered), and the operator streams
  * sorted runs: buffer one tile's rows, union-find, emit, release.
  *
  * This is the engine's only DataFrame-level box merge; each tile runs the
  * [[graft.operators.BoxMerge.clusterGroup]] kernel (ids = 1-based
  * canonical positions, conflict -> undefined_object, chip_names = sorted
  * distinct member chips per `src/form_calcs.py:770-779`). Every input
  * column must be non-null: a null fails the task with an
  * `IllegalArgumentException` naming the column, where a positional read
  * would turn a null coordinate into 0.
  *
  * Output attributes are a constructor parameter minted fresh per operator
  * instance ([[MergeBoxesPlan.freshOutput]]): a shared object-level val
  * would make two merge operators in one query (self-join, union) emit
  * duplicate ExprIds across branches, which DeduplicateRelations cannot fix
  * for a custom node.
  */
case class MergeBoxesPlan(gap: Int, child: LogicalPlan,
                          outputAttrs: Seq[Attribute]) extends UnaryNode {

  override def output: Seq[Attribute] = outputAttrs

  /** The operator consumes every child column positionally — without this,
    * ColumnPruning sees no expression references and strips the child. */
  override def references: org.apache.spark.sql.catalyst.expressions.AttributeSet =
    child.outputSet

  override protected def withNewChildInternal(newChild: LogicalPlan): MergeBoxesPlan =
    copy(child = newChild)
}

object MergeBoxesPlan {
  /** (key, cluster_id, minx, miny, maxx, maxy, n_boxes, object_class,
    * merged, chip_names) with fresh ExprIds. */
  def freshOutput(): Seq[Attribute] = Seq(
    AttributeReference("key", StringType, nullable = false)(),
    AttributeReference("cluster_id", IntegerType, nullable = false)(),
    AttributeReference("minx", IntegerType, nullable = false)(),
    AttributeReference("miny", IntegerType, nullable = false)(),
    AttributeReference("maxx", IntegerType, nullable = false)(),
    AttributeReference("maxy", IntegerType, nullable = false)(),
    AttributeReference("n_boxes", IntegerType, nullable = false)(),
    AttributeReference("object_class", StringType, nullable = false)(),
    AttributeReference("merged", BooleanType, nullable = false)(),
    AttributeReference("chip_names", ArrayType(StringType, containsNull = false),
      nullable = false)())
}

case class MergeBoxesExec(gap: Int, child: SparkPlan,
                          outputAttrs: Seq[Attribute]) extends UnaryExecNode {

  override def output: Seq[Attribute] = outputAttrs

  // child columns are positional: key, x1, y1, x2, y2, label, chip
  private def keyAttr = child.output.head

  override def requiredChildDistribution: Seq[Distribution] =
    ClusteredDistribution(Seq(keyAttr)) :: Nil

  override def requiredChildOrdering: Seq[Seq[SortOrder]] =
    Seq(child.output.map(a => SortOrder(a, Ascending)))

  /** Rows stay clustered on the tile key, but the SparkPlan contract
    * requires the partitioning to be expressed over THIS operator's output
    * attributes — forwarding the child's (whose expressions reference child
    * attributes) would make downstream distribution checks never match and
    * AQE see an inconsistent partitioning. Remap the common case (hash on
    * the key), declare Unknown otherwise. */
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case h: HashPartitioning if h.expressions.length == 1 &&
        h.expressions.head.semanticEquals(keyAttr) =>
      HashPartitioning(Seq(output.head), h.numPartitions)
    case p => UnknownPartitioning(p.numPartitions)
  }

  override protected def doExecute(): RDD[InternalRow] = {
    val g = gap
    // `unsafe` below writes freshOutput's ten columns by position
    require(output.map(_.dataType) == MergeBoxesPlan.freshOutput().map(_.dataType),
      "MergeBoxesExec: the output is not the layout its row writer fills")
    val width = output.length
    val inNames = child.output.map(_.name).toArray
    val nonNull: InternalRow => InternalRow = { r =>
      var i = 0
      while (i < inNames.length) {
        if (r.isNullAt(i)) throw new IllegalArgumentException(
          s"mergeBoxes input column `${inNames(i)}` holds a null; every box needs all seven columns")
        i += 1
      }
      r
    }
    child.execute().mapPartitions { iter =>
      // downstream operators require UnsafeRow: each cluster is written
      // into one reused row by hand, which generates no projection class
      val row = new UnsafeRowWriter(width, 64)
      val chips = new UnsafeArrayWriter(row, 8)
      def unsafe(c: BoxMerge.Cluster): InternalRow = {
        row.reset()
        row.zeroOutNullBytes()
        row.write(0, UTF8String.fromString(c.key))
        row.write(1, c.cluster_id)
        row.write(2, c.minx)
        row.write(3, c.miny)
        row.write(4, c.maxx)
        row.write(5, c.maxy)
        row.write(6, c.n_boxes)
        row.write(7, UTF8String.fromString(c.object_class))
        row.write(8, c.merged)
        val start = row.cursor()
        chips.initialize(c.chip_names.length)
        c.chip_names.iterator.zipWithIndex.foreach { case (n, i) => chips.write(i, UTF8String.fromString(n)) }
        row.setOffsetAndSizeFromPreviousCursor(9, start)
        row.getRow
      }
      new Iterator[InternalRow] {
        private val in = iter.map(nonNull).buffered
        private var out: Iterator[InternalRow] = Iterator.empty

        private def readGroup(): Unit = {
          if (!in.hasNext) { out = Iterator.empty; return }
          val key = in.head.getUTF8String(0).clone()
          val boxes = scala.collection.mutable.ArrayBuffer.empty[BoxMerge.Box]
          while (in.hasNext && in.head.getUTF8String(0) == key) {
            val r = in.next()
            boxes += BoxMerge.Box(key.toString,
              r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
              r.getUTF8String(5).toString, r.getUTF8String(6).toString)
          }
          // rows arrive sorted on (key, x1, y1, x2, y2, label, chip) —
          // already the canonical order, so positional ids are canonical
          // positions (what the oracles' row_number assigns)
          out = BoxMerge.clusterGroup(boxes.toSeq, g).iterator.map(unsafe)
        }

        override def hasNext: Boolean = {
          while (!out.hasNext && in.hasNext) readGroup()
          out.hasNext
        }

        override def next(): InternalRow = { if (!hasNext) throw new NoSuchElementException; out.next() }
      }
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): MergeBoxesExec =
    copy(child = newChild)
}

/** Planner strategy mapping the logical node to the Exec. */
object MergeBoxesStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case MergeBoxesPlan(gap, child, out) => MergeBoxesExec(gap, planLater(child), out) :: Nil
    case _ => Nil
  }
}

/** Optimizer rule: a filter on the *tile key* commutes with the merge
  * (clusters never span keys), so push it below the operator where
  * Catalyst can keep pushing it all the way into the Parquet scan.
  * Filters on cluster-derived columns (envelope, class, merged) stay put. */
object PushFilterThroughMergeBoxes
    extends org.apache.spark.sql.catalyst.rules.Rule[LogicalPlan]
    with org.apache.spark.sql.catalyst.expressions.PredicateHelper {
  import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, AttributeSet}
  import org.apache.spark.sql.catalyst.plans.logical.Filter

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transform {
    case f @ Filter(cond, m @ MergeBoxesPlan(gap, child, out)) =>
      val outKey = m.output.head
      val childKey = child.output.head
      val (pushable, kept) =
        splitConjunctivePredicates(cond)
          .partition(p => p.references.subsetOf(AttributeSet(Seq(outKey))))
      if (pushable.isEmpty) f
      else {
        val pushed = pushable
          .map(_.transform { case a: AttributeReference if a.exprId == outKey.exprId => childKey })
          .reduce(And)
        val below = MergeBoxesPlan(gap, Filter(pushed, child), out)
        if (kept.isEmpty) below else Filter(kept.reduce(And), below)
      }
  }
}

object MergeBoxesApi {
  /** Install the strategy + pushdown rule on the session (idempotent). */
  def install(spark: SparkSession): Unit = {
    val exp = spark.experimental
    if (!exp.extraStrategies.contains(MergeBoxesStrategy)) {
      exp.extraStrategies = MergeBoxesStrategy +: exp.extraStrategies
    }
    if (!exp.extraOptimizations.contains(PushFilterThroughMergeBoxes)) {
      exp.extraOptimizations = PushFilterThroughMergeBoxes +: exp.extraOptimizations
    }
  }

  /** Native merge over a (key, x1, y1, x2, y2, label, chip) DataFrame. */
  def mergeBoxes(df: DataFrame, gap: Int = 5): DataFrame = {
    val spark = df.sparkSession
    install(spark)
    val projected = df.select("key", "x1", "y1", "x2", "y2", "label", "chip")
    org.apache.spark.sql.GraftSqlShim.ofRows(
      spark, MergeBoxesPlan(gap, projected.queryExecution.analyzed,
        MergeBoxesPlan.freshOutput()))
  }
}
