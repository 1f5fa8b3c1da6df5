package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Skew-proof merge clustering: connected components by Hash-Min label
  * propagation over grid-cell candidate edges — the 100 TB path when a
  * single tile's box count breaks the per-group union-find bound
  * (SCALE.md "pathological tile" note, now implemented).
  *
  * Pipeline (all relational, no per-group materialization):
  *  1. boxes get canonical per-key positions (the same ids the bounded
  *     operator and the recursive-CTE oracle use);
  *  2. each box, expanded by the merge gap, is replicated to the 64-px
  *     grid cells it touches — any pair satisfying the calc_sim predicate
  *     has intersecting expanded bboxes, hence shares a cell;
  *  3. candidate pairs come from an equi-join on (key, cell), exact
  *     predicate applied, duplicates from multi-cell overlap dropped;
  *  4. Hash-Min iterates label(v) = min(label(v), min label(neighbors))
  *     until a fixpoint — O(component diameter) joins, each a shuffle on
  *     (key, id), localCheckpointed to keep lineage flat;
  *  5. clusters aggregate per (key, final label) with the same
  *     envelope/conflict semantics as [[BoxMerge]].
  */
object DistributedCC {

  val CellPx = 64

  /** (key, x1, y1, x2, y2, label, chip) -> clusters identical to
    * [[BoxMerge.mergeFrame]] (hash-equal output schema and values). */
  def mergeUnbounded(df: DataFrame, gap: Int = 5, maxIter: Int = 50): DataFrame = {
    val idw = Window.partitionBy("key").orderBy("x1", "y1", "x2", "y2", "label", "chip")
    val boxes = df.select("key", "x1", "y1", "x2", "y2", "label", "chip")
      .withColumn("id", row_number().over(idw).cast("int"))
      .localCheckpoint()

    // 2. replicate to overlapped cells (gap-expanded; upper bound INCLUDES
    //    x2+gap itself — with "-1" a gap=0 pair touching exactly on a cell
    //    boundary would never share a cell and the edge would be lost)
    val cells = boxes
      .withColumn("cx", explode(sequence(
        floor((col("x1") - gap) / CellPx).cast("int"),
        floor((col("x2") + gap) / CellPx).cast("int"))))
      .withColumn("cy", explode(sequence(
        floor((col("y1") - gap) / CellPx).cast("int"),
        floor((col("y2") + gap) / CellPx).cast("int"))))

    // 3. candidate pairs -> exact predicate -> undirected edge list
    val a = cells.select(col("key"), col("cx"), col("cy"), col("id").as("id_a"),
      col("x1").as("ax1"), col("y1").as("ay1"), col("x2").as("ax2"), col("y2").as("ay2"))
    val b = cells.select(col("key"), col("cx"), col("cy"), col("id").as("id_b"),
      col("x1").as("bx1"), col("y1").as("by1"), col("x2").as("bx2"), col("y2").as("by2"))
    // Owner-cell dedup instead of distinct(): a predicate-satisfying pair
    // has intersecting gap-expanded boxes, so the cell holding the
    // intersection's top-left corner is covered by BOTH boxes' cell ranges —
    // emitting the pair only from that one cell yields each edge exactly
    // once and drops the distinct()'s full shuffle of the pair table.
    val pairs = a.join(b, Seq("key", "cx", "cy"))
      .filter(col("id_a") < col("id_b"))
      .filter(graft.functions.ColumnOps.boxesSimilar(
        col("ax1"), col("ay1"), col("ax2"), col("ay2"),
        col("bx1"), col("by1"), col("bx2"), col("by2"), gap))
      .filter(
        col("cx") === floor((greatest(col("ax1"), col("bx1")) - gap) / CellPx).cast("int") &&
        col("cy") === floor((greatest(col("ay1"), col("by1")) - gap) / CellPx).cast("int"))
      .select("key", "id_a", "id_b")

    // 4. frontier-based Hash-Min to fixpoint (see [[GraphCC]] for the scale
    //    shape; fails loudly past maxIter instead of defeating the
    //    hash-identical contract with BoxMerge on pathological inputs)
    val comps = GraphCC.connectedComponents(
      boxes.select("key", "id"), pairs, maxIter)

    // 5. cluster aggregation (identical semantics + schema to BoxMerge;
    //    chip_names = sorted distinct member chips, form_calcs.py:770-779)
    boxes.join(comps, Seq("key", "id"))
      .groupBy("key", "comp")
      .agg(
        min("x1").as("minx"), min("y1").as("miny"),
        max("x2").as("maxx"), max("y2").as("maxy"),
        count(lit(1)).cast("int").as("n_boxes"),
        when(countDistinct(col("label")) > 1, "undefined_object")
          .otherwise(min(col("label"))).as("object_class"),
        (count(lit(1)) > 1).as("merged"),
        sort_array(collect_set(col("chip"))).as("chip_names"))
      .withColumnRenamed("comp", "cluster_id")
      .select("key", "cluster_id", "minx", "miny", "maxx", "maxy",
        "n_boxes", "object_class", "merged", "chip_names")
  }
}
