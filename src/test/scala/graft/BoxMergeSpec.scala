package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.operators.BoxMerge
import graft.operators.BoxMerge.{Box, Cluster}
import graft.plans.MergeBoxesApi

/** Properties the reference's greedy order-dependent merge lacks
  * (SURVEY.md §2.11.2, §5.3): permutation invariance, idempotence,
  * envelope monotonicity. Seeded random cases keep runs deterministic. */
class BoxMergeSpec extends AnyFunSuite {

  private def randomBoxes(rng: scala.util.Random, n: Int): Seq[Box] =
    (0 until n).map { _ =>
      val x1 = rng.nextInt(200); val y1 = rng.nextInt(200)
      val lbl = if (rng.nextBoolean()) "closed_roof_tank" else "water_tower"
      Box("t", x1, y1, x1 + 1 + rng.nextInt(60), y1 + 1 + rng.nextInt(60), lbl,
        s"c${rng.nextInt(3)}")
    }

  private def canon(cs: Seq[Cluster]) =
    cs.map(c => (c.minx, c.miny, c.maxx, c.maxy, c.n_boxes, c.object_class, c.merged,
      c.chip_names.mkString("|"))).sorted

  // ---------------------------------------------------------------- ScalaCheck generators
  // Generator-driven sweeps (SURVEY §5.3): unlike the seeded fixtures
  // below, these shrink to a minimal counterexample and deliberately
  // include DEGENERATE boxes — zero-width, zero-height, and point boxes —
  // that hand-picked fixtures miss.
  private val genBox: org.scalacheck.Gen[Box] = for {
    x1 <- org.scalacheck.Gen.choose(0, 220)
    y1 <- org.scalacheck.Gen.choose(0, 220)
    w <- org.scalacheck.Gen.frequency(1 -> org.scalacheck.Gen.const(0),
      9 -> org.scalacheck.Gen.choose(1, 60))
    h <- org.scalacheck.Gen.frequency(1 -> org.scalacheck.Gen.const(0),
      9 -> org.scalacheck.Gen.choose(1, 60))
    lbl <- org.scalacheck.Gen.oneOf("closed_roof_tank", "water_tower")
    chip <- org.scalacheck.Gen.oneOf("c0", "c1", "c2")
  } yield Box("t", x1, y1, x1 + w, y1 + h, lbl, chip)

  private val genBoxes: org.scalacheck.Gen[List[Box]] =
    org.scalacheck.Gen.choose(0, 18).flatMap(n =>
      org.scalacheck.Gen.listOfN(n, genBox))

  test("forAll: permutation invariance over generated (incl. degenerate) boxes") {
    PropCheck(org.scalacheck.Prop.forAll(genBoxes, org.scalacheck.Gen.choose(0L, Long.MaxValue)) {
      (boxes, shuffleSeed) =>
        val shuffled = new scala.util.Random(shuffleSeed).shuffle(boxes)
        canon(BoxMerge.clusterGroup(boxes, 5)) ==
          canon(BoxMerge.clusterGroup(shuffled, 5))
    })
  }

  test("forAll: idempotence — re-merging envelopes never splits, membership conserved") {
    PropCheck(org.scalacheck.Prop.forAll(genBoxes) { boxes =>
      val once = BoxMerge.clusterGroup(boxes, 5)
      val again = BoxMerge.clusterGroup(once.map(c =>
        Box("t", c.minx, c.miny, c.maxx, c.maxy, c.object_class, c.chip_names.mkString("|"))), 5)
      again.size <= once.size &&
        once.forall(c => again.exists(a =>
          a.minx <= c.minx && a.miny <= c.miny && a.maxx >= c.maxx && a.maxy >= c.maxy)) &&
        once.map(_.n_boxes).sum == boxes.size
    })
  }

  test("permutation invariance: clustering ignores input order") {
    val rng = new scala.util.Random(42)
    (1 to 200).foreach { _ =>
      val boxes = randomBoxes(rng, 12)
      val shuffled = rng.shuffle(boxes.toList)
      assert(canon(BoxMerge.clusterGroup(boxes, 5)) ==
        canon(BoxMerge.clusterGroup(shuffled, 5)))
    }
  }

  test("idempotence: re-merging merged envelopes only shrinks, never splits") {
    val rng = new scala.util.Random(7)
    (1 to 200).foreach { _ =>
      val boxes = randomBoxes(rng, 12)
      val once = BoxMerge.clusterGroup(boxes, 5)
      val again = BoxMerge.clusterGroup(once.map { c =>
        Box("t", c.minx, c.miny, c.maxx, c.maxy, c.object_class, c.chip_names.mkString("|"))
      }, 5)
      assert(again.size <= once.size)
      once.foreach { c =>
        assert(again.exists(a =>
          a.minx <= c.minx && a.miny <= c.miny && a.maxx >= c.maxx && a.maxy >= c.maxy))
      }
    }
  }

  test("members are conserved and cluster_id points at a member box") {
    val rng = new scala.util.Random(99)
    (1 to 200).foreach { _ =>
      val boxes = randomBoxes(rng, 15)
      val clusters = BoxMerge.clusterGroup(boxes, 5)
      assert(clusters.map(_.n_boxes).sum == boxes.size)
      clusters.foreach { c =>
        // cluster_id is the 1-based position of the first member in the
        // input order, and that box must sit inside the envelope
        val rep = boxes(c.cluster_id - 1)
        assert(rep.x1 >= c.minx && rep.y1 >= c.miny && rep.x2 <= c.maxx && rep.y2 <= c.maxy)
      }
    }
  }

  test("transitive chain A-B-C merges into one cluster") {
    // A overlaps B, B overlaps C, A and C are far apart -> single cluster;
    // the reference's single greedy pass can miss this depending on order
    val chain = Seq(
      Box("t", 0, 0, 30, 30, "water_tower", "c0"),
      Box("t", 10, 0, 60, 30, "water_tower", "c1"),
      Box("t", 40, 0, 90, 30, "water_tower", "c0"))
    val cs = BoxMerge.clusterGroup(chain, 5)
    assert(cs.size == 1 && cs.head.n_boxes == 3 && cs.head.merged)
    assert((cs.head.minx, cs.head.miny, cs.head.maxx, cs.head.maxy) == (0, 0, 90, 30))
    assert(cs.head.cluster_id == 1)
  }

  test("class conflict demotes to undefined_object; agreement keeps class") {
    val conflict = Seq(
      Box("t", 0, 0, 30, 30, "water_tower", "c0"),
      Box("t", 5, 5, 25, 25, "closed_roof_tank", "c1"))
    assert(BoxMerge.clusterGroup(conflict, 5).head.object_class == "undefined_object")
    val agree = conflict.map(_.copy(label = "water_tower"))
    assert(BoxMerge.clusterGroup(agree, 5).head.object_class == "water_tower")
  }

  test("clusters equal an independent BFS transitive-closure computation") {
    val rng = new scala.util.Random(2024)
    (1 to 100).foreach { _ =>
      val boxes = randomBoxes(rng, 14)
      // independent algorithm: BFS over the explicit adjacency relation
      val n = boxes.size
      val adj = Array.tabulate(n, n)((i, j) =>
        i != j && BoxMerge.similar(boxes(i), boxes(j), 5))
      val comp = Array.fill(n)(-1)
      var c = 0
      (0 until n).foreach { s =>
        if (comp(s) < 0) {
          var frontier = List(s)
          while (frontier.nonEmpty) {
            val v = frontier.head; frontier = frontier.tail
            if (comp(v) < 0) {
              comp(v) = c
              (0 until n).foreach(u => if (adj(v)(u) && comp(u) < 0) frontier ::= u)
            }
          }
          c += 1
        }
      }
      val bfsClusters = (0 until n).groupBy(comp).values.map { members =>
        val bs = members.map(boxes)
        val labels = bs.map(_.label).distinct
        (bs.map(_.x1).min, bs.map(_.y1).min, bs.map(_.x2).max, bs.map(_.y2).max,
          bs.size, if (labels.size > 1) "undefined_object" else labels.head, bs.size > 1,
          bs.map(_.chip).distinct.sorted.mkString("|"))
      }.toSeq.sorted
      assert(canon(BoxMerge.clusterGroup(boxes, 5)) == bfsClusters)
    }
  }

  test("dense groups (bucketed path) equal the BFS closure too") {
    // randomBoxes uses <=15 boxes, which exercises only the <=32 direct
    // loop — this pins the grid-bucketed branch against the same
    // independent BFS implementation at realistic tile density
    val rng = new scala.util.Random(77)
    (1 to 20).foreach { _ =>
      val boxes = randomBoxes(rng, 120)
      val n = boxes.size
      val adj = Array.tabulate(n, n)((i, j) =>
        i != j && BoxMerge.similar(boxes(i), boxes(j), 5))
      val comp = Array.fill(n)(-1)
      var c = 0
      (0 until n).foreach { s =>
        if (comp(s) < 0) {
          var frontier = List(s)
          while (frontier.nonEmpty) {
            val v = frontier.head; frontier = frontier.tail
            if (comp(v) < 0) {
              comp(v) = c
              (0 until n).foreach(u => if (adj(v)(u) && comp(u) < 0) frontier ::= u)
            }
          }
          c += 1
        }
      }
      val bfs = (0 until n).groupBy(comp).values.map { members =>
        val bs = members.map(boxes)
        val labels = bs.map(_.label).distinct
        (bs.map(_.x1).min, bs.map(_.y1).min, bs.map(_.x2).max, bs.map(_.y2).max,
          bs.size, if (labels.size > 1) "undefined_object" else labels.head, bs.size > 1,
          bs.map(_.chip).distinct.sorted.mkString("|"))
      }.toSeq.sorted
      assert(canon(BoxMerge.clusterGroup(boxes, 5)) == bfs)
    }
  }

  test("inverted boxes are rejected loudly, not silently mis-clustered") {
    val bad = Seq(
      Box("t", 0, 0, 30, 30, "water_tower", "c0"),
      Box("t", 200, 0, 50, 10, "water_tower", "c1"))   // x1 > x2
    intercept[IllegalArgumentException] { BoxMerge.clusterGroup(bad, 5) }
  }

  test("gap semantics: 5px gap with covering interval merges, 6px does not") {
    def pair(gapPx: Int) = Seq(
      Box("t", 0, 0, 30, 40, "water_tower", "c0"),
      Box("t", 30 + gapPx, 5, 60 + gapPx, 35, "water_tower", "c1"))
    assert(BoxMerge.clusterGroup(pair(5), 5).size == 1)
    assert(BoxMerge.clusterGroup(pair(6), 5).size == 2)
  }

  test("distributed merge produces one shuffle and matches local clustering") {
    val spark = SparkSpec.session
    import spark.implicits._
    val rng = new scala.util.Random(1)
    val boxes = (0 until 50).flatMap { t =>
      randomBoxes(rng, 10).map(_.copy(key = s"t$t"))
    }
    val merged = MergeBoxesApi.mergeBoxes(boxes.toDF())
    val dist = merged.as[Cluster].collect().toSeq
    val local = boxes.groupBy(_.key).toSeq.flatMap { case (_, bs) =>
      BoxMerge.clusterGroup(bs.sortBy(b => (b.x1, b.y1, b.x2, b.y2, b.label, b.chip)), 5)
    }
    assert(canon(dist) == canon(local))
    // plan shape: exactly one exchange feeds the merge
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.split("Exchange").length - 1 == 1, plan)
  }
}
