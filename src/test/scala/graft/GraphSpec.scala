package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.ops.Graph

class GraphSpec extends SparkSpec {
  import spark.implicits._

  test("pageRank matches the hand-computed path graph") {
    // undirected path a - b - c, symmetrized: deg a=1, b=2, c=1
    // r0 = 1/3 each; contributions: b <- a + c = 2/3, a <- b/2 = 1/6,
    // c <- b/2 = 1/6; r1 = 0.05 + 0.85 * m
    val edges = Seq(("a", "b"), ("b", "a"), ("b", "c"), ("c", "b"))
      .toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 1)
      .as[(String, Double)].collect().toMap
    assert(math.abs(r("a") - (0.05 + 0.85 / 6)) < 1e-12)
    assert(math.abs(r("b") - (0.05 + 0.85 * 2 / 3)) < 1e-12)
    assert(math.abs(r("c") - (0.05 + 0.85 / 6)) < 1e-12)
  }

  test("pageRank conserves total mass and is partitioning-invariant") {
    val rnd = new scala.util.Random(13)
    val base = (0 until 400)
      .map(_ => (s"n${rnd.nextInt(60)}", s"n${rnd.nextInt(60)}"))
      .filter(e => e._1 != e._2).distinct
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    val r = Graph.pageRank(edges, iters = 4)
    // on a symmetrized graph (no dangling mass) total rank stays 1
    val total = r.agg(sum("pr")).head().getDouble(0)
    assert(math.abs(total - 1.0) < 1e-9, s"mass drifted: $total")
    // mass flows toward high-degree nodes
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val top = r.join(deg, r("node") === deg("src"))
      .orderBy(desc("pr")).select("deg").head().getLong(0)
    val maxDeg = deg.agg(max("deg")).head().getLong(0)
    assert(top >= maxDeg / 2, s"top-rank node degree $top vs max $maxDeg")
    // rounded ranks are stable across input partitioning
    def rounded(parts: Int) =
      Graph.pageRank(edges.repartition(parts), iters = 4)
        .select($"node", round($"pr", 9).as("pr"))
        .as[(String, Double)].collect().toMap
    assert(rounded(3) == rounded(11))
  }

  test("triangleCounts: hand-computed counts, no false positives, " +
      "partitioning-invariant") {
    // K4 on 1-4 (every node in C(3,2)=3 triangles) plus a pendant
    // wedge 4-5, 5-6 (no triangle) and an isolated edge 7-8
    val k4 = for (a <- 1 to 4; b <- (a + 1) to 4) yield (a.toLong, b.toLong)
    val edges = (k4 ++ Seq((4L, 5L), (5L, 6L), (7L, 8L))).toDF("a", "b")
    val r = Graph.triangleCounts(edges).as[(Long, Long)].collect().toMap
    assert(r == Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))

    // triangle-free bipartite graph -> empty result
    val bip = (for (a <- 1 to 3; b <- 10 to 12)
      yield (a.toLong, b.toLong)).toDF("a", "b")
    assert(Graph.triangleCounts(bip).isEmpty)

    // random graph: counts match a local brute force and are stable
    // across input partitioning
    val rnd = new scala.util.Random(7)
    val es = (0 until 300)
      .map(_ => (rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2)
      .map(e => (e._1 min e._2, e._1 max e._2)).distinct
    val eset = es.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).distinct.sorted
    val brute = scala.collection.mutable.Map[Long, Long]()
    for {
      i <- nodes.indices; j <- (i + 1) until nodes.size
      k <- (j + 1) until nodes.size
      (a, b, c) = (nodes(i), nodes(j), nodes(k))
      if eset((a, b)) && eset((b, c)) && eset((a, c))
      n <- Seq(a, b, c)
    } brute(n) = brute.getOrElse(n, 0L) + 1L
    def run(parts: Int) =
      Graph.triangleCounts(es.toDF("a", "b").repartition(parts))
        .as[(Long, Long)].collect().toMap
    assert(run(2) == brute.toMap)
    assert(run(9) == brute.toMap)
  }

  test("DOULION estimate lands within ±30% of exact triangle totals " +
      "on the sf0.01 co-supply graph; wedge-budget guard switches paths") {
    val li = spark.read
      .parquet("/root/testdata/sf0.01/lineitem.parquet")
      .select("l_orderkey", "l_suppkey").distinct()
    val e = li.as("x").join(li.as("y"),
        $"x.l_orderkey" === $"y.l_orderkey" &&
          $"x.l_suppkey" < $"y.l_suppkey")
      .select($"x.l_suppkey".as("a"), $"y.l_suppkey".as("b"))
      .distinct().cache()
    val exactTotal = Graph.triangleCounts(e)
      .agg(sum("n_tri")).head().getLong(0)
    assert(exactTotal > 0L)
    // deterministic md5 draws -> the realized estimate is a fixed
    // number; DOULION at p=0.5 on a graph this dense concentrates
    // well inside ±30%
    val estTotal = Graph.triangleCountEstimate(e, p = 0.5)
      .agg(sum("est_tri")).head().getDouble(0)
    val relErr = math.abs(estTotal - exactTotal) / exactTotal
    assert(relErr < 0.3, s"est $estTotal vs exact $exactTotal ($relErr)")
    // preflight: budget >= wedges -> exact path (all rows exact=true,
    // integer-valued estimates)
    val wedges = Graph.wedgeCount(e)
    assert(wedges > 0L)
    val g1 = Graph.triangleCountsGuarded(e, wedgeBudget = wedges)
    assert(g1.filter(!$"exact").isEmpty)
    assert(g1.agg(sum("est_tri")).head().getDouble(0) ==
      exactTotal.toDouble)
    // budget < wedges -> DOULION engages at p = sqrt(budget/wedges),
    // still inside a loose accuracy gate
    val g2 = Graph.triangleCountsGuarded(e, wedgeBudget = wedges / 4)
    assert(g2.filter($"exact").isEmpty)
    val est2 = g2.agg(sum("est_tri")).head().getDouble(0)
    assert(math.abs(est2 - exactTotal) / exactTotal < 0.5,
      s"guarded est $est2 vs exact $exactTotal")
  }

  test("bfsHops: hand-computed hops, multi-source min, hop bound, " +
      "unreachable nodes absent") {
    // two components: a-b-c-d chain (directed both ways) and x-y
    val base = Seq(("a", "b"), ("b", "c"), ("c", "d"), ("x", "y"))
    val edges = (base ++ base.map(_.swap)).toDF("src", "dst")
    def run(seeds: Seq[String], maxHops: Int) =
      Graph.bfsHops(edges, seeds.toDF("node"), maxHops)
        .as[(String, Long)].collect().toMap
    assert(run(Seq("a"), 3) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L,
      "d" -> 3L))
    // hop bound truncates; x/y component never appears
    assert(run(Seq("a"), 2) == Map("a" -> 0L, "b" -> 1L, "c" -> 2L))
    // multi-source: hop = min over seeds; early-exit past the diameter
    assert(run(Seq("a", "d"), 9) ==
      Map("a" -> 0L, "b" -> 1L, "c" -> 1L, "d" -> 0L))
    // seed with no out-edges is still reported at hop 0
    assert(run(Seq("y"), 1) == Map("y" -> 0L, "x" -> 1L))
  }

  test("labelPropagation finds the two cliques bridged by one edge " +
      "and is partitioning-invariant") {
    // K4 on a1-a4 + K4 on b1-b4, one bridge a1-b1; communities must
    // converge to the min label of each clique (a1 / b1), with the
    // bridge endpoints still dominated by their own clique
    def clique(ns: Seq[String]) =
      for (x <- ns; y <- ns if x != y) yield (x, y)
    val as = Seq("a1", "a2", "a3", "a4")
    val bs = Seq("b1", "b2", "b3", "b4")
    val base = clique(as) ++ clique(bs) ++ Seq(("a1", "b1"), ("b1", "a1"))
    val edges = base.toDF("src", "dst")
    val r = Graph.labelPropagation(edges, iters = 4)
      .as[(String, String)].collect().toMap
    assert(as.forall(n => r(n) == "a1"), s"a-clique labels: $r")
    assert(bs.forall(n => r(n) == "b1"), s"b-clique labels: $r")
    // deterministic under repartitioning (single-agg argmax, no
    // visit-order randomness)
    for (parts <- Seq(2, 7)) {
      val again = Graph.labelPropagation(edges.repartition(parts), 4)
        .as[(String, String)].collect().toMap
      assert(again == r, s"parts=$parts")
    }
  }

  test("labelPropagation tie-break takes the smallest label") {
    // star: center c with leaves l1, l2 — after one round the center
    // sees {l1, l2} tied and must take l1; leaves see only {c}
    val edges = Seq(("c", "l1"), ("l1", "c"), ("c", "l2"), ("l2", "c"))
      .toDF("src", "dst")
    val r = Graph.labelPropagation(edges, iters = 1)
      .as[(String, String)].collect().toMap
    assert(r("c") == "l1" && r("l1") == "c" && r("l2") == "c")
  }

  test("connectedComponents labels a multi-component graph with each " +
    "component's minimum, any partitioning") {
    // components: {1,2,3,9} (1-2, 2-3, 3-9), {4,5} (5-4), {7,8} (7-8);
    // node 6 never appears — isolated nodes are absent from pair input
    // and therefore from the labeling (the dedup-closure contract)
    val pairs =
      Seq((1L, 2L), (2L, 3L), (3L, 9L), (5L, 4L), (7L, 8L), (2L, 1L))
    val expected = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 9L -> 1L,
      4L -> 4L, 5L -> 4L, 7L -> 7L, 8L -> 7L)
    for ((side, cc) <- GraphSpec.ccSides; parts <- Seq(1, 7)) {
      val got = cc(pairs.toDF("a", "b").repartition(parts), "a", "b")
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"$side parts=$parts: $got")
    }
  }

  test("connectedComponents merges star components and agrees with " +
    "the Dedup delegation") {
    // two stars sharing a bridge: hub 10 - {11..20}, hub 30 - {31..40},
    // bridge 20-31 merges them into one component with min 10
    val pairs = ((11L to 20L).map(v => (10L, v)) ++
      (31L to 40L).map(v => (30L, v)) :+ ((20L, 31L))).toDF("a", "b")
    val viaDedup = graft.ops.Dedup.connectedComponents(pairs, "a", "b")
      .as[(Long, Long)].collect().toMap
    for ((side, cc) <- GraphSpec.ccSides) {
      val viaGraph = cc(pairs, "a", "b").as[(Long, Long)].collect().toMap
      assert(viaGraph.values.toSet == Set(10L), side)
      assert(viaGraph.keySet == ((10L to 20L) ++ (30L to 40L)).toSet, side)
      assert(viaGraph == viaDedup, side)
    }
  }

  test("connectedComponents rejects maxIter below one, naming maxIter") {
    val pairs = Seq((1L, 2L)).toDF("a", "b")
    val e = intercept[IllegalArgumentException](
      Graph.connectedComponents(pairs, "a", "b", maxIter = 0))
    assert(e.getMessage.contains("maxIter must be at least 1, got 0"),
      e.getMessage)
  }

  test("connectedComponents: both sides return the same schema and drop " +
    "rows with a null endpoint") {
    val pairs = Seq[(Option[Long], Option[Long])]((Some(1L), Some(2L)),
      (Some(2L), None), (None, Some(3L)), (None, None), (Some(4L), Some(4L)))
      .toDF("a", "b")
    val sides = GraphSpec.ccSides.map { case (side, cc) =>
      side -> cc(pairs, "a", "b") }
    val schemas = sides.map(_._2.schema).distinct
    assert(schemas.size == 1, s"${sides.map(s => s._1 -> s._2.schema)}")
    assert(schemas.head.fieldNames.toSeq == Seq("id", "comp"))
    for ((side, labels) <- sides)
      assert(labels.as[(Long, Long)].collect().toSet ==
        Set((1L, 1L), (2L, 1L)), side)
  }

  test("connectedComponents takes the distributed side above the bound") {
    // three distinct edges: a bound of 3 closes them on the driver (a
    // local result), a bound of 2 runs the distributed kernel
    val pairs = Seq((1L, 2L), (2L, 3L), (2L, 3L), (8L, 7L)).toDF("a", "b")
    val local = Graph.connectedComponents(pairs, "a", "b", 20, 3)
    val dist = Graph.connectedComponents(pairs, "a", "b", 20, 2)
    def fromDriver(df: DataFrame): Boolean =
      df.queryExecution.logical.collectLeaves().forall(_.isInstanceOf[
        org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    assert(fromDriver(local))
    assert(!fromDriver(dist))
    assert(local.collect().toSeq == dist.orderBy("id").collect().toSeq)
  }
}

object GraphSpec {
  /** Connected components on each side of the driver bound: the public
    * call (the driver side, at test sizes) and bound 0 (distributed).
    */
  val ccSides: Seq[(String, (DataFrame, String, String) => DataFrame)] =
    Seq("driver" -> ((p, a, b) => Graph.connectedComponents(p, a, b)),
      "distributed" -> ((p, a, b) => Graph.connectedComponents(p, a, b, 20, 0)))
}
