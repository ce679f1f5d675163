package graft.ops

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Distributed graph analytics over plain edge DataFrames — the
  * iterative-join family next to [[Dedup.connectedComponents]].
  * Reference has no graph ops; this is part of the beyond-reference
  * large-pipeline surface (e.g. domain-graph ranking for crawl
  * prioritization / source weighting in training-data curation).
  */
object Graph {

  /** PageRank with fixed iteration count and damping, over a directed
    * edge list `(src, dst)`. Every node must have out-degree >= 1
    * (symmetrize the edge list first for undirected graphs — that also
    * eliminates dangling-mass bookkeeping); nodes are whatever appears
    * as a source.
    *
    * Scale shape: each iteration is ONE src-keyed hash join of the
    * degree-annotated edge list against the current rank vector plus
    * ONE dst-keyed aggregation — the standard message-passing
    * formulation. Degrees are attached by a single window count (one
    * src-keyed shuffle of the edge list, vs the groupBy+join shape
    * that evaluates the upstream edge pipeline twice); the annotated
    * edge list AND the |V|-row node table are both cached, so the
    * per-iteration plan touches only cached blocks — the upstream
    * edge-build pipeline (often an expensive join+distinct) is
    * materialized exactly once. Every 8 iterations the rank vector is
    * localCheckpoint'ed to truncate lineage, like
    * [[Dedup.connectedComponents]]. Float note: contribution sums are
    * combine-order dependent; compare ROUNDED ranks (the oracle
    * replays the same arithmetic and rounds identically).
    */
  def pageRank(edges: DataFrame, iters: Int,
               damping: Double = 0.85): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val ed = edges
      .withColumn("deg", count(lit(1)).over(Window.partitionBy("src")))
      .cache()
    val nodes = ed.select(col("src").as("node")).distinct().cache()
    val n = nodes.count()
    val jump = (1.0 - damping) / n
    var ranks = nodes.select(col("node"), lit(1.0 / n).as("pr"))
    var it = 0
    while (it < iters) {
      val contrib = ed
        .join(ranks, ed("src") === ranks("node"))
        .groupBy("dst").agg(sum(col("pr") / col("deg")).as("m"))
        .withColumnRenamed("dst", "node")
      ranks = nodes
        .join(contrib, Seq("node"), "left")
        .select(col("node"),
          (lit(jump) + lit(damping) * coalesce(col("m"), lit(0.0)))
            .as("pr"))
      if (it % 8 == 7 && it != iters - 1)
        ranks = ranks.localCheckpoint()
      it += 1
    }
    // ed/nodes stay cached for the session (LRU-evictable) — the
    // returned plan references them, so eager unpersist would force a
    // full edge-pipeline recompute on materialization.
    ranks
  }

  /** Per-node triangle counts over an UNDIRECTED graph given as a
    * canonical edge list `(a, b)` with `a < b`, one row per edge, no
    * self-loops. Returns `(node, n_tri)` for every node in >= 1
    * triangle.
    *
    * Scale shape: the classic degree-ordered orientation (each edge
    * directed from its lower-(degree, id) endpoint to the higher one)
    * caps every node's OUT-degree at O(sqrt(m)) regardless of its real
    * degree, composed with the ADJACENCY-INTERSECTION edge iterator:
    * the orientation is a total order, so every triangle {p<q<r} has
    * exactly one source p (edges p→q, p→r) and is discovered exactly
    * ONCE, at edge (p, q), as r ∈ N+(p) ∩ N+(q). The quadratic work
    * therefore happens INSIDE one codegen'd array_intersect per edge
    * (out-neighbor arrays are O(sqrt m) by the cap) — no wedge rows
    * ever exist, which is what retires the previous formulation's
    * O(Σ out-deg²)-ROW wedge self-join + closing semi-join shuffle
    * (~1.2e8 shuffled rows and spill-driven variance on the sf0.1
    * near-complete co-supply graph; this shape shuffles edges + the
    * node-count-sized adjacency table only). Per-node credits (p and
    * q get |I|, each sink r gets 1) ride ONE explode straight into a
    * partially-aggregated count, so at most #nodes rows per task
    * cross the final shuffle.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    // EAGER localCheckpoint (the q53/q55 pattern), not lazy cache: the
    // adjacency build and the two probe-side scans otherwise launch
    // concurrent stages against a cold cache (duplicate partition
    // computes + lock contention), and AQE plans the adj joins blind —
    // measured 56s -> ~13s on the sf0.1 near-complete co-supply graph
    graft.functions.SortedIntersect.register(edges.sparkSession)
    val e = orient(edges)
      .select(col("lo").cast("long").as("lo"),
        col("hi").cast("long").as("hi"))
      .localCheckpoint()
    val adj = e.groupBy(col("lo").as("p"))
      .agg(sort_array(collect_list(col("hi"))).as("nbrs"))
    // inner joins: an edge whose endpoint has no out-neighbors has an
    // empty intersection and can contribute nothing. The intersection
    // is the native sorted-merge kernel (SortedIntersect): the inputs
    // are sorted, duplicate-free neighbor lists, and array_intersect's
    // per-row hash set was the remaining hot spot.
    // The two join exchanges are USER-SPECIFIED hash repartitions on
    // the join keys (same count as spark.sql.shuffle.partitions, so
    // the join adds no extra exchange): AQE's byte-based coalescing
    // would otherwise fold the reduce side to ONE partition — the
    // edge list is ~8 MB of longs, far under any advisory size — and
    // the intersect stage's cost is CPU per edge (O(sqrt m) merge per
    // row, the whole quadratic budget), not bytes; measured 18.9 s
    // single-task vs ~1 s across cores on the sf0.1 co-supply graph.
    // User-specified partitioning is exactly the AQE escape hatch for
    // compute-bound reduce stages (optimization guide §2.5: partition
    // by the work, not the bytes).
    val parts = e.sparkSession.sessionState.conf.numShufflePartitions
    val inter = e
      .repartition(parts, col("lo"))
      .join(adj, col("lo") === col("p")).drop("p")
      .withColumnRenamed("nbrs", "np")
      .repartition(parts, col("hi"))
      .join(adj, col("hi") === col("p")).drop("p")
      .withColumnRenamed("nbrs", "nq")
      .select(col("lo"), col("hi"),
        graft.functions.SortedIntersect
          .intersectFast(col("np"), col("nq")).as("sinks"))
      .withColumn("k", size(col("sinks")).cast("long"))
      .filter(col("k") > 0)
    // credit all three corners with ZERO higher-order functions (a
    // transform-built struct array here would drop the 1e8-element
    // stream out of whole-stage codegen — measured 80s vs seconds):
    // explode sinks keeping (lo, hi), then explode the 3-corner array;
    // both are Generate nodes, fully codegen'd into the partial agg
    inter.select(explode(col("sinks")).as("s"), col("lo"), col("hi"))
      .select(explode(array(col("s"), col("lo"), col("hi"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
  }

  /** Degree-ordered orientation: each undirected edge directed from
    * its lower-(deg, id) endpoint (`lo`) to the higher (`hi`) — the
    * out-degree-capping transform behind [[triangleCounts]]. Ties on
    * degree break by id; a node never pairs with itself, so the order
    * is total.
    */
  private def orient(edges: DataFrame): DataFrame = {
    val deg = edges.select(col("a").as("node"))
      .unionAll(edges.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    edges
      .join(deg.withColumnsRenamed(Map("node" -> "a", "deg" -> "da")), "a")
      .join(deg.withColumnsRenamed(Map("node" -> "b", "deg" -> "db")), "b")
      .select(
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("a"))
          .otherwise(col("b")).as("lo"),
        when(col("da") < col("db") ||
          (col("da") === col("db") && col("a") < col("b")), col("b"))
          .otherwise(col("a")).as("hi"))
  }

  /** Wedge-count preflight for [[triangleCounts]]: the EXACT number of
    * wedge rows its self-join would generate — Σ_x C(outdeg(x), 2)
    * over the degree-ordered orientation — from two skinny
    * aggregations, no wedge materialized. Σ wedges is the whole cost
    * model of the exact algorithm (candidate volume before the closing
    * semi-join), so it is the decision input for
    * [[triangleCountsGuarded]].
    */
  def wedgeCount(edges: DataFrame): Long =
    orient(edges)
      .groupBy("lo").agg(count(lit(1)).as("d"))
      .agg(sum(col("d") * (col("d") - 1) / 2).cast("long"))
      .head().getLong(0)

  /** DOULION triangle estimate (Tsourakakis, Kang, Miller, Faloutsos,
    * KDD 2009): keep each edge independently with probability `p` via
    * a content-keyed md5 draw on the (a, b) pair (deterministic,
    * partitioning/retry-invariant, oracle-replayable — the d14/m15
    * hash idiom), count triangles EXACTLY on the sparsified graph,
    * scale per-node counts by 1/p³ (a triangle survives iff its three
    * edges all survive → the estimator is unbiased). Wedge volume
    * shrinks by ~p², so p = sqrt(budget/wedges) pins the exact
    * counter's work to any target. Output (node, est_tri); nodes whose
    * sampled triangles all vanished are absent, like zero-triangle
    * nodes in [[triangleCounts]].
    */
  def triangleCountEstimate(edges: DataFrame, p: Double,
                            salt: String = "doulion"): DataFrame = {
    require(p > 0.0 && p <= 1.0, s"p=$p out of (0, 1]")
    val kept = edges.filter(
      TextAnalysis.hashUniform(concat(col("a").cast("string"), lit("_"),
        col("b").cast("string")), salt) < p)
    triangleCounts(kept)
      .select(col("node"),
        round(col("n_tri") / lit(p * p * p), 4).as("est_tri"))
  }

  /** Density-guarded triangle counting — the 100 TB entry point: a
    * wedge-count preflight picks exact [[triangleCounts]] when the
    * wedge volume fits `wedgeBudget`, else the [[triangleCountEstimate]]
    * DOULION fallback with p sized so the SAMPLED wedge volume lands
    * ~at budget (wedges scale by p²). A near-complete graph — sf0.1's
    * co-supply graph is ~10⁸ wedges, 100× would be ~10¹² — is hostile
    * to ANY exact counter; the estimator keeps the same oracle-gated
    * exact machinery underneath, applied to a graph it can afford.
    * The decision is logged. Output (node, est_tri, exact).
    */
  def triangleCountsGuarded(edges: DataFrame,
                            wedgeBudget: Long = 2_000_000_000L,
                            salt: String = "doulion"): DataFrame = {
    val wedges = wedgeCount(edges)
    val log = org.slf4j.LoggerFactory.getLogger("graft.ops.Graph")
    if (wedges <= wedgeBudget) {
      log.info(s"triangle preflight: $wedges wedges <= budget " +
        s"$wedgeBudget -> exact count")
      triangleCounts(edges)
        .select(col("node"), col("n_tri").cast("double").as("est_tri"),
          lit(true).as("exact"))
    } else {
      val p = math.sqrt(wedgeBudget.toDouble / wedges)
      log.warn(s"triangle preflight: $wedges wedges > budget " +
        s"$wedgeBudget -> DOULION estimate at p=$p")
      triangleCountEstimate(edges, p, salt)
        .withColumn("exact", lit(false))
    }
  }

  /** Synchronous label propagation (Raghavan et al. 2007 community
    * detection, made deterministic): labels start as node ids; each
    * round every node adopts the most frequent label among its
    * neighbors, ties broken by the SMALLEST label. Fixed `iters`
    * rounds over a symmetrized edge list `(src, dst)` (every node
    * appears as a source). Deterministic by construction — no random
    * visit order — so the result is partitioning/retry-invariant and
    * a SQL oracle can replay it round for round.
    *
    * Scale shape: each round is ONE src-keyed join of the cached edge
    * list against the label vector, ONE (dst, label) count aggregation
    * (map-side combinable), and ONE per-dst argmax expressed as
    * `min(struct(-count, label))` — a single aggregation, not a
    * window sort. Labels are localCheckpoint'ed each round (they feed
    * the next), keeping lineage O(1) like [[pageRank]] /
    * [[bfsHops]].
    */
  def labelPropagation(edges: DataFrame, iters: Int): DataFrame = {
    val ed = edges.select(col("src"), col("dst")).cache()
    var labels = ed.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("label"))
      .localCheckpoint()
    var it = 0
    while (it < iters) {
      labels = ed
        .join(labels, ed("src") === labels("node"))
        .groupBy(col("dst"), col("label")).agg(count(lit(1)).as("c"))
        .groupBy(col("dst"))
        .agg(min(struct((-col("c")).as("nc"), col("label").as("l")))
          .as("m"))
        .select(col("dst").as("node"), col("m.l").as("label"))
        .localCheckpoint()
      it += 1
    }
    labels
  }

  /** Multi-source BFS: minimum hop distance from any seed node, over a
    * directed edge list `(src, dst)`, bounded by `maxHops`. Returns
    * `(node, hop)` for every REACHED node (unreached nodes are absent,
    * not null — the caller chooses the fill policy). `seeds` must be a
    * single-column `node` DataFrame.
    *
    * Scale shape: classic frontier expansion — each round is ONE
    * src-keyed join of the cached edge list against the current
    * frontier (|frontier| <= |V| rows) plus ONE anti-join against the
    * visited set, so per-round cost is proportional to the edges
    * touched by the frontier, never |V|x|E|. Both the frontier and the
    * visited set are localCheckpoint'ed every round: visited feeds
    * every later round, so without truncation the lineage (and the
    * re-execution cost of the final plan) would grow linearly with
    * hop count. Early-exits when the frontier empties.
    */
  def bfsHops(edges: DataFrame, seeds: DataFrame,
              maxHops: Int): DataFrame = {
    val ed = edges.select(col("src"), col("dst")).cache()
    var visited = seeds.select(col("node"), lit(0L).as("hop"))
      .distinct().localCheckpoint()
    var frontier = visited.select("node")
    var hop = 0L
    while (hop < maxHops && !frontier.isEmpty) {
      hop += 1
      frontier = ed
        .join(frontier, ed("src") === frontier("node"))
        .select(ed("dst").as("node")).distinct()
        .join(visited, Seq("node"), "left_anti")
        .localCheckpoint()
      visited = visited
        .unionByName(frontier.withColumn("hop", lit(hop)))
        .localCheckpoint()
    }
    visited
  }

  /** Pair lists of at most this many distinct non-self-loop edges are
    * closed on the driver by [[connectedComponents]]; 2^18 edges are
    * 4 MB of longs.
    */
  val MaxLocalEdges: Int = 1 << 18

  /** Connected components over an undirected edge list `(aCol, bCol)`
    * of long node ids — labels every node with its component's minimum
    * id, as `(id, comp)`. Rows with a null endpoint and self-loops are
    * dropped, so a node appears only if it has an edge to another node.
    * THE shared implementation for both the graph family (q84) and the
    * dedup cluster closure ([[Dedup.connectedComponents]] delegates
    * here), so one audited kernel serves both.
    *
    * One bounded collect of the distinct edges decides the side, the
    * [[graft.stats.CellDesign]] rule: up to [[MaxLocalEdges]] edges are
    * closed by union-find on the driver, and the labels come back as a
    * local DataFrame sorted by `id` (one scan of the pair plan, two
    * Spark jobs on small inputs, however long the chains). Above the
    * bound the distributed kernel below runs on the same distinct
    * edges, local-checkpointed by that collect, so the pair plan is
    * evaluated once on either side. Both sides return the same schema
    * and the same labels.
    *
    * Distributed kernel: alternating large-star/small-star contraction
    * (the MapReduce-CC scheme from the public literature — Kiveris et
    * al., "Connected Components in MapReduce and Beyond", SoCC'14):
    *   large-star: per node u over its full neighborhood Γ(u), attach
    *     every neighbor v > u to m = min(Γ(u) ∪ {u});
    *   small-star: per node u over its SMALLER neighbors, attach them
    *     (and u) to their minimum.
    * Each phase is one shuffle; the pair converges to a star forest
    * (every node pointing at its component minimum) in O(log n)
    * rounds — unlike min-label propagation's O(diameter), long chains
    * can't starve the iteration cap (DedupSpec proves a 200-node path
    * converges in ≤ a dozen rounds).
    *
    * Hygiene at scale: the distinct edges are `localCheckpoint`ed,
    * and every round is too (eagerly), which TRUNCATES the logical plan
    * — with plain `.cache()` each round's plan embeds two copies of the
    * previous round's (caching doesn't cut lineage), so planning cost
    * doubles per round and a 15-round run spends forever in Catalyst
    * before touching data. Checkpoint blocks are freed by the
    * ContextCleaner when unreferenced, so nothing leaks into the
    * session's cache registry and callers get a lineage-free result.
    * Convergence is a cheap (count, hash-sum) fingerprint per round;
    * hitting `maxIter` (at least 1) without a fixpoint warns loudly on
    * stderr instead of silently returning partial clusters.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    connectedComponents(pairs, aCol, bCol, maxIter, MaxLocalEdges)

  /** [[connectedComponents]] closing at most `maxLocal` edges on the
    * driver; tests pass 0 to run the distributed kernel on small data.
    */
  private[graft] def connectedComponents(pairs: DataFrame, aCol: String,
                                         bCol: String, maxIter: Int,
                                         maxLocal: Int): DataFrame = {
    require(maxIter >= 1, s"maxIter must be at least 1, got $maxIter")
    // a lazy local checkpoint: the bounded collect fills it, and the
    // distributed side reads it instead of re-running the pair plan
    val edges = pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()
      .localCheckpoint(false)
    val local = edges.limit(maxLocal + 1).collect()
    if (local.length <= maxLocal) unionFind(pairs.sparkSession, local)
    else starForest(edges, maxIter)
  }

  private val LabelSchema = StructType(Seq(
    StructField("id", LongType), StructField("comp", LongType)))

  /** Min-id labels of the components of the `(a, b)` edge rows. Node
    * indices follow the sorted ids and every union keeps the smaller
    * root, so each root is its component's minimum.
    */
  private def unionFind(s: SparkSession, edges: Array[Row]): DataFrame = {
    val ids = edges.flatMap(r => Array(r.getLong(0), r.getLong(1)))
      .sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) { parent(r) = parent(parent(r)); r = parent(r) }
      r
    }
    def root(id: Long): Int = find(java.util.Arrays.binarySearch(ids, id))
    edges.foreach { r =>
      val (ra, rb) = (root(r.getLong(0)), root(r.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    s.createDataFrame(
      ids.indices.map(i => Row(ids(i), ids(find(i)))).asJava, LabelSchema)
  }

  /** The large-star/small-star rounds over checkpointed distinct edges
    * `(a, b)`, then the star forest as `(id, comp)` labels.
    */
  private def starForest(distinctEdges: DataFrame,
                         maxIter: Int): DataFrame = {
    // one (count, order-invariant hash-sum) pass over a cached round =
    // the convergence check; a star forest is a fixpoint of both
    // phases, so equality of the edge multiset means convergence (the
    // sum is over 64-bit hashes — a false "equal" needs a colliding
    // multiset, ~2^-64, and would only stop one round early on a
    // nearly-converged forest)
    def fingerprint(e: DataFrame): (Long, Long) = {
      // hashes reduced mod a prime before summing: a raw 64-bit sum
      // overflows LongType under ANSI; residues < 1e9 keep the sum in
      // range up to ~9e9 edges
      val r = e.agg(count(lit(1)),
        sum(pmod(xxhash64(col("a"), col("b")), lit(1000000007L)))).head()
      (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
    }
    // Per-node minima are computed with groupBy+join, NOT a window over
    // partitionBy(node): a window sorts and buffers each node's ENTIRE
    // neighborhood in one task — at scale the component root's
    // neighborhood is the whole component (single-task sort of 10M+
    // rows), whereas groupBy partial-aggregates the min map-side and
    // the join streams the neighborhood through a hash probe.
    // large-star: symmetrize, attach strictly-larger neighbors to
    // m = min(Γ⁺(u)). Emitted (v, m) always has v > m, so the output
    // is canonically oriented big→small.
    def largeStar(e: DataFrame): DataFrame = {
      val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
      val mins = sym.groupBy("a").agg(min("b").as("mb"))
        .select(col("a"), least(col("a"), col("mb")).as("m"))
      sym.join(mins, Seq("a"))
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), col("m").as("b"))
        .distinct()
    }
    // small-star: orient big→small, attach each big endpoint's smaller
    // neighbors AND itself to their minimum. Both emitted edges per
    // row come from one explode — no self-union, so the input plan is
    // evaluated once.
    def smallStar(e: DataFrame): DataFrame = {
      val o = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = o.groupBy("a").agg(min("b").as("m"))
      o.join(mins, Seq("a"))
        .select(explode(array(col("a"), col("b"))).as("a"),
          col("m").as("b"))
        .filter(col("a") =!= col("b"))
        .distinct()
    }
    var edges = distinctEdges
    var fp = fingerprint(edges)
    var it = 0
    var converged = false
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nextFp = fingerprint(next)
      converged = nextFp == fp
      edges = next
      fp = nextFp
      it += 1
    }
    if (!converged)
      System.err.println(
        s"[graft.Graph] connectedComponents: no fixpoint after $maxIter " +
          "large-star/small-star rounds — returning possibly " +
          "under-merged clusters (raise maxIter)")
    // star forest -> labels: non-roots point at their root; roots (and
    // only roots) never appear on the big side, so they label
    // themselves via the union's distinct.
    edges.select(col("a").as("id"), col("b").as("comp"))
      .unionByName(edges.select(col("b").as("id"), col("b").as("comp")))
      .distinct()
  }
}
