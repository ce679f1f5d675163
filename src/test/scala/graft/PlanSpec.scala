package graft

import org.apache.spark.sql.functions.{broadcast, col, when}

import graft.queries.RelQueries

/** Physical-plan quality gates: the optimizations the engine relies on
  * at scale must actually appear in the executed plans — filter
  * pushdown into the parquet scan, column pruning, broadcast joins for
  * dimension tables, and partial (map-side) aggregation.
  */
class PlanSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf001)
      .queryExecution.executedPlan.toString

  /** The returned plan of an entry plus the executed plan of every
    * query it runs on the way (eager checkpoints of intermediate
    * results included), read after a marker query proves the listener
    * bus has delivered everything before it.
    */
  private def allPlansOf(name: String): String = {
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        seen.add(qe.executedPlan.toString)
      override def onFailure(f: String,
          qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val plan = planOf(name)
      val marker = s"marker_${java.util.UUID.randomUUID().toString.take(8)}"
      spark.range(1).select(col("id").as(marker)).collect()
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!seen.toArray.exists(_.toString.contains(marker)) &&
          System.nanoTime() < deadline)
        Thread.sleep(10)
      assert(seen.toArray.exists(_.toString.contains(marker)),
        "listener bus did not drain")
      (plan +: seen.toArray.toSeq.map(_.toString)).mkString("\n")
    } finally spark.listenerManager.unregister(listener)
  }

  test("q18: timestamp filter is pushed into the parquet scan") {
    val plan = planOf("q18_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), " +
      "LessThanOrEqual(l_shipdate"), plan)
  }

  test("q18: scan reads only referenced columns (pruning)") {
    val plan = planOf("q18_pricing_summary")
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(!readSchema.contains("l_orderkey"), readSchema)
    assert(!readSchema.contains("l_partkey"), readSchema)
    assert(readSchema.contains("l_quantity"), readSchema)
  }

  test("q01: dimension joins broadcast (no shuffle join on nation/region)") {
    val plan = planOf("q01_report_join")
    assert(plan.contains("BroadcastHashJoin"), plan)
  }

  test("q02: aggregation is partial then final (map-side combine)") {
    val plan = planOf("q02_weighted_mean")
    assert(plan.contains("partial_sum") || plan.contains("PartialAggregate")
      || plan.contains("HashAggregate"), plan)
    // two HashAggregate stages around the exchange
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
  }

  test("q03: IN-list filter reaches the scan as pushed filter") {
    val plan = planOf("q03_filter_in")
    assert(plan.contains("PushedFilters: [In(n_name"), plan)
  }

  test("q77: point-in-time SCD2 join never plans an interval BNLJ — " +
    "the as-of carry-forward keeps it one keyed union + window") {
    val plan = planOf("q77_pit_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("s19: range-search probes broadcast — pruned corpus rows drop " +
    "at a broadcast hash join, never a corpus shuffle") {
    val plan = planOf("s19_range_search")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("p01: the decontamination benchmark broadcasts — corpus " +
    "shingle rows drop at a broadcast join, never shuffling on the " +
    "benchmark side") {
    val plan = planOf("p01_corpus_pipeline")
    assert(plan.contains("BroadcastHashJoin"), plan.take(2000))
  }

  test("p03/st16: the fingerprint-store probe broadcasts UNDER the " +
    "cap — map-side anti-join, batch streams, store never shuffles") {
    // plan the INGEST side directly: the entry itself reads the
    // committed table, so the probe plan lives in the fixture build
    import graft.ops.{Dedup, TextAnalysis}
    val scored = graft.Tables(spark, sf001, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val store = scored.filter(col("doc_id") % 2 === 0)
      .select("fp").distinct()
    val probe = Dedup.storeAntiJoin(
      scored.filter(col("doc_id") % 2 === 1), store, "fp")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(2000))
  }

  test("p03/st16: the fingerprint-store probe falls back to a SHUFFLE " +
    "anti-join OVER the cap — a corpus-cumulative store is never " +
    "force-broadcast (the 100 TB OOM)") {
    import graft.ops.{Dedup, TextAnalysis}
    val scored = graft.Tables(spark, sf001, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    val store = scored.filter(col("doc_id") % 2 === 0)
      .select("fp").distinct()
    // test-sized cap (1 KB) forces the over-cap regime; the planner's
    // own auto-broadcast must not resurrect the forced hint, so pin
    // its threshold down for this plan only
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val probe = Dedup.storeAntiJoin(
        scored.filter(col("doc_id") % 2 === 1), store, "fp",
        maxBroadcastBytes = 1024L)
      val plan = probe.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"), plan.take(2000))
      assert((plan.contains("SortMergeJoin") ||
        plan.contains("ShuffledHashJoin")) && plan.contains("LeftAnti"),
        plan.take(2000))
      // correctness is regime-independent: capped result == broadcast
      val capped = probe.select("doc_id").orderBy("doc_id")
        .collect().map(_.getLong(0))
      val bcast = Dedup.storeAntiJoin(
        scored.filter(col("doc_id") % 2 === 1), store, "fp")
        .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
      assert(capped.sameElements(bcast))
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("storeAntiJoin sizes and ships the KEY projection, not the " +
    "store's full width — a payload column can neither blow the " +
    "byte estimate past the cap nor ride the broadcast") {
    import graft.ops.{Dedup, TextAnalysis}
    val scored = graft.Tables(spark, sf001, "documents")
      .select(col("doc_id"),
        TextAnalysis.fingerprint(col("text")).as("fp"))
    // a store WIDER than the fp-only shape the callers pass: the old
    // fixed 64 B/row would under-estimate it; the fix projects to the
    // key before sizing AND before joining
    val wideStore = graft.Tables(spark, sf001, "documents")
      .filter(col("doc_id") % 2 === 0)
      .select(TextAnalysis.fingerprint(col("text")).as("fp"),
        col("text").as("payload"))
    val probe = Dedup.storeAntiJoin(
      scored.filter(col("doc_id") % 2 === 1), wideStore, "fp")
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      plan.contains("LeftAnti"), plan.take(2000))
    // the broadcast build side must be the key projection only
    assert(!plan.contains("payload"), plan.take(2000))
    // and the result is the same anti-join a slim store produces
    val slim = Dedup.storeAntiJoin(
      scored.filter(col("doc_id") % 2 === 1),
      wideStore.select("fp"), "fp")
      .select("doc_id").orderBy("doc_id").collect().map(_.getLong(0))
    val wide = probe.select("doc_id").orderBy("doc_id")
      .collect().map(_.getLong(0))
    assert(wide.sameElements(slim))
  }

  test("q93: AQE actually SPLITS the planted hot partition at " +
    "runtime — the executed adaptive plan carries skew=true") {
    val df = SparkEntry.queries("q93_aqe_skew_join")(spark, sf001)
    df.collect() // AQE finalizes the plan only during execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("skew=true"), plan.take(3000))
  }

  test("q81: null keys split out before the join exchange (no hot " +
    "null partition) and rejoin via union") {
    val plan = planOf("q81_null_skew_join")
    assert(plan.contains("Union"), plan)
    // Catalyst rewrites isnotnull(CASE ...) THROUGH the case into the
    // scan-side filter — the join's stream input is null-free before
    // the exchange, which is the whole point
    assert(plan.contains("ELSE isnotnull(user_id"), plan)
  }

  test("q74: manifest pruning reaches the PLAN — the snapshot scan " +
    "lists a strict subset of the table's 8 files, residual pushed") {
    val plan = planOf("q74_snapshot_prune")
    val paths = "InMemoryFileIndex\\((\\d+) paths\\)".r
      .findAllMatchIn(plan).map(_.group(1).toInt).toList
    assert(paths.nonEmpty && paths.forall(n => n >= 1 && n < 8),
      s"manifest pruning inert: $paths of 8 files\n$plan")
    assert(plan.contains("GreaterThanOrEqual(o_orderkey,1000)"), plan)
  }

  test("q27: interval join plans as an equi-join (no BNLJ/cartesian)") {
    val plan = planOf("q27_interval_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"), plan)
  }

  test("d10: LSH threshold join has no cartesian/BNLJ stage") {
    val plan = planOf("d10_embedding_neardup")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d09: prefix-filtered join has no cartesian/BNLJ stage") {
    // the join returns checkpointed pairs: the prefix join runs inside it
    val plan = allPlansOf("d09_ngram_jaccard")
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"),
      plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("d07: minhash LSH band join has no cartesian/BNLJ stage") {
    // the LSH returns checkpointed pairs: the band join runs inside it
    val plan = allPlansOf("d07_minhash_lsh")
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"),
      plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("m08: choropleth extent joins broadcast (1-row extent, no " +
    "shuffle of the estimates)") {
    val plan = planOf("m08_choropleth")
    assert(plan.contains("BroadcastNestedLoopJoin") ||
      plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("graft extensions register SQL-callable expressions") {
    graft.GraftExtensions.registerAll(spark)
    val dot = spark.sql(
      "SELECT graft_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0)
    assert(math.abs(dot - 11.0) < 1e-12)
    val sig = spark.sql(
      "SELECT simhash64(array('a', 'b')) = simhash64(array('b', 'a'))")
      .head().getBoolean(0)
    assert(sig) // bag semantics: order-invariant
    // the native aggregates resolve from SQL too
    val vs = spark.sql(
      "SELECT graft_vecsum(v) FROM VALUES (array(1.0D, 2.0D)), " +
        "(array(3.0D, 4.0D)) AS t(v)")
      .head().getSeq[Double](0)
    assert(vs == Seq(4.0, 6.0))
    val tk = spark.sql(
      "SELECT graft_topk(s, id, s, 0L, 2) FROM VALUES " +
        "(1.0D, 10L), (3.0D, 11L), (2.0D, 12L) AS t(s, id)")
      .head().getSeq[org.apache.spark.sql.Row](0)
    assert(tk.map(_.getLong(0)) == Seq(11L, 12L))
    // the SparkSessionExtensions hook installs without error
    new GraftExtensions()(new org.apache.spark.sql.SparkSessionExtensions)
  }

  test("RewriteSortedIntersect swaps the builtin for the merge kernel " +
    "on sorted null-free longs, and only there") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    val df = spark.range(0, 50).select($"id",
      // overlapping, duplicate-carrying long arrays
      array($"id", $"id" + 2, $"id" + 2, $"id" + 4).as("a"),
      array($"id" + 4, $"id", $"id" + 7).as("b"))
    val q = df.select($"id",
      array_intersect(sort_array($"a"), sort_array($"b")).as("i"))
    val want = q.as[(Long, Seq[Long])].collect().toMap
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.RewriteSortedIntersect
    try {
      val got = df.select($"id",
        array_intersect(sort_array($"a"), sort_array($"b")).as("i"))
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("sortedintersect"), plan)
      assert(!plan.contains("array_intersect"), plan)
      assert(got.as[(Long, Seq[Long])].collect().toMap == want)
      // guard: nullable elements keep the builtin
      val nullable = df.select(
        array_intersect(
          sort_array(array(when($"id" > 100, $"id"))),
          sort_array(array($"id".cast("long")))).as("i"))
      val nplan = nullable.queryExecution.executedPlan.toString
      assert(!nplan.toLowerCase.contains("sortedintersect"), nplan)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.RewriteSortedIntersect)
    }
  }

  test("RewriteHofDot plans the declarative HOF dot as the kernel, " +
    "with the length guard preserving ragged-input null semantics") {
    import org.apache.spark.sql.functions._
    import spark.implicits._
    import org.apache.spark.sql.Column
    val df = spark.range(0, 20).select($"id",
      transform(sequence(lit(1), lit(4)),
        i => i.cast("double") + $"id").as("a"),
      transform(sequence(lit(1), lit(4)),
        i => i.cast("double") * 2).as("b"),
      transform(sequence(lit(1), lit(3)),
        i => i.cast("double")).as("short"))
    def hofDot(x: Column, y: Column): Column =
      aggregate(zip_with(x, y, (p, q) => p * q), lit(0.0),
        (acc, e) => acc + e)
    val want = df.select($"id", hofDot($"a", $"b").as("d"))
      .as[(Long, Double)].collect().toMap
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations :+ graft.RewriteHofDot
    try {
      val got = df.select($"id", hofDot($"a", $"b").as("d"))
      val plan = got.queryExecution.executedPlan.toString
      assert(plan.toLowerCase.contains("dotproduct"), plan)
      assert(got.as[(Long, Double)].collect().toMap == want)
      // ragged lengths: the guard routes to the builtin, whose
      // zip_with null-padding makes the whole fold null
      val ragged = df.filter($"id" === 0)
        .select(hofDot($"a", $"short").as("d"))
        .collect().head
      assert(ragged.isNullAt(0), ragged.toString)
    } finally {
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations
          .filterNot(_ == graft.RewriteHofDot)
    }
  }

  test("q19: as-of join plans as union + window, not a range join") {
    val plan = planOf("q19_asof_join")
    // no join operator at all: the as-of semantics ride a running
    // window over the unioned sides — the O(n^2) range-join shapes
    // must never appear
    assert(!plan.contains("Join"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(plan.contains("Window"), plan)
  }

  test("q25: salted join widens the shuffle key to (key, salt)") {
    val plan = planOf("q25_salted_join")
    assert("hashpartitioning\\(l_orderkey#\\d+L?, __graft_salt".r
      .findFirstIn(plan).isDefined, plan)
    assert("hashpartitioning\\(o_orderkey#\\d+L?, __graft_salt".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("q26: bucketed join runs with zero exchange below the SMJ") {
    val plan = planOf("q26_bucketed_join")
    assert(plan.contains("SortMergeJoin"), plan)
    assert("Bucketed: true".r.findAllIn(plan).size == 2, plan)
    // everything from the join down must be exchange-free: the only
    // shuffles in the whole plan are the post-join agg + order-by
    val joinSubtree = plan.substring(plan.indexOf("SortMergeJoin"))
    assert(!joinSubtree.contains("Exchange"), joinSubtree)
  }

  test("q28: year filter prunes partitions at the PLAN level") {
    val plan = planOf("q28_partitioned_prune")
    // the filter must appear under PartitionFilters (directory pruning
    // before any file opens), not merely as a pushed data filter
    val scanLine = plan.linesIterator
      .find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("o_year"), plan)
    assert(scanLine.contains("1997"), plan)
    // partition column is directory metadata, never read from files
    val readSchema = scanLine.substring(scanLine.indexOf("ReadSchema:"))
    assert(!readSchema.contains("o_year"), readSchema)
    assert(readSchema.contains("o_totalprice"), readSchema)
  }

  test("d23: pack window shuffles on shard, never a global sort") {
    val plan = planOf("d23_seq_packing")
    // the cumsum window must partition by shard (independent streams);
    // a rangepartitioning over the window sort key would mean a global
    // ordering — the scale-hostile shape packSequences exists to avoid.
    // (the final orderBy of the query entry is presentation-only and
    // does rangepartition; assert on the window exchange specifically)
    assert(plan.contains("hashpartitioning(shard"), plan)
  }

  test("q38: seq/gap/mavg all ride ONE user-keyed shuffle (no per-" +
      "function exchange, no global window sort)") {
    val plan = planOf("q38_window_analytics")
    // row_number, lag and the moving average may plan as separate
    // Window operators, but they must share a single Exchange
    // hashpartitioning(user_id) — the per-user sort is local to each
    // partition. The only rangepartitioning allowed is the final
    // presentation orderBy.
    assert("Exchange hashpartitioning\\(user_id".r
      .findAllIn(plan).size == 1, plan)
    assert("Exchange rangepartitioning".r.findAllIn(plan).size <= 1, plan)
    assert(plan.contains("Window"), plan)
  }

  test("q39: correlated scalar subquery decorrelates to an aggregate " +
      "join (no per-row re-execution, no BNLJ)") {
    val plan = planOf("q39_avg_qty_subquery")
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the subquery must survive as a per-part aggregate joined back on
    // l_partkey — the O(n) decorrelated shape
    assert(plan.contains("partial_avg") || plan.contains("avg("), plan)
    assert("(SortMergeJoin|BroadcastHashJoin|ShuffledHashJoin)".r
      .findAllIn(plan).size >= 2, plan)
  }

  test("q40: day spine is generated on executors and the fill window " +
      "is user-keyed (no driver calendar, no global sort)") {
    val plan = planOf("q40_gap_fill")
    assert(plan.contains("Generate explode"), plan) // per-user spine
    assert(plan.contains("hashpartitioning(user_id"), plan)
  }

  test("q41: INTERSECT/EXCEPT plan as semi/anti hash joins") {
    val plan = planOf("q41_setops")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q42: sliding windows expand executor-side then aggregate with " +
      "map-side partials (one shuffle)") {
    val plan = planOf("q42_sliding_window")
    // the 4-windows-per-event expansion must be a narrow executor-side
    // node (Expand/Generate), feeding a partial+final aggregate pair
    assert(plan.contains("Expand") || plan.contains("Generate"), plan)
    assert("HashAggregate".r.findAllIn(plan).size >= 2, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q43: HLL sketch aggregation runs partial then final " +
      "(sketches merge map-side, raw user_ids never shuffle)") {
    val plan = planOf("q43_approx_distinct")
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(plan.contains("partial_hll_sketch_agg") ||
      "partial.*hll".r.findFirstIn(plan).isDefined, plan)
  }

  test("AQE splits a skewed sort-merge join partition at runtime " +
      "(the automatic complement to q25's explicit salting)") {
    // one hot key (95% of the left side) would pin a single reducer;
    // with skew-join thresholds sized for the fixture, AQE must mark
    // the join skew=true in the FINAL adaptive plan (it replans from
    // runtime shuffle statistics — exactly the lever that absorbs
    // residual skew at 100 TB when keys can't be pre-salted).
    val confs = Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.shuffle.partitions" -> "8",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false")
    val saved = confs.map { case (k, _) => k -> spark.conf.getOption(k) }
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(200000).select(
        when(col("id") % 20 =!= 0, 0L).otherwise(col("id")).as("k"),
        col("id").as("v"))
      val right = spark.range(2000).select(
        col("id").as("k"), (col("id") * 2).as("w"))
      // reduce to one row so collect() — which executes THIS dataset's
      // own adaptive plan, unlike count()/foreachPartition — is cheap
      val j = left.join(right, "k").groupBy().count()
      assert(j.collect().head.getLong(0) > 0)
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"), plan)
      assert(plan.contains("skew=true"), plan)
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("d29: budget window is bin-keyed over the filtered boundary bin, " +
      "never a global sort") {
    val plan = planOf("d29_token_budget_select")
    // the cumulative-sum window must shuffle on the boundary bin key
    // (qbin), with the bin filter below it — the only rows that reach
    // the sort are one bin's worth. A rangepartitioning over the
    // window's sort key would be the global-ordering shape
    // tokenBudgetSelect exists to avoid. (the entry's presentation
    // orderBy(doc_id) does rangepartition; assert on the window key.)
    // (the float bin key is wrapped in normalizenanandzero by the
    // planner, so match the key inside the hashpartitioning exchange)
    assert("Exchange hashpartitioning\\([^)\\n]*qbin".r
      .findFirstIn(plan).isDefined, plan)
    assert("rangepartitioning\\([^\\n]*qbin".r.findFirstIn(plan).isEmpty, plan)
    // the boundary-bin equality filter sits below the window exchange
    assert("Filter \\(isnotnull\\(qbin[^\\n]*\\(qbin[^\\n]* = ".r
      .findFirstIn(plan).isDefined, plan)
  }

  test("s07: centroid and stats joins broadcast (no corpus shuffle)") {
    val plan = planOf("s07_embedding_outliers")
    assert("BroadcastHashJoin".r.findAllIn(plan).size >= 2, plan)
  }

  test("d26: containment join has no cartesian/BNLJ stage") {
    // the join returns checkpointed pairs: the prefix join runs inside it
    val plan = allPlansOf("d26_containment")
    assert(plan.contains("SortMergeJoin") || plan.contains("HashJoin"),
      plan.take(2000))
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
  }

  test("q30: selective filters are pushed to both scans") {
    val plan = planOf("q30_shipping_priority")
    assert(plan.contains("PushedFilters: [IsNotNull(c_mktsegment), " +
      "EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("LessThan(o_orderdate"), plan)
    assert(plan.contains("GreaterThan(l_shipdate"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q36: partition pruning is DYNAMIC (runtime dim-filter subquery)") {
    val plan = planOf("q36_dpp_join")
    // the fact scan must carry a dynamicpruning expression in its
    // partition filters — static pruning (q28) can't help when the
    // surviving years are only known from the filtered dim at runtime
    assert(plan.toLowerCase.contains("dynamicpruning"), plan)
  }

  test("q72: polygon table broadcasts; the points side never " +
      "shuffles before the containment test") {
    val plan = planOf("q72_spatial_join")
    // the (point, ring) candidate join must be broadcast-driven with
    // the bbox range conjunction as its condition (a nested-loop over
    // a KB-sized broadcast, not a cartesian and not a shuffle join),
    // and the points are never hash-partitioned by coordinates —
    // the only exchanges are the dimension-sized state rollups
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("hashpartitioning(px") &&
      !plan.contains("hashpartitioning(py"), plan)
  }

  test("q70: ANALYZE statistics reach the optimizer (exact rowCount, " +
      "not file-size guesses) with CBO enabled") {
    val df = SparkEntry.queries("q70_cbo_reorder")(spark, sf001)
    // resolve the analyzed catalog relations and check the optimizer
    // sees catalog row counts — the precondition for cost-based join
    // reordering to do anything at all
    val scans = df.queryExecution.optimizedPlan.collectLeaves()
    val counts = scans.flatMap(_.stats.rowCount)
    assert(counts.nonEmpty, s"no catalog rowCount visible:\n" +
      df.queryExecution.optimizedPlan)
    // lineitem at sf0.001 has ~6000 rows; a rowCount in that range
    // proves these are ANALYZE numbers, not defaults
    assert(counts.exists(c => c.toLong > 1000L && c.toLong < 100000L),
      counts.toString)
  }

  test("q69: EXISTS / NOT EXISTS decorrelate to one semi + one anti " +
      "hash join (no nested loop, no per-row re-scan)") {
    val plan = planOf("q69_exists_pair")
    assert(plan.contains("LeftSemi"), plan)
    assert(plan.contains("LeftAnti"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"), plan)
  }

  test("q68: bloom runtime filter is injected into the fact side") {
    // the selective dim predicate must produce a might_contain probe
    // on the lineitem side (InjectRuntimeFilter) — the row-level
    // pruning lever when the fact table isn't partitioned by the key.
    // Checked on the optimized plan, where the expression is textual.
    val df = SparkEntry.queries("q68_runtime_filter")(spark, sf001)
    val opt = df.queryExecution.optimizedPlan.toString.toLowerCase
    assert(opt.contains("might_contain") ||
      opt.contains("bloomfilter"), opt)
    // and it must not change results vs the un-filtered plain join
    assert(df.count() > 0)
  }

  test("m03: EBP reads the big survey via one map-side aggregate, no join") {
    // Em.ebp scores the weighted cell table on the driver and returns a
    // local frame, so the cell table's plan is the only one that reads
    // the big survey
    val big = graft.queries.StatQueries.bigSurvey(spark, sf001)
    val fit = graft.queries.StatQueries.emFit(spark, sf001)
    val ebp = graft.stats.Em.ebp(big, fit.params,
      graft.queries.StatQueries.featureCols, "state", "weight", fit.draws, 10)
    assert(ebp.queryExecution.optimizedPlan
      .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation])
    def joins(p: String) = "Join ".r.findAllIn(p).size
    val cells = graft.stats.CellDesign.compress(big, Nil,
      graft.queries.StatQueries.featureCols, col("state"), Some("weight"))
    val plan = cells.queryExecution.executedPlan.toString
    // the survey's own nation join is all there is
    assert(joins(plan) == joins(big.queryExecution.executedPlan.toString), plan)
    assert("partial_sum".r.findAllIn(plan).size == 1, plan)
    assert("Exchange hashpartitioning".r.findAllIn(plan).size == 1, plan)
  }

  test("q52/q54/q57: lag+cumsum sessionization, the RANGE frame, and " +
      "the running-distinct trick each ride ONE user-keyed shuffle " +
      "(no global window sort, no (user,type) second exchange)") {
    Seq("q52_sessionize", "q54_range_frame",
        "q57_running_distinct").foreach { q =>
      val plan = planOf(q)
      assert("Exchange hashpartitioning\\(user_id".r
        .findAllIn(plan).size == 1, s"$q:\n$plan")
      assert("Exchange rangepartitioning".r.findAllIn(plan).size <= 1,
        s"$q:\n$plan")
    }
  }

  test("s12: ADC scoring joins the broadcast query tables against the " +
      "code scan (no BNLJ, no corpus-vector shuffle)") {
    val e = graft.Tables(spark, sf001, "embeddings")
    val plan = graft.ops.Similarity.pqTopK(e, "vec_id", "embedding",
        e.filter(col("vec_id") < 3), "vec_id", "embedding",
        k = 3, m = 8, kc = 16, sampleSize = 256)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin")
      || plan.contains("BroadcastExchange"), plan)
    assert(!plan.contains("CartesianProduct"), plan)
    // the round-6 scale fix: ranking is the k-bounded TopKPairs
    // aggregate, never a window sort over all N×Q scored candidates
    assert(plan.toLowerCase.contains("topkpairs"), plan)
    assert(!plan.contains("Window ["), plan)
  }

  test("d34: deletion-neighborhood fuzzy join is key-hashed — no " +
      "cartesian/BNLJ all-pairs stage") {
    // the join returns checkpointed pairs: the bucket join runs inside it
    val plan = allPlansOf("d34_fuzzy_join")
    assert(!plan.contains("CartesianProduct"), plan)
    assert(!plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(plan.contains("Join") || plan.contains("join"), plan)
  }

  test("m12: raking margin joins broadcast — the sample itself never " +
      "shuffles") {
    val full = graft.Tables(spark, sf001, "customer")
    val samp = full.filter(col("c_custkey") % 3 === 0)
      .select(col("c_custkey"), col("c_mktsegment").as("seg"),
        col("c_nationkey").as("nat"),
        org.apache.spark.sql.functions.lit(1.0).as("w"))
    val st = full.groupBy(col("c_mktsegment").as("seg"))
      .agg(org.apache.spark.sql.functions.count(
        org.apache.spark.sql.functions.lit(1)).cast("double")
        .as("_target"))
    val plan = graft.stats.Survey.rake(samp, "w", Seq("seg" -> st),
        iters = 2)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only hashpartitioning exchanges are the dimension-sized
    // margin-sum aggregates, never the sample rows
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("q61/d35: no row-level window partitioned by the group alone — " +
      "the distributed rank's windows ride the tie group / the compact " +
      "distribution") {
    for (name <- Seq("q61_percent_rank", "d35_ccnet_buckets")) {
      val plan = SparkEntry.queries(name)(spark, sf001)
        .queryExecution.executedPlan.toString
      // every Window's partition spec must carry the value column too
      // (tie-group windows) — a window keyed on the bare group column
      // would re-introduce the serialized per-group sort, EXCEPT the
      // one over the aggregated value distribution, which is fed by a
      // HashAggregate (compact rows), not by the row-level table.
      val winSpecs = "windowspecdefinition\\(([^)]*)\\)".r
        .findAllMatchIn(plan.toLowerCase).map(_.group(1)).toSeq
      assert(winSpecs.nonEmpty, s"$name: no window found\n$plan")
      val rowLevelGroupOnly = winSpecs.count { spec =>
        (spec.contains("seg") || spec.contains("lang")) &&
          !spec.contains("bal") && !spec.contains("nll")
      }
      // exactly the distribution-level running sum + its n_group twin
      // may partition by the group alone; they run over HashAggregate
      // output, which PlanSpec asserts by the aggregate preceding them
      assert(plan.contains("HashAggregate"), s"$name:\n$plan")
      assert(winSpecs.size - rowLevelGroupOnly >= 1,
        s"$name: no tie-group window in\n${winSpecs.mkString("\n")}")
      // and BOUND them: more than those 2 means a row-level per-group
      // window sort crept back in — the exact regression this test
      // exists to forbid
      assert(rowLevelGroupOnly <= 2,
        s"$name: ${rowLevelGroupOnly} group-only windows (max 2: " +
          s"running sum + n_group)\n${winSpecs.mkString("\n")}")
    }
  }

  test("q86: the merge-on-read snapshot plans the tombstone subtraction " +
    "as a BROADCAST anti-join — the table never shuffles for a delete") {
    import graft.sources.Versioned
    val root = RelQueries.morRoot(spark, sf001)
    val plan = Versioned.readAsOf(spark, root, 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone anti-join not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"MOR read shuffled the data side:\n$plan")
    // compacted snapshot: no join at all — tombstones are gone
    val plan4 = Versioned.readAsOf(spark, root, 4)
      .queryExecution.executedPlan.toString
    assert(!plan4.contains("Join"), s"compacted read still joins:\n$plan4")
  }
}
