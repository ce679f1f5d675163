package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.SimHash64

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard similarity join.
  *
  * Scale design: every variant reduces to shuffles keyed on content
  * hashes/buckets — no pairwise O(N^2) stage ever materializes over the
  * full corpus. MinHash banding and the shingle-inverted-index join are
  * the standard 100 TB corpus-dedup shapes (one wide shuffle each);
  * frequency cutoffs guard hot-key skew.
  */
object Dedup {

  /** Exact dedup: hash-groupBy on normalized content; keeps the minimal
    * id per group. One shuffle on the 128-bit content hash.
    */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.withColumn("fp", TextAnalysis.fingerprint(col(textCol)))
      .groupBy("fp")
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_dups"))

  /** MinHash uses a universal affine family over ONE md5-derived base
    * hash per shingle: h_j(s) = (a_j * h(s) + b_j) mod p, p = 2^31-1,
    * h(s) = first 8 md5 hex digits mod p. Two wins over the previous
    * per-j xxhash64: (1) one md5 per shingle instead of k hashes —
    * the k signature rows are then k cheap multiply-mods; (2) md5 has
    * the same definition in every engine, so the WHOLE pipeline —
    * signatures, band keys, candidate pairs — replays bit-for-bit in
    * the DuckDB oracle (xxhash64 does not exist there), turning d07
    * from a rows-only entry into a hash-matched one.
    */
  val MinhashP: Long = 2147483647L // 2^31 - 1; a*h < 2^62, no overflow

  /** Deterministic (a_j, b_j) coefficients — fixed seed so the engine
    * plan and the interpolated oracle SQL share the same literals.
    */
  def minhashCoeffs(numHashes: Int,
                    seed: Long = 0x5EED5EEDL): (Array[Long], Array[Long]) = {
    val rng = new java.util.Random(seed)
    val as = Array.fill(numHashes)(1L + math.floorMod(rng.nextLong(), MinhashP - 1))
    val bs = Array.fill(numHashes)(math.floorMod(rng.nextLong(), MinhashP))
    (as, bs)
  }

  /** Base hash column for one shingle string (engine-portable). */
  def minhashBase(s: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(conv(substring(md5(s.cast("binary")), 1, 8), 16, 10).cast("long"),
      lit(MinhashP))

  /** MinHash signature as an array<long> column over a *materialized*
    * base-hash array column (one md5 per distinct shingle, done in a
    * prior projection).
    *
    * The hash index is statically unrolled (k array_min expressions,
    * not transform-over-sequence) on purpose: each references the
    * base-hash attribute, so CollapseProject sees k references and
    * keeps the md5 computation materialized in its own projection
    * instead of inlining it into every lambda evaluation (which would
    * cost O(shingles * numHashes) md5s per row in interpreted eval).
    */
  def minhashSignature(hs: org.apache.spark.sql.Column,
                       numHashes: Int): org.apache.spark.sql.Column = {
    val (as, bs) = minhashCoeffs(numHashes)
    array((0 until numHashes).map(j =>
      array_min(transform(hs,
        h => pmod(h * lit(as(j)) + lit(bs(j)), lit(MinhashP))))): _*)
  }

  /** MinHash-LSH candidate pairs verified by exact Jaccard.
    *
    * bands x rows = numHashes; two docs collide if any band of their
    * signatures matches exactly (P[collide] = 1-(1-s^r)^b for Jaccard
    * s). Pipeline: signature -> explode band hashes -> self-join on
    * (band, hash) -> distinct pairs -> verify Jaccard on distinct
    * shingle sets. The self-join shuffles on band buckets; identical
    * boilerplate clusters are the skew risk, bounded by verifying only
    * distinct pairs.
    */
  /** Attach each candidate pair's two sorted hashed shingle sets for
    * exact verification WITHOUT shuffling an array per pair when
    * avoidable. The naive verify join's intermediate — (pair, sh_a)
    * rows repartitioned by id_b — is the one structure in a
    * similarity join whose bytes scale as |candidates| × |set|:
    * under g-fold corpus duplication candidate pairs grow ~g² (the
    * true-pair output itself is g², so no candidate scheme escapes
    * it), and the sf3 stress (30× sf0.1: 150k docs, 107.6M PPJoin
    * candidates) measured that intermediate at ~90 GB — it exhausted
    * local disk before any result row emerged. The sets TABLE, by
    * contrast, stays linear in the corpus (~65 MB at sf3): when its
    * measured size (one cheap agg on the already-cached table) fits
    * under `maxBroadcastBytes`, it is broadcast into BOTH lookups,
    * the arrays never cross a shuffle, and candidates stream through
    * map-side hash joins where the exact filter drops them in place.
    * Beyond the cap (a truly huge corpus) the plain shuffle joins
    * return — per-executor volume a real cluster absorbs — so the
    * cap marks the honest boundary between the two regimes rather
    * than hiding it.
    *
    * `sets` must be (id, sh: sorted array<long>); output carries the
    * candidate columns plus sh_a (for `aCol`) and sh_b (for `bCol`).
    *
    * Candidate-pair DEDUP placement is regime-dependent, so this
    * helper owns it: callers pass candidates RAW (band/prefix joins
    * emit each pair multiple times) and run their own
    * `dropDuplicates` only AFTER the verify filter, where survivors
    * are answer-sized. In the broadcast regime the attach joins are
    * map-side, so raw candidates never shuffle AT ALL and the only
    * cost of a duplicate is one extra codegen'd array intersect —
    * dropping the pre-verify dedup (a 148M-row exchange+sort at the
    * sf3 stress) took d09's verify phase 150.8 → ~26s. In the
    * shuffle regime the attach joins DO exchange every candidate
    * row, so deduping first is what keeps g×-duplicated pairs from
    * multiplying that exchange — the helper dedups before joining
    * there. Both orders give identical DISTINCT results (identical
    * pairs verify to identical rows), but output MULTIPLICITY is
    * regime-dependent: a caller must either pass already-distinct
    * candidates with `preDeduped = true`, or dedup after its verify
    * filter — never neither, never count raw output rows.
    *
    * The cap compares a RAW-bytes estimate; the true peak cost of
    * broadcasting is ~2-4× that (driver collect + an in-memory
    * HashedRelation per join side, two sides live at once), so the
    * default cap is 128 MB — ~0.5-1 GB peak, safe on stock 4 GB
    * executors. `preStats` supplies (rowCount, avgSetLen) measured on
    * an already-cached upstream table, for callers whose `sets`
    * projection would otherwise recompute (e.g. a hash+sort transform
    * over the corpus) just to answer the size probe; without it the
    * helper runs one cheap agg on `sets` itself.
    */
  private[graft] def attachSets(cand: DataFrame, sets: DataFrame,
                                aCol: String, bCol: String,
                                maxBroadcastBytes: Long = 128L << 20,
                                preDeduped: Boolean = false,
                                preStats: Option[(Long, Double)] = None)
      : DataFrame = {
    val (n, avgSz) = preStats.getOrElse {
      val st = sets
        .agg(count(lit(1)).as("n"), avg(size(col("sh"))).as("s")).first
      (st.getLong(0), if (st.isNullAt(1)) 0.0 else st.getDouble(1))
    }
    val bytes = n * (8.0 * avgSz + 24.0)
    val bcast = bytes <= maxBroadcastBytes.toDouble
    val side = if (bcast) broadcast(sets) else sets
    val c = if (bcast || preDeduped) cand
            else cand.dropDuplicates(aCol, bCol)
    c
      .join(side.select(col("id").as(aCol), col("sh").as("sh_a")), Seq(aCol))
      .join(side.select(col("id").as(bCol), col("sh").as("sh_b")), Seq(bCol))
  }

  /** Anti-join `df` against an accumulated-KEY store — the probe an
    * incremental/streaming ingest runs against its accepted-
    * fingerprint store (p03, st16). The store is O(accepted corpus),
    * NOT dimension-sized: at 100 TB it is billions of fingerprints
    * (tens of GB), so an unconditional `broadcast()` hint — which
    * strips the planner's ability to fall back — is a guaranteed
    * driver/executor OOM. Same regime contract as [[attachSets]]:
    * probe the store's size once (a count over the store — for a
    * parquet-backed store this is a metadata-cheap scan), broadcast
    * under the honest cap (map-side anti-join; `df` never shuffles),
    * and beyond it leave the join UNHINTED so the planner picks the
    * shuffled anti-join (both sides exchange on the key — correct at
    * any store size, and AQE can still locally re-plan).
    *
    * Bytes estimate: string widths are MEASURED from the data, not
    * taken from Catalyst's flat 20 B `defaultSize` — the canonical
    * 32-char md5 key is ~64-72 B in an UnsafeRow, and a URL-keyed
    * store is wider still and unbounded; sizing those at 20 B/row
    * could admit a store several times past `maxBroadcastBytes` and
    * pressure the driver despite the cap. The size probe is ONE
    * aggregation (count + avg key length, the same pass attachSets
    * runs), per string column costing 8 B fixed-width slot + payload
    * rounded to 8, with a conservative 48 B/string floor; non-string
    * columns use `defaultSize`; +32 B UnsafeRow/HashedRelation
    * overhead per row. The md5 store lands at 80 B/row — the 128 MB
    * default cap keeps the usual 2-4x headroom for the driver
    * collect + HashedRelation peak (attachSets' measured contract).
    * The anti-join only needs the key, so the store is projected to
    * `keyCol` first — both the broadcast and the shuffled regime ship
    * keys, never payload columns.
    *
    * `preCount` lets a caller that already knows the store's row
    * count (e.g. tracked incrementally across streaming batches) skip
    * the probe; with no pass available to measure widths, that path
    * prices each string column at a flat conservative 72 B.
    */
  def storeAntiJoin(df: DataFrame, store: DataFrame, keyCol: String,
                    maxBroadcastBytes: Long = 128L << 20,
                    preCount: Option[Long] = None): DataFrame = {
    val keys = store.select(keyCol)
    val strCols = keys.schema
      .filter(_.dataType == org.apache.spark.sql.types.StringType)
      .map(_.name)
    val fixedBytes = keys.schema
      .filterNot(f => strCols.contains(f.name))
      .map(_.dataType.defaultSize.toLong).sum + 32L
    val (n, strBytes): (Long, Double) = preCount match {
      case Some(c) => (c, strCols.size * 72.0)
      case None if strCols.isEmpty => (keys.count(), 0.0)
      case None =>
        // octet_length (bytes), not length (characters): multi-byte
        // UTF-8 keys (non-ASCII URLs/titles) are up to 4x wider in
        // memory than their character count, and undersizing here
        // re-opens exactly the over-broadcast gap this probe closes
        val aggs = count(lit(1)).as("__n") +:
          strCols.map(c =>
            avg(octet_length(col(c))).as(s"__l_$c"))
        val r = keys.agg(aggs.head, aggs.tail: _*).head
        val sb = strCols.indices.map { i =>
          val a = if (r.isNullAt(i + 1)) 0.0 else r.getDouble(i + 1)
          math.max(48.0, 8.0 + math.ceil(a / 8.0) * 8.0)
        }.sum
        (r.getLong(0), sb)
    }
    if (n * (fixedBytes + strBytes) <= maxBroadcastBytes.toDouble)
      df.join(broadcast(keys), Seq(keyCol), "left_anti")
    else
      df.join(keys, Seq(keyCol), "left_anti")
  }

  /** `maxBucketSize` is the hot-bucket BUDGET — the real-crawl skew
    * regime where one boilerplate cluster holds ~10% of the corpus
    * and its band bucket would emit g²/2 all-pairs candidates (a
    * 5k-doc cluster = 12.5M pairs from ONE bucket). Buckets over the
    * budget switch to STAR candidates — every member paired with the
    * bucket's min id — O(g) edges that keep the cluster CONNECTED
    * (so the closure still collapses it to one keeper) while
    * truncating the quadratic pair enumeration. The trade is
    * explicit, deterministic, and oracle-replayable (bucket size +
    * min id are plain SQL): pairs LOST are those whose only shared
    * buckets were oversized and whose exact-verify against the hub
    * fails — for a genuine boilerplate cluster (the case the budget
    * targets) members verify against the hub by construction.
    * Callers surface the truncation via [[minhashLshBudgeted]] —
    * never silently (p02's funnel reports budgeted-bucket counts).
    * Default MaxValue = exact all-pairs semantics, zero plan change.
    */
  def minhashLsh(df: DataFrame, idCol: String, textCol: String,
                 shingleN: Int = 3, numHashes: Int = 32, bands: Int = 8,
                 threshold: Double = 0.7,
                 maxBucketSize: Int = Int.MaxValue): DataFrame =
    minhashLshBudgeted(df, idCol, textCol, shingleN, numHashes, bands,
      threshold, maxBucketSize)._1

  /** [[minhashLsh]] plus the truncation REPORT: returns
    * (verified pairs, budgeted buckets). The second frame lists every
    * band bucket that exceeded `maxBucketSize` — (band, bhash, bsz,
    * hub) — so a caller can surface the budget's activity in its own
    * output (empty at the default cap). Reporting is the contract:
    * a silent candidate truncation would read as "no near-dups
    * there" when the truth is "too many".
    *
    * Both frames come back EAGER: the pairs (and, when a cap is set,
    * the budgeted buckets) are `localCheckpoint`ed before returning,
    * so the signature table cached while they are computed is
    * released on every path, failures included, and repeated calls
    * leave nothing in the session's cache.
    */
  def minhashLshBudgeted(df: DataFrame, idCol: String, textCol: String,
                         shingleN: Int = 3, numHashes: Int = 32,
                         bands: Int = 8, threshold: Double = 0.7,
                         maxBucketSize: Int = Int.MaxValue)
      : (DataFrame, DataFrame) = {
    val rows = numHashes / bands
    // staged projections: tokens -> distinct shingles -> base hashes ->
    // signature -> stringified signature; each stage's column is multi-
    // referenced downstream, so CollapseProject keeps them materialized
    // (see minhashSignature scaladoc)
    val sig = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(TextAnalysis.shinglesOf(col("toks"), shingleN))
          .as("sh"))
      .withColumn("hs", transform(col("sh"), s => minhashBase(s)))
      .withColumn("sig", minhashSignature(col("hs"), numHashes))
      .withColumn("sigs", transform(col("sig"), x => x.cast("string")))
      .cache()
    try {
      // EAGER cache fill (the q58/Graph lesson): the consuming job scans
      // this cache from THREE independent stages at once (bucket counts +
      // both candidate-join sides) — against a COLD cache those stages
      // race, each recomputing the full shingle+signature pipeline
      // (profiled on p02: three concurrent 32-task stages, 25-29 s CPU
      // EACH, for one cache's worth of work). The pass that fills it
      // also answers attachSets' size probe (row count and mean set
      // length; set length is the same before and after hashing), so
      // the hash+sort projection of `sets` below isn't recomputed just
      // to decide the regime.
      val st = sig.agg(count(lit(1)).as("n"), avg(size(col("sh"))).as("s"))
        .first
      // band key = md5 over the comma-joined signature slice — engine-
      // portable (the oracle replays it), 16 hex chars is plenty for a
      // band bucket key
      val bandArr = array((0 until bands).map(b =>
        struct(lit(b).as("band"),
          substring(md5(concat_ws(",",
            slice(col("sigs"), b * rows + 1, rows)).cast("binary")), 1, 16)
            .as("bhash"))): _*)
      // the banded self-join shuffles (id, band, bhash) ONLY — 8 slim
      // rows per doc. Carrying the shingle array through the band
      // explode and the join (the old shape) duplicated every doc's
      // full set 8x into the shuffle and g x per bucket neighbor; on a
      // corpus with g-sized duplication clusters (boilerplate — the
      // common case at scale) that multiplied the candidate shuffle by
      // g * |sh| and made d07 super-linear (caught by the sf3 sweep:
      // 30x data was ~110x wall). Sets are fetched per SURVIVING
      // deduped candidate from the cached signature table, the d09
      // pattern.
      val slim = sig.select(col("id"), explode(bandArr).as("bb"))
        .select(col("id"),
          col("bb.band").as("band"), col("bb.bhash").as("bhash"))
      // pre-dedup here, unlike the PPJoin callers: LSH banding already
      // did the similarity filtering, so candidates are answer-sized
      // (~8 band-dups per true pair, not the prefix join's ~45x
      // redundancy) — the slim dedup shuffle is cheaper than 8 extra
      // verifies per pair (sf3: ~21s here vs 31.7s dedup-late)
      val emptyStats = df.sparkSession.emptyDataFrame
        .withColumn("band", lit(0)).withColumn("bhash", lit(""))
        .withColumn("bsz", lit(0L)).withColumn("hub", lit(0L))
      val (cand, budgeted) =
        if (maxBucketSize == Int.MaxValue)
          (slim.as("a")
            .join(slim.as("b"),
              col("a.band") === col("b.band")
                && col("a.bhash") === col("b.bhash")
                && col("a.id") < col("b.id"))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
            .dropDuplicates("id_a", "id_b"), emptyStats)
        else {
          // budget regime: annotate each slim row with its bucket's
          // size and min id (one extra combinable agg + join on the
          // same slim key — no wide data moves). A window over
          // (band, bhash) would express the same thing in one pass but
          // WindowExec sorts every partition even for unbounded
          // frames; a back-to-back A/B measured it slightly SLOWER
          // than this agg+join (p01 17.1 vs 16.5 s, same host window).
          // Whole budget regime costs ~7% of p01 vs the uncapped path.
          val stats = slim.groupBy("band", "bhash")
            .agg(count(lit(1)).as("bsz"), min(col("id")).as("hub"))
          val sized = slim.join(stats, Seq("band", "bhash"))
          val small = sized.filter(col("bsz") <= maxBucketSize)
          val allPairs = small.as("a")
            .join(small.as("b"),
              col("a.band") === col("b.band")
                && col("a.bhash") === col("b.bhash")
                && col("a.id") < col("b.id"))
            .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
          val star = sized
            .filter(col("bsz") > maxBucketSize && col("id") > col("hub"))
            .select(col("hub").as("id_a"), col("id").as("id_b"))
          (allPairs.unionByName(star).dropDuplicates("id_a", "id_b"),
            stats.filter(col("bsz") > maxBucketSize))
        }
      // exact verify on 64-bit-hashed SORTED sets through the
      // SortedIntersect merge kernel (the d09 verify shape — one
      // branch-predictable scan per pair instead of a per-row string
      // hash set). Jaccard on hashed sets equals Jaccard on the string
      // sets unless two distinct shingles of the same pair collide in
      // 64 bits (~1e-16/pair) — the oracle computes on raw strings, so
      // the gate would catch it.
      graft.functions.SortedIntersect.register(df.sparkSession)
      val sets = sig.select(col("id"),
        sort_array(transform(col("sh"), s => xxhash64(s))).as("sh"))
      // cand is distinct, so attachSets skips its shuffle-regime dedup
      // and no trailing dedup is needed (1:1 joins can't re-duplicate a
      // distinct pair)
      val pairs = attachSets(cand, sets, "id_a", "id_b", preDeduped = true,
          preStats = Some((st.getLong(0),
            if (st.isNullAt(1)) 0.0 else st.getDouble(1))))
        .withColumn("inter",
          size(graft.functions.SortedIntersect
            .intersectFast(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
      (pairs.localCheckpoint(true),
        if (maxBucketSize == Int.MaxValue) budgeted
        else budgeted.localCheckpoint(true))
    } finally sig.unpersist()
  }

  /** Banded MinHash signature table for one corpus side: (id, sig,
    * band, bhash) — the PERSISTABLE representation behind
    * [[minhashLshIncremental]] (32 longs + 8 band keys per doc, never
    * text). Same signature/band arithmetic as [[minhashLsh]], so the
    * DuckDB oracle replays it bit-for-bit.
    */
  def minhashBanded(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, numHashes: Int = 32,
                    bands: Int = 8): DataFrame = {
    val rows = numHashes / bands
    val sig = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(TextAnalysis.shinglesOf(col("toks"), shingleN))
          .as("sh"))
      .withColumn("hs", transform(col("sh"), s => minhashBase(s)))
      .withColumn("sig", minhashSignature(col("hs"), numHashes))
      .withColumn("sigs", transform(col("sig"), x => x.cast("string")))
    val bandArr = array((0 until bands).map(b =>
      struct(lit(b).as("band"),
        substring(md5(concat_ws(",",
          slice(col("sigs"), b * rows + 1, rows)).cast("binary")), 1, 16)
          .as("bhash"))): _*)
    sig.select(col("id"), col("sig"), explode(bandArr).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bhash").as("bhash"))
  }

  /** Incremental MinHash-LSH ingestion dedup: today's banded
    * signatures probe yesterday's persisted signature STORE
    * ([[minhashBanded]] output) with a banded NEW-vs-OLD join —
    * old×old pair space is never generated and stored TEXT is never
    * re-read (the store carries signatures only). Similarity is the
    * unbiased MinHash estimator: matching signature components /
    * numHashes (E[estimate] = Jaccard; k/numHashes is dyadic at
    * numHashes=32, so the oracle replay is bit-exact). The d27 exact
    * incremental pattern, lifted to near-duplicate granularity.
    */
  def minhashLshIncremental(newBanded: DataFrame, storeBanded: DataFrame,
                            numHashes: Int = 32,
                            threshold: Double = 0.5): DataFrame = {
    val cand = newBanded.select(col("id").as("new_id"),
        col("sig").as("nsig"), col("band"), col("bhash"))
      .join(storeBanded.select(col("id").as("store_id"),
        col("sig").as("ssig"), col("band"), col("bhash")),
        Seq("band", "bhash"))
      .dropDuplicates("new_id", "store_id")
    cand.withColumn("est_jaccard",
        size(filter(zip_with(col("nsig"), col("ssig"),
          (a, b) => a === b), x => x)).cast("double") / numHashes)
      .filter(col("est_jaccard") >= threshold)
      .select("new_id", "store_id", "est_jaccard")
  }

  /** SimHash near-dup pairs: 64-bit signatures (custom Catalyst
    * expression), candidates from matching any of `tables` 16-bit
    * sub-bands (pigeonhole: <= `maxHamming` differing bits guarantees a
    * clean band when maxHamming < tables), verified by Hamming distance
    * via builtin bit ops. The pairs come back EAGER, as a local
    * checkpoint, so the cached signatures are released on every path.
    */
  def simhashPairs(df: DataFrame, idCol: String, textCol: String,
                   maxHamming: Int = 3, tables: Int = 4,
                   maxBucket: Int = 1000): DataFrame = {
    SimHash64.register(df.sparkSession)
    val sigs = df.select(col(idCol).as("id"),
        SimHash64.simhash64(TextAnalysis.tokens(col(textCol))).as("sig"))
      .cache()
    try hammingBandPairs(sigs, maxHamming, tables, maxBucket).localCheckpoint(true)
    finally sigs.unpersist()
  }

  /** Banded Hamming near-dup pairs over any 64-bit signature table
    * (`sigs` must carry `id` and `sig`): candidates from matching any
    * of `tables` (64/tables)-bit sub-bands — pigeonhole: <= maxHamming
    * differing bits guarantees a clean band when maxHamming < tables —
    * verified by exact Hamming distance via builtin bit ops. The
    * shared engine behind text SimHash ([[simhashPairs]]) and image
    * perceptual hashes ([[Multimodal.phash]]).
    */
  def hammingBandPairs(sigs: DataFrame, maxHamming: Int, tables: Int,
                       maxBucket: Int): DataFrame = {
    require(64 % tables == 0, s"tables=$tables must divide 64")
    val bandBits = 64 / tables
    val mask = if (bandBits == 64) -1L else (1L << bandBits) - 1
    val bandArr = array((0 until tables).map(t =>
      struct(lit(t).as("band"),
        shiftrightunsigned(col("sig"), bandBits * t).bitwiseAND(lit(mask))
          .as("bkey"))): _*)
    val allBanded = sigs.select(col("id"), col("sig"),
        explode(bandArr).as("bb"))
      .select(col("id"), col("sig"),
        col("bb.band").as("band"), col("bb.bkey").as("bkey"))
    // skew guard: a band bucket of n members contributes n^2 candidate
    // pairs; on bag-similar corpora buckets go hot and the self-join
    // explodes. Cap bucket size (vocabulary-level boilerplate belongs to
    // exact dedup, which runs first in a real pipeline).
    val banded = allBanded.join(
      allBanded.groupBy("band", "bkey").agg(count(lit(1)).as("bn"))
        .filter(col("bn") <= maxBucket && col("bn") >= 2)
        .select("band", "bkey"),
      Seq("band", "bkey"), "left_semi")
    val cand = banded.as("a")
      .join(banded.as("b"),
        col("a.band") === col("b.band") && col("a.bkey") === col("b.bkey")
          && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.sig").as("sig_a"), col("b.sig").as("sig_b"))
      .dropDuplicates("id_a", "id_b")
    cand.withColumn("hamming",
        bit_count(col("sig_a").bitwiseXOR(col("sig_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact n-gram Jaccard similarity join with prefix filtering (the
    * All-Pairs / PPJoin candidate scheme): order every doc's distinct
    * shingles by (global doc-frequency asc, shingle asc) — rarest
    * first — and index only the first |x| - ceil(t*|x|) + 1 of them.
    * PPJoin Lemma 1: any pair with Jaccard >= t must share at least one
    * shingle inside BOTH prefixes, so joining prefix-against-prefix is
    * candidate-complete; exact Jaccard on the candidates makes the
    * result identical to the naive all-pairs join (oracle-checked).
    *
    * Scale shape: hot boilerplate shingles have high doc-frequency, so
    * the ordering pushes them out of every prefix — the quadratic
    * blow-up on common shingles disappears structurally instead of via
    * a recall-losing frequency cutoff. Plan: one groupBy for the
    * frequency table, one window over the inverted index (keyed by
    * doc), one prefix-on-prefix shuffle join, two hash joins to bring
    * the shingle sets back for verification.
    *
    * Feasibility contract (measured, round-12 sf10 sweep): an EXACT
    * all-pairs Jaccard join is Ω(true-pair output), and its verify
    * irreducibly moves pairs × both hashed shingle sets through the
    * attach join — under g-fold near-duplication the output itself is
    * g²-sized per cluster, so total verify volume ≈ pairs × ~1.6 KB.
    * Plan for that spill (5M docs at 100-fold duplication ≈ 430 GB);
    * when the duplication density makes it infeasible, the scale path
    * is the budgeted LSH ([[minhashLshBudgeted]]) + closure, which
    * handles the same corpus in minutes. Green at sf1/sf3 where the
    * output fits (rounds 8-9).
    *
    * The pairs come back EAGER, as a local checkpoint, so the cached
    * shingle sets are released on every path, failures included.
    */
  def ngramJaccardJoin(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, threshold: Double = 0.5): DataFrame = {
    // shingles are 64-bit-hashed immediately: every downstream shuffle
    // (inverted index, prefix join, verify) moves 8-byte longs instead
    // of ~n-word strings, and set intersection runs on longs. A within-
    // pair hash collision would need two distinct shingles of the same
    // two docs to collide in 64 bits (~1e-16 per pair) — the DuckDB
    // oracle computes on raw strings, so the gate would catch it.
    val sh = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(TextAnalysis.shinglesOf(col("toks"), shingleN))
          .as("shs"))
      // hashed shingle sets are stored SORTED: the exact-verify stage
      // can then intersect via the SortedIntersect merge kernel (one
      // branch-predictable scan per pair) instead of array_intersect's
      // per-row hash set — the q58 kernel reused on the dedup verify.
      // Sorting costs n log n once per doc on the cached table.
      .select(col("id"),
        sort_array(transform(col("shs"), s => xxhash64(s))).as("sh"))
      .withColumn("setSize", size(col("sh")))
      .cache()
    try {
      val inv = sh.select(col("id"), col("setSize"),
          explode(col("sh")).as("shingle"))
      val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("dfreq"), col("shingle"))
      // Float-safety: both bounds below compare an integer against a
      // real-valued product. A double product that rounds 1 ulp ABOVE an
      // exact integer would (via ceil) shorten the prefix / over-tighten
      // the overlap bound and silently drop boundary true pairs (e.g.
      // thresholds like 0.3 where t*|A| lands on an integer). Nudging
      // each product DOWN by eps makes the boundary inclusive: at worst
      // a few extra candidates survive, and the exact verify stage
      // removes them — completeness is never at risk.
      val eps = 1e-9
      val pre = inv.join(dfreq, Seq("shingle"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <=
          col("setSize") - ceil(col("setSize") * threshold - eps) + 1)
        .select("id", "shingle", "rn", "setSize")
      // positional filter (PPJoin): at the earliest common prefix shingle
      // (position p in A, q in B) the overlap is at most
      // 1 + min(|A|-p, |B|-q); prune pairs that can't reach the overlap
      // a Jaccard >= t requires, I >= ceil(t/(1+t) * (|A|+|B|)). True
      // pairs always pass at their earliest common shingle, so this cuts
      // candidates without losing completeness. (bound+1 is an integer,
      // so int >= ceil(x) <=> int >= x; comparing against x - eps
      // directly skips the ceil and its rounding hazard.)
      //
      // Duplication note, measured at the sf3 stress (30x sf0.1): under
      // g-fold near-duplication the prefix shingles of a g-sized
      // cluster all carry dfreq ~ g, so the prefix join emits ~g²
      // candidates per base pair — 107.6M candidates at 150k docs. That
      // is IRREDUCIBLE for an exact join (the true-pair output itself
      // is g²-sized); what must not happen is each of those candidates
      // dragging its two shingle arrays through a shuffle, which is why
      // the verify below goes through [[attachSets]] (slim 16-byte
      // pairs shuffle; arrays ride a broadcast while the corpus-linear
      // sets table fits, shuffle joins beyond). A prefix-GROUP collapse
      // (dedupe docs by identical prefix set before the join) was tried
      // here and measured a no-op: each generated near-dup carries a
      // few globally-unique mutated shingles that sort to the FRONT of
      // its df-ascending prefix, so 149,760 of 150,000 prefix sets were
      // distinct — real mutation-style duplication defeats it.
      val overlapFrac = threshold / (1 + threshold)
      val cand = pre.as("a")
        .join(pre.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
        .filter(
          least(col("a.setSize") - col("a.rn"), col("b.setSize") - col("b.rn"))
            + 1 >= (col("a.setSize") + col("b.setSize")) * overlapFrac - eps)
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      graft.functions.SortedIntersect.register(df.sparkSession)
      attachSets(cand, sh.select(col("id"), col("sh")), "id_a", "id_b")
        .withColumn("inter",
          size(graft.functions.SortedIntersect
            .intersectFast(col("sh_a"), col("sh_b"))))
        .withColumn("jaccard",
          col("inter").cast("double") /
            (size(col("sh_a")) + size(col("sh_b")) - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
        .dropDuplicates("id_a", "id_b")
        .localCheckpoint(true)
    } finally sh.unpersist()
  }

  /** Asymmetric CONTAINMENT join: pairs (a, b) where at least
    * `threshold` of a's distinct shingles also appear in b — the
    * sub-document/quote-detection operator (t = 1.0 is exact "a is a
    * shingle-subset of b"), the asymmetric sibling of
    * [[ngramJaccardJoin]]'s symmetric Jaccard.
    *
    * Candidate scheme: the contained side indexes only its PPJoin-style
    * prefix — the first |A| - ceil(t*|A|) + 1 shingles in (global
    * doc-frequency asc, shingle asc) order; pigeonhole: overlap >=
    * ceil(t*|A|) forces at least one shared shingle into that prefix.
    * The CONTAINER side must index its full shingle set (any doc can
    * quote any other), which is the inherent cost of containment — but
    * the join fan-out per shingle is prefixFreq(s) * fullFreq(s), and
    * the df-asc prefix ordering keeps prefixFreq ~ 0 exactly for the
    * hot shingles where fullFreq is large, so no hot key explodes. The
    * positional filter prunes candidates that can't reach the required
    * overlap; exact verification on the hashed sets makes the result
    * identical to the naive all-pairs join (oracle-gated as d26). Same
    * eps-nudged float-safe bounds as [[ngramJaccardJoin]], and the same
    * eager, checkpointed result.
    */
  def containmentJoin(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int = 3, threshold: Double = 0.8): DataFrame = {
    val sh = df.select(col(idCol).as("id"),
        TextAnalysis.tokens(col(textCol)).as("toks"))
      .select(col("id"),
        array_distinct(TextAnalysis.shinglesOf(col("toks"), shingleN))
          .as("shs"))
      // sorted hashed sets, same reason as [[ngramJaccardJoin]]: the
      // verify intersect runs on the SortedIntersect merge kernel
      .select(col("id"),
        sort_array(transform(col("shs"), s => xxhash64(s))).as("sh"))
      .withColumn("setSize", size(col("sh")))
      .cache()
    try {
      val inv = sh.select(col("id"), col("setSize"),
        explode(col("sh")).as("shingle"))
      val dfreq = inv.groupBy("shingle").agg(count(lit(1)).as("dfreq"))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id").orderBy(col("dfreq"), col("shingle"))
      val ranked = inv.join(dfreq, Seq("shingle"))
        .withColumn("rn", row_number().over(w))
        .select("id", "shingle", "rn", "setSize")
      val eps = 1e-9
      val pre = ranked.filter(col("rn") <=
        col("setSize") - ceil(col("setSize") * threshold - eps) + 1)
      // overlap needed: I >= ceil(t*|A|); at the earliest common shingle
      // (rank p in A, q in B) at most 1 + min(|A|-p, |B|-q) overlap
      // remains — true pairs always pass there (int >= ceil(x) <=>
      // int >= x, compared against x - eps to dodge the rounding hazard)
      val cand = pre.as("a")
        .join(ranked.as("b"),
          col("a.shingle") === col("b.shingle") && col("a.id") =!= col("b.id"))
        .filter(
          least(col("a.setSize") - col("a.rn"), col("b.setSize") - col("b.rn"))
            + 1 >= col("a.setSize") * threshold - eps)
        .select(col("a.id").as("id_in"), col("b.id").as("id_of"))
      graft.functions.SortedIntersect.register(df.sparkSession)
      attachSets(cand, sh.select(col("id"), col("sh")), "id_in", "id_of")
        .withColumn("inter",
          size(graft.functions.SortedIntersect
            .intersectFast(col("sh_a"), col("sh_b"))))
        .withColumn("containment",
          col("inter").cast("double") / size(col("sh_a")))
        .filter(col("containment") >= threshold)
        .select("id_in", "id_of", "containment")
        .dropDuplicates("id_in", "id_of")
        .localCheckpoint(true)
    } finally sh.unpersist()
  }

  /** C4-style span-level dedup (Raffel et al. 2020, arXiv:1910.10683
    * §2.2 — "we removed all but one of any three-sentence span
    * occurring more than once"): documents are cut into consecutive
    * `chunkTokens`-token spans, every span text that occurs more than
    * once corpus-wide keeps only its globally-first occurrence
    * (ordered by (id, span index)), and surviving spans are
    * reassembled in order. The harness corpus has no sentence/line
    * structure, so spans are fixed token windows.
    *
    * Scale shape: the dedup key is the span text — and boilerplate
    * spans (the reason this operator exists) are by definition HOT
    * keys, present in nearly every document. The keeper is therefore
    * chosen with `groupBy(span).agg(min(struct(id, idx)))`, which
    * partial-aggregates map-side and collapses a million-document
    * boilerplate key to one row per map task — a window over
    * `partitionBy(span)` would instead sort the entire corpus-wide
    * occurrence list of the hottest span in a single task. Reassembly
    * groups by doc id (uniform key), sorting each doc's surviving
    * spans locally.
    */
  /** Entity-resolution pair join: all pairs of rows whose `strCol`
    * values are within Levenshtein distance 1, via FastSS-style
    * deletion-neighborhood blocking (Bocek et al., "Fast Similarity
    * Search in Large Dictionaries", 2007 — public technique). Each
    * string emits itself plus every single-character deletion as a
    * block key; two strings within edit distance 1 (one substitution =
    * same-position deletions collide; one insert/delete = the shorter
    * string IS a deletion of the longer) necessarily share a key, so
    * candidates come from same-key buckets only and the exact
    * `levenshtein` check runs per CANDIDATE, never per cross pair —
    * the O(n^2) all-pairs scan a naive fuzzy join would do (and which
    * the DuckDB oracle deliberately does at verify scale).
    *
    * Scale shape: one narrow projection emits |s|+1 8-byte xxhash64'd
    * keys per row, one key-hashed shuffle self-join over buckets
    * (bucket sizes are alphabet-bounded per position), distinct on the
    * id pair, then the verifying levenshtein filter. Output:
    * `(a_id, b_id, dist)` with a_id < b_id. Null-keyed rows are
    * excluded (a null string matches nothing, by policy — stated here
    * rather than inherited from join null semantics). Hash-collision
    * note: a 64-bit key collision only ever ADDS a candidate, which
    * the exact verify then drops — never a lost pair. The pairs come
    * back EAGER, as a local checkpoint, so the two cached tables are
    * released on every path.
    */
  def editDistance1Join(df: DataFrame, idCol: String,
                        strCol: String): DataFrame = {
    val rows = df
      .select(col(idCol).as("id"), col(strCol).as("s"))
      .filter(col("s").isNotNull)
      .cache()
    // FastSS runs on DISTINCT strings, not rows: duplicated strings
    // (10 copies of a corpus ⇒ every name 10x) would otherwise deepen
    // every deletion-variant bucket by the duplication factor d and
    // blow the candidate join up d^2-fold for pairs the verify stage
    // re-proves d^2 times. On distinct strings the bucket work is
    // duplication-invariant; the d^2 growth moves entirely into the
    // two cheap id-expansion hash joins below, whose output is the
    // legitimately-quadratic part of the ANSWER (caught by the sf1
    // full-suite run: 10x data with shared names was 19x wall).
    val strs = rows.select("s").distinct()
    val keyed = strs
      .select(col("s"),
        explode(array_distinct(concat(
          array(col("s")),
          when(length(col("s")) > 0,
            transform(sequence(lit(0), length(col("s")) - 1), i =>
              concat(col("s").substr(lit(1), i),
                col("s").substr(i + 2, length(col("s"))))))
            .otherwise(array().cast("array<string>"))))).as("v"))
      .select(col("s"), xxhash64(col("v")).as("k"))
      .cache() // feeds BOTH join sides — halves the variant generation
    try {
      val a = keyed.select(col("k"), col("s").as("a_s"))
      val b = keyed.select(col("k"), col("s").as("b_s"))
      // verify BEFORE distinct, with the THRESHOLDED levenshtein (banded
      // O(len * k) DP, -1 past the bound — ~10x the full-matrix form on
      // long-ish strings), so the distinct shuffle carries only the
      // surviving (a_s, b_s, dist) string pairs — never the unverified
      // candidate multiset. Distinct strings differ, so dist here is
      // exactly 1; dist-0 pairs are the identical-string groups below.
      val strPairs = a.join(b, Seq("k"))
        .filter(col("a_s") < col("b_s"))
        .withColumn("dist", levenshtein(col("a_s"), col("b_s"), 1))
        .filter(col("dist") >= 0)
        .select("a_s", "b_s", "dist").distinct()
      // expansion to id pairs: dist-1 string pairs fan out to their id
      // groups (disjoint groups — normalize by id order), and identical
      // strings pair all their ids at dist 0
      val inter = strPairs
        .join(rows.select(col("s").as("a_s"), col("id").as("x")), Seq("a_s"))
        .join(rows.select(col("s").as("b_s"), col("id").as("y")), Seq("b_s"))
        .select(least(col("x"), col("y")).as("a_id"),
          greatest(col("x"), col("y")).as("b_id"), col("dist"))
      val intra = rows.select(col("s"), col("id").as("x"))
        .join(rows.select(col("s"), col("id").as("y")), Seq("s"))
        .filter(col("x") < col("y"))
        .select(col("x").as("a_id"), col("y").as("b_id"),
          lit(0).as("dist"))
      inter.unionByName(intra).localCheckpoint(true)
    } finally {
      keyed.unpersist()
      rows.unpersist()
    }
  }

  def chunkDedup(df: DataFrame, idCol: String, textCol: String,
                 chunkTokens: Int = 10): DataFrame = {
    val k = chunkTokens
    val toks = df.select(col(idCol).as("id"),
      TextAnalysis.tokens(col(textCol)).as("toks"))
    // spans: ceil(n/k) windows of k tokens (last may be short); empty
    // docs produce no span rows and are restored by the left join below
    val spans = toks.filter(size(col("toks")) > 0)
      .select(col("id"),
        posexplode(transform(
          sequence(lit(0),
            ceil(size(col("toks")).cast("double") / k).cast("int") - 1),
          i => concat_ws(" ", slice(col("toks"), i * k + 1, lit(k))))))
      .toDF("id", "idx", "span")
    val keeper = spans.groupBy("span")
      .agg(min(struct(col("id"), col("idx"))).as("keep"),
        count(lit(1)).as("n_occ"))
    val marked = spans.join(keeper, Seq("span"))
      .withColumn("kept",
        col("n_occ") === 1 || struct(col("id"), col("idx")) === col("keep"))
    val perDoc = marked.groupBy("id").agg(
      count(lit(1)).as("n_spans"),
      sum(when(col("kept"), 1L).otherwise(0L)).as("n_kept"),
      array_join(transform(
        array_sort(collect_list(when(col("kept"),
          struct(col("idx"), col("span"))))),
        s => s.getField("span")), " ").as("text_clean"))
    df.select(col(idCol).as("id")).distinct()
      .join(perDoc, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Broadcast-Bloom decontamination: given corpus rows keyed by a
    * 64-bit content hash `hCol` and a contaminated reference keyed the
    * same way, return the ids whose key set shares NOTHING with the
    * reference — semantically an exact anti-join, executed as a Bloom
    * prefilter + exact verify.
    *
    * Scale shape: the reference side is reduced to a Bloom sketch
    * (`DataFrameStatFunctions.bloomFilter` — built by a Spark
    * aggregate, never collected row-wise) that ships to every scan
    * task; the corpus side is filtered by the sketch BEFORE any
    * shuffle, so the overwhelmingly-clean majority of a 100 TB corpus
    * never leaves its scan task. Bloom false positives are removed by
    * an exact semi-join of the (tiny) candidate set against the
    * reference; false negatives are impossible — the result is EXACTLY
    * the anti-join (oracle-gated as d24) at a fraction of its shuffle
    * volume. The probe is the one deliberate UDF in the engine: Spark
    * exposes no Column-level might_contain, and a non-codegen probe on
    * the narrow prefilter path beats shuffling the clean majority.
    */
  def bloomClean(rows: DataFrame, idCol: String, hCol: String,
                 dirty: DataFrame, dirtyHCol: String,
                 expectedItems: Long = 1000000L,
                 fpp: Double = 0.01): DataFrame = {
    val bf = dirty.stat.bloomFilter(dirtyHCol, expectedItems, fpp)
    // boxed-arg UDF with an explicit null policy: a NULL key is CLEAN
    // by definition — in the reference anti-join formulation a null
    // never equals any dirty hash, so the row is kept; the guard makes
    // that explicit instead of relying on Spark's primitive-arg
    // null-skip producing the same outcome silently
    val might = udf((h: java.lang.Long) =>
      h != null && bf.mightContainLong(h))
    val confirmed = rows.filter(might(col(hCol)))
      .join(dirty.select(col(dirtyHCol).as(hCol)).distinct(),
        Seq(hCol), "left_semi")
      .select(col(idCol)).distinct()
    rows.select(col(idCol)).distinct()
      .join(confirmed, Seq(idCol), "left_anti")
  }

  /** Connected components over a near-duplicate PAIR list — the
    * "pairs → clusters" closure every real dedup pipeline needs before
    * it can pick one keeper per group (pairs alone can't: near-dup is
    * not transitive, clusters are). Delegates to
    * [[Graph.connectedComponents]], which serves both the dedup
    * closure (d15/d25) and the graph family (q84): a pair list of at
    * most [[Graph.MaxLocalEdges]] distinct edges is closed by
    * union-find on the driver from one bounded collect and comes back
    * as a local DataFrame sorted by `id`; a longer one runs the
    * O(log n)-round large-star/small-star kernel. Both sides give
    * each node its component's minimum id.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
                          maxIter: Int = 20): DataFrame =
    Graph.connectedComponents(pairs, aCol, bCol, maxIter)
}
