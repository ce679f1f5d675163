package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.ops.{Dedup, TextAnalysis}

/** The composed end-to-end corpus pipeline (p01/p02): every curation
  * stage the d-family proves in isolation, chained in ONE DAG the way a
  * real pretraining-data run executes it. The reference itself is a
  * staged pipeline (README.md:12 — ingest, encode, fit, predict,
  * bootstrap, report as one script), and the round-8 verdict's top
  * item asked for exactly this composition proof: 209 point-proofs do
  * not establish that the operators COMPOSE — shared scans, cache
  * placement at stage boundaries, and survivor-set handoffs are new
  * surface that only an end-to-end entry exercises.
  *
  * Stages (all over `documents` at the given SF dir):
  *
  *   0. ingest + fixture: corpus ∪ exact copies ∪ near-dup mutants ∪
  *      planted benchmark leaks (src0 truncations under a foreign
  *      source), ids offset by a max-key-derived stride — NEVER a
  *      fixed constant (GenScale strides real ids by 1M per copy, so
  *      constants collide at generated scale; same contract as
  *      RelQueries.insertOffset).
  *   1. clean (d11): deterministic markup/PII injection, then
  *      stripHtml → maskUrls → maskEmails → collapseWhitespace. The
  *      injected junk is id-dependent but masks to typed placeholders,
  *      so an exact copy still cleans to its original's exact text.
  *   2. exact dedup (d01): md5-of-normalized fingerprint, keeper =
  *      min id per fingerprint. Collapses the planted copies.
  *   3. fuzzy dedup (d09/d25): 3-gram-Jaccard pairs at 0.5 via the
  *      prefix-filtered PPJoin, large-star/small-star closure, one
  *      keeper per cluster by (quality desc, id asc). Collapses the
  *      mutants. The injected boilerplate suffix makes a few shingles
  *      corpus-universal — exactly the hot-key regime real crawls have;
  *      the PPJoin prefix order (ascending document frequency) keeps
  *      those out of the candidate keys.
  *   4. decontaminate (d16/d36): benchmark = 3-gram shingle hashes of
  *      the cleaned src0 ORIGINALS (from stage 1, independent of
  *      survival — a leak must be caught even when it out-ranked its
  *      source at stage 3); a corpus doc is dirty iff half+ of its
  *      distinct shingles appear in the benchmark (integer rule,
  *      2*n_shared >= n_sh). The src0 split itself leaves the corpus
  *      here (it IS the benchmark). Catches the planted leaks.
  *   5. quality gate (d12): composite score >= 0.5 on the 6-dp-rounded
  *      value (rounded comparison so a last-ulp divergence between
  *      engines cannot flip the gate).
  *   6. tokenize + pack (d23): concat-and-chunk packing into
  *      capacity-256 sequences across 8 content-keyed shards.
  *
  * p01 emits the final per-document pack coordinates — any doc wrongly
  * kept or dropped at ANY stage shifts every later offset in its
  * shard, so the hash gate covers the whole chain, not just the tail.
  * p02 emits the stage funnel (docs + tokens surviving each stage).
  *
  * Scale shape: stage 1 is a narrow codegen'd projection; stage 2 a
  * map-side-combinable hash-groupBy; stage 3 the audited PPJoin +
  * O(log n)-round CC kernels; stage 4 broadcasts only the benchmark
  * (benchmarks are small by nature) against slim (id, md5) pairs;
  * stage 6 shuffles once keyed by shard. Cache placement at the stage
  * boundaries every multi-consumer handoff crosses: `cleaned` feeds
  * stages 2/3-quality/4-bench/6, `surv1` feeds the pair join and the
  * unclustered anti-join, `quality` feeds the keeper window, the gate,
  * and the final projection. Uncached, the corpus would re-clean and
  * re-tokenize once per consumer — the composed run must beat the sum
  * of its standalone stages, and those shared scans are where it wins.
  */
object PipelineQueries {

  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables(s, dir, "documents")

  /** Intermediate stage outputs; survivor frames are slim id lists.
    * `lshBudget` is the fuzzy stage's truncation report — band
    * buckets that exceeded [[LshBucketBudget]] (empty on an honest
    * corpus; the p02 funnel surfaces its count so a triggered budget
    * is NEVER silent).
    */
  private[graft] final case class Stages(
    cleaned: DataFrame, surv1: DataFrame, surv2: DataFrame,
    surv3: DataFrame, surv4: DataFrame, quality: DataFrame,
    packed: DataFrame, lshBudget: DataFrame)

  /** Hot-bucket budget for the chain's MinHash-LSH stage: one
    * boilerplate cluster holding ~10% of a real crawl would emit
    * g²/2 all-pairs candidates from a single band bucket; over this
    * size the bucket switches to O(g) min-id star candidates
    * (connectivity preserved — the closure still collapses the
    * cluster; see [[graft.ops.Dedup.minhashLsh]]). 4096 keeps every
    * honest bucket at sf0.01-sf3 in the exact regime (largest
    * observed: ~600 at the sf3 ×30-duplication stress) while bounding
    * any one bucket's candidates to 8.4M pairs. The ORACLE replays
    * the same rule, so a planted giant cluster stays hash-matched.
    */
  private[graft] val LshBucketBudget: Int =
    // A/B hook for the budget-insurance cost measurement (round-11
    // verdict item: same-window sf3 on/off): Int.MaxValue disables
    // the budget (exact all-pairs in every bucket), anything else
    // overrides the cap. Unset = the production constant.
    sys.env.get("SPARK_GRAFT_LSH_BUDGET").map(_.toInt).getOrElse(4096)

  /** p04's test-sized budget: small enough that its planted 150-doc
    * boilerplate cluster (a fixed-size fixture, so the entry stays
    * cheap at every SF) overflows it — the budget's TRIGGERED path is
    * oracle-gated at every verify run, not just at a manual sf1
    * stress. [[LshBucketBudget]] stays the production constant; the
    * two share every line of code and SQL except the literal.
    */
  private[graft] val SkewTestCap = 64

  /** Max-key-derived id stride for the planted copies (the
    * insertOffset contract: SF-proof, replayed as the identical
    * integer arithmetic in the oracle).
    */
  private def strideOf(base: DataFrame): Long =
    (base.agg(max(col("doc_id"))).head().getLong(0) / 1000000L + 1L) *
      1000000L

  private[graft] def chain(s: SparkSession, dir: String): Stages = {
    val base = docs(s, dir).select(col("doc_id"), col("source"),
      col("text"))
    val off = strideOf(base)
    val toks = base.withColumn("toks", TextAnalysis.tokens(col("text")))
    // planted work for each stage: exact copies (stage 2), drop-2nd-
    // token mutants (stage 3), 30-token src0 truncations under a
    // foreign source — the "benchmark text embedded in a crawl"
    // scenario (stage 4)
    val exactCopies = base.select((col("doc_id") + off).as("doc_id"),
      col("source"), col("text"))
    val mutants = toks.select((col("doc_id") + 2 * off).as("doc_id"),
      col("source"),
      concat_ws(" ", filter(col("toks"), (t, i) => i =!= 1)).as("text"))
    val leaks = toks.filter(col("source") === "src0")
      .select((col("doc_id") + 3 * off).as("doc_id"),
        lit("leak").as("source"),
        concat_ws(" ", slice(col("toks"), 1, 30)).as("text"))
    // fanOut on the UNION (not the scan): the whole chain's map work
    // (clean/tokenize/shingle/minhash) sits above corpus0, and
    // `cleaned` is cached with corpus0's partitioning — unfanned, the
    // cache is ~4 single-file partitions and every consumer runs
    // near-serial; fanning each scan instead would multiply partitions
    // x4 through the union and re-exchange every branch (measured
    // +3s on p01). No-op at real scale (Tables.fanOut scaladoc).
    val corpus0 = graft.Tables.fanOut(
      base.unionByName(exactCopies).unionByName(mutants)
        .unionByName(leaks))

    // stage 1: deterministic dirt (d11's recipe), then the cleaning
    // chain. CACHED: consumed by stages 2, 3 (quality), 4 (bench +
    // corpus shingles), 6 (packing) — the single biggest shared scan.
    val dirty = concat(lit("<p class=\"doc\">"), col("text"),
      lit("</p> <br/>contact u"), col("doc_id").cast("string"),
      lit("@example.com or https://data.example.org/d/"),
      col("doc_id").cast("string"), lit("?ref=x"))
    val cleaned = corpus0.select(col("doc_id"), col("source"),
      TextAnalysis.cleanText(dirty).as("clean")).cache()
    // eager fill (the q58/Graph lesson): the first consuming job scans
    // `cleaned` from several independent stages at once (fingerprint
    // dedup + the LSH signature chain + quality) — cold, those stages
    // race and each recomputes the cleaning pipeline; one parallel
    // pass fills the cache once
    cleaned.count()

    // stage 2: exact dedup — keeper = min id per content fingerprint
    val surv1Ids = cleaned
      .withColumn("fp", TextAnalysis.fingerprint(col("clean")))
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    val surv1 = cleaned.join(surv1Ids, Seq("doc_id"), "left_semi")
      .cache()

    // stage 3: fuzzy dedup — pairs -> closure -> per-cluster keeper.
    // MinHash-LSH (d07's config), NOT the exact prefix-filtered
    // jaccard join: this harness corpus draws from a deliberately
    // tiny vocabulary, so at duplication stress (GenScale ×30) every
    // 3-gram is globally common (prefix-group sizes ~600) and the
    // exact join's candidate space measured 3.69 BILLION rows — the
    // sets table simultaneously outgrows the attachSets broadcast
    // cap, and the shuffle-regime candidate exchange dies on disk.
    // LSH candidates are similarity-targeted by band collisions
    // (cluster-quadratic, ~9.6M pairs at sf3 — the scale-proven d07
    // path), which is also the honest 100-TB answer: production
    // fuzzy dedup at corpus scale IS MinHash-LSH, with the exact
    // join reserved for prefix-friendly (zipfian) vocabularies.
    // Exact verify still gates every candidate, and the oracle
    // replays the full signature/band machinery bit-for-bit.
    // quality is computed over ALL cleaned docs (the gate at stage 5
    // and the final projection reuse it), rounded to 6 dp so the
    // keeper ranking and the gate replay exactly.
    val (pairs, lshBudget) = Dedup.minhashLshBudgeted(surv1, "doc_id",
      "clean", shingleN = 3, numHashes = 32, bands = 8, threshold = 0.5,
      maxBucketSize = LshBucketBudget)
    val labels = Dedup.connectedComponents(pairs, "id_a", "id_b")
      .select(col("id").as("doc_id"), col("comp").as("cluster"))
    val quality = cleaned
      .select(col("doc_id"), col("clean"),
        TextAnalysis.tokens(lower(col("clean"))).as("ltoks"))
      .select(col("doc_id"),
        round(TextAnalysis.qualityScoreOf(col("ltoks"), col("clean")), 6)
          .as("q"))
      .cache()
    val w = Window.partitionBy("cluster")
      .orderBy(col("q").desc, col("doc_id"))
    val keepers = labels.join(quality, Seq("doc_id"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1).select("doc_id")
    // survivor id-lists are CACHED too: they're tiny (one long per
    // doc) but sit downstream of the pair join + CC closure — p02's
    // funnel reads each one several times, and uncached every read
    // re-runs the closure
    val surv2 = surv1.select("doc_id")
      .join(labels, Seq("doc_id"), "left_anti")
      .unionByName(keepers)
      .cache()

    // stage 4: decontamination. Benchmark shingles come from the
    // cleaned src0 ORIGINALS (id < off — safe here because off is
    // max-key-derived), NOT from the survivor set: the reference set
    // is external to corpus processing. Only 16-byte (id, md5) pairs
    // shuffle; the benchmark side is broadcast (d16's shape).
    def mdShingles(df: DataFrame): DataFrame = df
      .select(col("doc_id"), TextAnalysis.tokens(col("clean")).as("tk"))
      .select(col("doc_id"),
        explode(array_distinct(TextAnalysis.shinglesOf(col("tk"), 3)))
          .as("s"))
      .select(col("doc_id"), md5(col("s").cast("binary")).as("h"))
    val bench = mdShingles(
      cleaned.filter(col("source") === "src0" && col("doc_id") < off))
      .select("h").distinct()
    val corpusSide = cleaned.join(surv2, Seq("doc_id"), "left_semi")
      .filter(col("source") =!= "src0")
    val csh = mdShingles(corpusSide)
    val tot = csh.groupBy("doc_id").agg(count(lit(1)).as("n_sh"))
    val shr = csh.join(broadcast(bench), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_shared"))
    val surv3 = tot.join(shr, Seq("doc_id"), "left")
      .filter(coalesce(col("n_shared"), lit(0L)) * 2 < col("n_sh"))
      .select("doc_id")
      .cache()

    // stage 5: quality gate on the rounded score
    val surv4 = surv3.join(quality, Seq("doc_id"))
      .filter(col("q") >= 0.5).select("doc_id")
      .cache()

    // stage 6: tokenize + pack the curated corpus
    val corpusFinal = cleaned.join(surv4, Seq("doc_id"), "left_semi")
    val packed = TextAnalysis.packSequences(corpusFinal, "doc_id",
      "clean", capacity = 256, shards = 8)

    Stages(cleaned, surv1, surv2, surv3, surv4, quality, packed,
      lshBudget)
  }

  /** Build-once fixture for p03 (one per JVM × dataset): the
    * INCREMENTAL curation loop a production corpus runs daily —
    * batch A (even ids) is curated (fingerprint dedup + quality gate)
    * and committed as v1 of a Versioned corpus table alongside its
    * fingerprint store; batch B (odd ids) then ingests
    * incrementally — in-batch fp dedup (min id per fp), anti-join
    * against the STORE (never the corpus scan: the d27 shape), the
    * same quality gate — and commits as v2 via the net-new-key merge.
    * Only batch-B work happens at ingest time; the v1 corpus is never
    * re-curated. Returns the table root.
    */
  private val incrCache =
    new scala.collection.concurrent.TrieMap[String, String]
  graft.Fixtures.onReset(() => incrCache.clear())

  private[graft] def incrRoot(s: SparkSession, dir: String): String =
    incrCache.getOrElseUpdate(dir, {
      import graft.sources.Versioned
      val key = (dir.hashCode.toLong & 0xffffffffL).toHexString
      // fixture-generation code changed this round (compacted cache +
      // eager fill): the `b` suffix retires any stale dir a killed JVM
      // left behind that older code built (ADVICE r14: a version check
      // alone can't tell WHICH code built the bytes)
      val root = graft.TempDirs.fixturePath(s"graft-p03-${key}b")
      if (!Versioned.hasVersion(root, 2)) {
        graft.TempDirs.registerCleanedAtExit(root)
        // fanOut the heavy scoring MAP (fingerprint/quality regex work
        // would otherwise run on one core over the single-row-group
        // scan) — but compact the SLIM scored table back to the scan's
        // natural partition count before caching: the fixture build +
        // incremental read run ~20 metadata-sized jobs over this cache,
        // and a core-count-partition cache made each schedule 32-96
        // tiny tasks (round-14's p03 regression, 4.2 -> 9.1 s and
        // 8 cores beating 32; see Tables.compactAfterFan). Eager fill
        // so the fanned compute runs once, in parallel, not inside the
        // first consumer.
        val raw = docs(s, dir)
        val natural = graft.Tables.naturalParts(raw)
        val base = graft.Tables.fanOut(raw)
        val off = strideOf(base)
        val scored = graft.Tables.compactAfterFan(
          base.select(col("doc_id"), col("source"), col("text"),
              TextAnalysis.fingerprint(col("text")).as("fp"),
              TextAnalysis.tokenCount(col("text")).cast("long")
                .as("n_tokens"),
              round(TextAnalysis.qualityScoreOf(
                TextAnalysis.tokens(lower(col("text"))), col("text")), 6)
                .as("q"))
            .drop("text"), natural)
          .cache()
        scored.count()
        val a = scored.filter(col("doc_id") % 2 === 0)
        val curatedA = a.filter(col("q") >= 0.5)
        Versioned.write(
          curatedA.select("doc_id", "source", "n_tokens", "q", "fp"),
          root, "doc_id", version = 1, nFiles = 4)
        // the fingerprint STORE is the accepted corpus's fp column —
        // batch B probes it, never the corpus itself
        val store = curatedA.select("fp").distinct()
        // batch B = the odd docs PLUS planted re-crawls of already-
        // ingested batch-A content under fresh ids (every tenth even
        // doc, twice — ids +off and +2·off, max-key-derived): the
        // in-batch min-id dedup must collapse the re-crawl twins and
        // the store probe must then drop the canonical survivor, or a
        // re-crawl would silently duplicate corpus content
        val reCrawls = (1 to 2).map(k =>
          scored.filter(col("doc_id") % 2 === 0
              && col("doc_id") % 10 === 0)
            .select((col("doc_id") + k * off).as("doc_id"),
              col("source"), col("fp"), col("n_tokens"), col("q")))
        val b = scored.filter(col("doc_id") % 2 === 1)
          .select("doc_id", "source", "fp", "n_tokens", "q")
          .unionByName(reCrawls(0)).unionByName(reCrawls(1))
        val bCanon = b.join(
          b.groupBy("fp").agg(min("doc_id").as("doc_id")),
          Seq("doc_id", "fp"), "left_semi")
        // the accepted-fp store is O(accepted corpus) — capped-
        // broadcast probe (Dedup.storeAntiJoin), never an
        // unconditional broadcast hint: at 100 TB the store is
        // billions of fps and a forced broadcast is a guaranteed OOM
        val bKeep = Dedup.storeAntiJoin(bCanon, store, "fp")
          .filter(col("q") >= 0.5)
        Versioned.merge(s, root, "doc_id", "op",
          bKeep.select(col("doc_id"), col("source"), col("n_tokens"),
            col("q"), col("fp"), lit("U").as("op")),
          fromVersion = 1, toVersion = 2)
        scored.unpersist()
      }
      root
    })

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // final pack coordinates per surviving doc — the whole-chain gate
    "p01_corpus_pipeline" -> ((s, dir) => {
      val st = chain(s, dir)
      st.packed
        .join(st.cleaned.select("doc_id", "source"), Seq("doc_id"))
        .join(st.quality, Seq("doc_id"))
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("shard"), col("tok_offset"), col("pack_first"),
          col("pack_last"), col("q"))
        .orderBy("doc_id")
    }),

    // the INCREMENTAL pipeline (p03): final curated corpus read back
    // through the versioned layer, each doc attributed to the commit
    // that ingested it via the CHANGE FEED — the oracle's two-phase
    // replay gates the store-probed dedup, the gate, the merge commit
    // AND the CDF in one equality (a wrong CDF row flips commit_v; a
    // wrong store probe adds/drops a doc).
    "p03_incremental_pipeline" -> ((s, dir) => {
      import graft.sources.Versioned
      val root = incrRoot(s, dir)
      val snap2 = Versioned.readAsOf(s, root, 2)
      val feed = Versioned.changeFeed(s, root, "doc_id", 1, 2)
        .filter(col("_change_type") === "insert")
        .select(col("doc_id"), lit(2).as("commit_v"))
      snap2.join(feed, Seq("doc_id"), "left")
        .select(col("doc_id"), col("source"), col("n_tokens"),
          col("q"), coalesce(col("commit_v"), lit(1)).as("commit_v"))
        .orderBy("doc_id")
    }),

    // the real-crawl hot-key regime, oracle-gated: ONE boilerplate
    // near-dup cluster (150 docs = long shared text + per-doc salt
    // token, so fingerprints DIFFER and exact dedup cannot collapse
    // it — it must survive to the fuzzy stage) floods its band
    // buckets past the test-sized budget. The entry proves the whole
    // budget path end-to-end: buckets overflow -> star candidates ->
    // exact verify -> the closure still collapses the giant component
    // to ONE cluster -> and the truncation is REPORTED (budgeted
    // bucket metrics are part of the output, equality-gated by the
    // oracle's replay of the same size/hub arithmetic).
    "p04_lsh_skew_budget" -> ((s, dir) => {
      val base = docs(s, dir).select(col("doc_id"), col("text"))
      val off = strideOf(base)
      val boiler = (0 until 200).map(i => "boiler" + i).mkString(" ")
      val cluster = s.range(0, 150)
        .select((col("id") + off).as("doc_id"),
          concat(lit(boiler), lit(" salt"), col("id").cast("string"))
            .as("text"))
      val corpus = base.unionByName(cluster)
      val (pairs, budget) = Dedup.minhashLshBudgeted(corpus, "doc_id",
        "text", shingleN = 3, numHashes = 32, bands = 8,
        threshold = 0.5, maxBucketSize = SkewTestCap)
      val comps = Dedup.connectedComponents(pairs, "id_a", "id_b")
        .groupBy("comp").agg(count(lit(1)).as("n")).cache()
      def metric(ord: Int, name: String, v: org.apache.spark.sql.Column,
                 src: DataFrame): DataFrame =
        src.agg(v.as("value"))
          .select(lit(ord).as("ord"), lit(name).as("metric"),
            col("value").cast("long").as("value"))
      metric(1, "budgeted_buckets", count(lit(1)), budget)
        .unionByName(metric(2, "budgeted_memberships",
          coalesce(sum("bsz"), lit(0L)), budget))
        .unionByName(metric(3, "verified_pairs", count(lit(1)), pairs))
        .unionByName(metric(4, "components", count(lit(1)), comps))
        .unionByName(metric(5, "max_component",
          coalesce(max("n"), lit(0L)), comps))
        .orderBy("ord")
    }),

    // the curation funnel: units (docs; packs at stage 6) + cleaned-
    // token volume surviving each stage
    "p02_pipeline_funnel" -> ((s, dir) => {
      val st = chain(s, dir)
      val tokc = st.cleaned.select(col("doc_id"),
        TextAnalysis.tokenCount(col("clean")).cast("long").as("nt"))
      def row(ord: Int, name: String, ids: DataFrame): DataFrame =
        ids.select("doc_id").join(tokc, Seq("doc_id"))
          .agg(count(lit(1)).as("n_units"), sum("nt").as("n_tokens"))
          .select(lit(ord).as("stage_ord"), lit(name).as("stage"),
            col("n_units"), col("n_tokens"))
      val packsRow = st.packed.groupBy("shard")
        .agg((max("pack_last") + 1).as("np"))
        .agg(sum("np").as("n_units"))
        .crossJoin(st.surv4.join(tokc, Seq("doc_id"))
          .agg(sum("nt").as("n_tokens")))
        .select(lit(6).as("stage_ord"), lit("packed").as("stage"),
          col("n_units"), col("n_tokens"))
      // the budget surfacing contract: a truncated fuzzy stage is
      // REPORTED in the funnel — n_units = buckets over budget,
      // n_tokens = their total band memberships (both 0 on an honest
      // corpus; nonzero means the star-candidate regime ran)
      val budgetRow = st.lshBudget
        .agg(count(lit(1)).as("n_units"),
          coalesce(sum("bsz"), lit(0L)).as("n_tokens"))
        .select(lit(7).as("stage_ord"),
          lit("lsh_budgeted_buckets").as("stage"),
          col("n_units"), col("n_tokens"))
      row(1, "ingest", st.cleaned)
        .unionByName(row(2, "exact_dedup", st.surv1))
        .unionByName(row(3, "fuzzy_dedup", st.surv2))
        .unionByName(row(4, "decontaminate", st.surv3))
        .unionByName(row(5, "quality_gate", st.surv4))
        .unionByName(packsRow)
        .unionByName(budgetRow)
        .orderBy("stage_ord")
    }))

  /** First 8 md5 hex digits of `expr` as a BIGINT (the engine-portable
    * integer hash; same helper as OpsQueries' d06/d07 oracles).
    */
  private def duckHex8(expr: String): String =
    s"""CAST(list_sum(list_transform(range(1, 9), i ->
               (strpos('0123456789abcdef',
                  substr(md5($expr), CAST(i AS INT), 1)) - 1)
               * CAST(power(16, 8 - i) AS BIGINT))) AS BIGINT)"""

  /** The d07 universal-hash coefficients as DuckDB array literals —
    * the oracle embeds the SAME (a_j, b_j) the engine plan uses.
    */
  private val (minhashA, minhashB) = {
    val (as, bs) = Dedup.minhashCoeffs(32)
    (as.mkString("[", ",", "]"), bs.mkString("[", ",", "]"))
  }
  private def MinhashA: String = minhashA
  private def MinhashB: String = minhashB

  /** Shared DuckDB replay of the full chain (stages 0-5 + packing
    * inputs); p01/p02 append their final SELECTs. Every fragment is a
    * proven piece of an existing green oracle (d11 clean, d01
    * fingerprint, d25 pairs+closure+quality, d36 integer contamination
    * rule, d23 packing) — composition is the new content.
    */
  private val chainSql = """
      WITH RECURSIVE
      base AS MATERIALIZED (SELECT doc_id, source, text FROM documents),
      off AS MATERIALIZED (SELECT (MAX(doc_id) // 1000000 + 1) * 1000000 AS o FROM base),
      tk0 AS MATERIALIZED (
        SELECT doc_id, source, text,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\s+') END AS toks
        FROM base),
      corpus0 AS (
        SELECT doc_id, source, text FROM base
        UNION ALL
        SELECT doc_id + (SELECT o FROM off), source, text FROM base
        UNION ALL
        SELECT doc_id + 2 * (SELECT o FROM off), source,
               array_to_string(list_filter(toks, (t, i) -> i <> 2), ' ')
        FROM tk0
        UNION ALL
        SELECT doc_id + 3 * (SELECT o FROM off), 'leak',
               array_to_string(toks[1:30], ' ')
        FROM tk0 WHERE source = 'src0'),
      cleaned AS MATERIALIZED (
        SELECT doc_id, source,
               trim(regexp_replace(
                 regexp_replace(
                   regexp_replace(
                     regexp_replace(
                       '<p class="doc">' || text || '</p> <br/>contact u'
                         || doc_id || '@example.com or '
                         || 'https://data.example.org/d/' || doc_id
                         || '?ref=x',
                       '<[^>]+>', ' ', 'g'),
                     'https?://[^\s]+', '<URL>', 'g'),
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '<EMAIL>', 'g'),
                 '\s+', ' ', 'g')) AS clean
        FROM corpus0),
      fp AS (
        SELECT doc_id,
               md5(trim(regexp_replace(regexp_replace(lower(clean),
                 '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp
        FROM cleaned),
      surv1 AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM fp GROUP BY fp),
      t1 AS (
        SELECT c.doc_id,
               CASE WHEN trim(c.clean) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(c.clean), '\s+') END
                 AS toks
        FROM cleaned c JOIN surv1 USING (doc_id)),
      sh AS MATERIALIZED (
        SELECT doc_id, list_distinct(
                 CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(1, len(toks) - 1), i ->
                             array_to_string(
                               toks[CAST(i AS INT):CAST(i + 2 AS INT)],
                               ' '))
                 END) AS sh
        FROM t1),
      hs AS MATERIALIZED (
        SELECT doc_id, list_transform(sh, s ->
          """ + duckHex8("s") + """ % 2147483647) AS hs
        FROM sh),
      coef AS MATERIALIZED (
        SELECT CAST(i AS INT) - 1 AS j,
               (""" + MinhashA + """::BIGINT[])[CAST(i AS INT)] AS a,
               (""" + MinhashB + """::BIGINT[])[CAST(i AS INT)] AS b
        FROM range(1, 33) t(i)),
      hx AS MATERIALIZED (SELECT doc_id, unnest(hs) AS h FROM hs),
      sigx AS MATERIALIZED (
        SELECT doc_id, j, MIN((c.a * h + c.b) % 2147483647) AS m
        FROM hx CROSS JOIN coef c GROUP BY doc_id, j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(m ORDER BY j) AS sig FROM sigx
        GROUP BY doc_id),
      bb AS MATERIALIZED (
        SELECT doc_id, band,
               substring(md5(array_to_string(list_transform(
                 sig[CAST(band * 4 + 1 AS INT):CAST(band * 4 + 4 AS INT)],
                 x -> CAST(x AS VARCHAR)), ',')), 1, 16) AS bhash
        FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bands),
      bsz AS MATERIALIZED (
        SELECT band, bhash, COUNT(*) AS bsz, MIN(doc_id) AS hub
        FROM bb GROUP BY band, bhash),
      cnd AS (
        -- explicit DISTINCT over UNION ALL: inside a WITH RECURSIVE
        -- clause DuckDB 1.0 does NOT deduplicate a plain UNION in a
        -- non-recursive CTE (minimal repro: WITH RECURSIVE x AS
        -- (SELECT 1 UNION SELECT 1) yields 2 rows) — a bare UNION
        -- here silently multiplied candidates by their band count
        SELECT DISTINCT id_a, id_b FROM (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bb x JOIN bb y
            ON x.band = y.band AND x.bhash = y.bhash
               AND x.doc_id < y.doc_id
          JOIN bsz s ON s.band = x.band AND s.bhash = x.bhash
          WHERE s.bsz <= """ + LshBucketBudget + """
          UNION ALL
          SELECT s.hub, b.doc_id
          FROM bb b JOIN bsz s ON s.band = b.band AND s.bhash = b.bhash
          WHERE s.bsz > """ + LshBucketBudget + """
            AND b.doc_id > s.hub)),
      jp AS (
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
                 / (len(a.sh) + len(b.sh)
                    - len(list_intersect(a.sh, b.sh))) AS jac
        FROM cnd c JOIN sh a ON a.doc_id = c.id_a
                   JOIN sh b ON b.doc_id = c.id_b),
      pr AS MATERIALIZED (SELECT id_a, id_b FROM jp WHERE jac >= 0.5),
      e AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM pr
        UNION SELECT id_b, id_a FROM pr),
      nn AS (SELECT DISTINCT a AS id FROM e),
      r AS (
        SELECT id, id AS rid FROM nn
        UNION
        SELECT r.id, e.b FROM r JOIN e ON e.a = r.rid),
      lab AS MATERIALIZED (SELECT id AS doc_id, MIN(rid) AS cluster FROM r GROUP BY id),
      lt AS (
        SELECT doc_id, clean,
               CASE WHEN trim(clean) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(lower(trim(clean)), '\s+') END
                 AS ltoks
        FROM cleaned),
      qc AS (
        SELECT doc_id,
               CASE WHEN len(ltoks) = 0 THEN 0.0
                    ELSE len(list_filter(ltoks, t -> list_contains(
                      ['the','a','an','and','or','of','to','in','is','are',
                       'was','it','that','for','on','with','as'], t)))
                      * 1.0 / len(ltoks) END AS sw,
               CASE WHEN len(ltoks) = 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(ltoks)) * 1.0 / len(ltoks)
                    END AS rep,
               CASE WHEN length(clean) = 0 THEN 0.0
                    ELSE len(regexp_extract_all(clean, '[^\p{L}\p{N}\s]'))
                         * 1.0 / length(clean) END AS punct,
               LEAST(len(ltoks) / 100.0, 1.0) AS lenscore
        FROM lt),
      q AS MATERIALIZED (
        SELECT doc_id,
               ROUND(0.25 * LEAST(sw * 4.0, 1.0) + 0.25 * (1.0 - rep)
                     + 0.25 * lenscore
                     + 0.25 * (1.0 - LEAST(punct * 4.0, 1.0)), 6) AS q
        FROM qc),
      rk AS (
        SELECT lab.cluster, lab.doc_id,
               ROW_NUMBER() OVER (PARTITION BY lab.cluster
                 ORDER BY q.q DESC, lab.doc_id) AS rn
        FROM lab JOIN q USING (doc_id)),
      surv2 AS MATERIALIZED (
        SELECT doc_id FROM surv1
        WHERE doc_id NOT IN (SELECT doc_id FROM lab)
        UNION ALL
        SELECT doc_id FROM rk WHERE rn = 1),
      btk AS (
        SELECT doc_id,
               CASE WHEN trim(clean) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(clean), '\s+') END AS toks
        FROM cleaned
        WHERE source = 'src0' AND doc_id < (SELECT o FROM off)),
      bsh AS (
        SELECT doc_id, list_distinct(
                 CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(1, len(toks) - 1), i ->
                             array_to_string(
                               toks[CAST(i AS INT):CAST(i + 2 AS INT)],
                               ' '))
                 END) AS sh
        FROM btk),
      bench AS (SELECT DISTINCT md5(unnest(sh)) AS h FROM bsh),
      csh AS MATERIALIZED (
        SELECT s.doc_id, md5(unnest(s.sh)) AS h
        FROM sh s JOIN surv2 USING (doc_id)
             JOIN cleaned c ON c.doc_id = s.doc_id
        WHERE c.source <> 'src0'),
      tot AS (SELECT doc_id, COUNT(*) AS n_sh FROM csh GROUP BY doc_id),
      shr AS (
        SELECT csh.doc_id, COUNT(*) AS n_shared
        FROM csh JOIN bench USING (h) GROUP BY csh.doc_id),
      surv3 AS MATERIALIZED (
        SELECT t.doc_id FROM tot t LEFT JOIN shr USING (doc_id)
        WHERE COALESCE(n_shared, 0) * 2 < n_sh),
      surv4 AS MATERIALIZED (
        SELECT s.doc_id FROM surv3 s JOIN q USING (doc_id)
        WHERE q.q >= 0.5),
      ptk AS (
        SELECT c.doc_id, c.source,
               CASE WHEN trim(c.clean) = '' THEN 0
                    ELSE len(string_split_regex(trim(c.clean), '\s+')) END
                 AS n_tokens,
               CAST(list_sum(list_transform(range(1, 9), i ->
                 (strpos('0123456789abcdef',
                    substr(md5(CAST(c.doc_id AS VARCHAR) || 'pack'),
                      CAST(i AS INT), 1)) - 1)
                 * power(16, 8 - i))) AS DOUBLE) / 4294967296.0 AS u
        FROM cleaned c JOIN surv4 USING (doc_id)),
      shd AS (
        SELECT doc_id, source, n_tokens,
               CAST(floor(u * 8) AS INT) AS shard
        FROM ptk),
      packfinal AS MATERIALIZED (
        SELECT doc_id, source, shard, n_tokens,
               COALESCE(SUM(n_tokens) OVER (PARTITION BY shard
                 ORDER BY doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                 AS tok_offset
        FROM shd),
      tokc AS MATERIALIZED (
        SELECT doc_id,
               CASE WHEN trim(clean) = '' THEN 0
                    ELSE len(string_split_regex(trim(clean), '\s+')) END
                 AS nt
        FROM cleaned)
  """

  val oracleSql: Map[String, String] = Map(
    // two-phase replay: batch A (evens) curated + committed, batch B
    // (odds) in-batch fp dedup -> store anti-join -> gate -> commit 2
    "p03_incremental_pipeline" -> """
      WITH f0 AS (
        SELECT doc_id, source, text,
               md5(trim(regexp_replace(regexp_replace(lower(text),
                 '[^a-z0-9\s]', '', 'g'), '\s+', ' ', 'g'))) AS fp,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(lower(trim(text)), '\s+')
               END AS ltoks
        FROM documents),
      qc AS (
        SELECT doc_id, source, fp,
               CAST(len(ltoks) AS BIGINT) AS n_tokens,
               CASE WHEN len(ltoks) = 0 THEN 0.0
                    ELSE len(list_filter(ltoks, t -> list_contains(
                      ['the','a','an','and','or','of','to','in','is','are',
                       'was','it','that','for','on','with','as'], t)))
                      * 1.0 / len(ltoks) END AS sw,
               CASE WHEN len(ltoks) = 0 THEN 0.0
                    ELSE 1.0 - len(list_distinct(ltoks)) * 1.0 / len(ltoks)
                    END AS rep,
               CASE WHEN length(text) = 0 THEN 0.0
                    ELSE len(regexp_extract_all(text, '[^\p{L}\p{N}\s]'))
                         * 1.0 / length(text) END AS punct,
               LEAST(len(ltoks) / 100.0, 1.0) AS lenscore
        FROM f0),
      q AS MATERIALIZED (
        SELECT doc_id, source, fp, n_tokens,
               ROUND(0.25 * LEAST(sw * 4.0, 1.0) + 0.25 * (1.0 - rep)
                     + 0.25 * lenscore
                     + 0.25 * (1.0 - LEAST(punct * 4.0, 1.0)), 6) AS q
        FROM qc),
      off AS MATERIALIZED (
        SELECT (MAX(doc_id) // 1000000 + 1) * 1000000 AS o
        FROM documents),
      a AS MATERIALIZED (SELECT * FROM q WHERE doc_id % 2 = 0 AND q >= 0.5),
      bs AS MATERIALIZED (
        SELECT doc_id, source, fp, n_tokens, q FROM q
        WHERE doc_id % 2 = 1
        UNION ALL
        SELECT doc_id + (SELECT o FROM off), source, fp, n_tokens, q
        FROM q WHERE doc_id % 2 = 0 AND doc_id % 10 = 0
        UNION ALL
        SELECT doc_id + 2 * (SELECT o FROM off), source, fp, n_tokens, q
        FROM q WHERE doc_id % 2 = 0 AND doc_id % 10 = 0),
      bkeep AS (
        SELECT * FROM bs
        WHERE doc_id IN (SELECT MIN(doc_id) FROM bs GROUP BY fp)
          AND fp NOT IN (SELECT fp FROM a)
          AND q >= 0.5)
      SELECT doc_id, source, n_tokens, q, 1 AS commit_v FROM a
      UNION ALL
      SELECT doc_id, source, n_tokens, q, 2 FROM bkeep
      ORDER BY doc_id""",

    // the skew-budget replay: same signature/band arithmetic as the
    // chain, the SAME budget rule at the test cap, star candidates,
    // string-shingle verify, recursive closure — metric equality
    // gates that the budget fired AND that the giant component still
    // collapsed to one cluster
    "p04_lsh_skew_budget" -> ("""
      WITH RECURSIVE
      off AS MATERIALIZED (
        SELECT (MAX(doc_id) // 1000000 + 1) * 1000000 AS o
        FROM documents),
      boiler AS MATERIALIZED (
        SELECT string_agg('boiler' || CAST(i AS VARCHAR), ' '
                 ORDER BY i) AS t
        FROM range(0, 200) r(i)),
      corpus AS MATERIALIZED (
        SELECT doc_id, text FROM documents
        UNION ALL
        SELECT (SELECT o FROM off) + i,
               (SELECT t FROM boiler) || ' salt' || CAST(i AS VARCHAR)
        FROM range(0, 150) r(i)),
      tk AS (
        SELECT doc_id,
               CASE WHEN trim(text) = '' THEN []::VARCHAR[]
                    ELSE string_split_regex(trim(text), '\s+') END AS toks
        FROM corpus),
      sh AS MATERIALIZED (
        SELECT doc_id, list_distinct(
                 CASE WHEN len(toks) <= 3 THEN [array_to_string(toks, ' ')]
                      ELSE list_transform(range(1, len(toks) - 1), i ->
                             array_to_string(
                               toks[CAST(i AS INT):CAST(i + 2 AS INT)],
                               ' '))
                 END) AS sh
        FROM tk),
      hs AS MATERIALIZED (
        SELECT doc_id, list_transform(sh, s ->
          """ + duckHex8("s") + """ % 2147483647) AS hs
        FROM sh),
      coef AS MATERIALIZED (
        SELECT CAST(i AS INT) - 1 AS j,
               (""" + MinhashA + """::BIGINT[])[CAST(i AS INT)] AS a,
               (""" + MinhashB + """::BIGINT[])[CAST(i AS INT)] AS b
        FROM range(1, 33) t(i)),
      hx AS MATERIALIZED (SELECT doc_id, unnest(hs) AS h FROM hs),
      sigx AS MATERIALIZED (
        SELECT doc_id, j, MIN((c.a * h + c.b) % 2147483647) AS m
        FROM hx CROSS JOIN coef c GROUP BY doc_id, j),
      sig AS MATERIALIZED (
        SELECT doc_id, list(m ORDER BY j) AS sig FROM sigx
        GROUP BY doc_id),
      bb AS MATERIALIZED (
        SELECT doc_id, band,
               substring(md5(array_to_string(list_transform(
                 sig[CAST(band * 4 + 1 AS INT):CAST(band * 4 + 4 AS INT)],
                 x -> CAST(x AS VARCHAR)), ',')), 1, 16) AS bhash
        FROM sig CROSS JOIN (SELECT unnest(range(0, 8)) AS band) bands),
      bsz AS MATERIALIZED (
        SELECT band, bhash, COUNT(*) AS bsz, MIN(doc_id) AS hub
        FROM bb GROUP BY band, bhash),
      cnd AS MATERIALIZED (
        -- DISTINCT over UNION ALL, not bare UNION: see the chainSql
        -- cnd note (WITH RECURSIVE disables UNION's dedup in DuckDB)
        SELECT DISTINCT id_a, id_b FROM (
          SELECT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bb x JOIN bb y
            ON x.band = y.band AND x.bhash = y.bhash
               AND x.doc_id < y.doc_id
          JOIN bsz s ON s.band = x.band AND s.bhash = x.bhash
          WHERE s.bsz <= """ + SkewTestCap + """
          UNION ALL
          SELECT s.hub, b.doc_id
          FROM bb b JOIN bsz s ON s.band = b.band AND s.bhash = b.bhash
          WHERE s.bsz > """ + SkewTestCap + """ AND b.doc_id > s.hub)),
      jp AS MATERIALIZED (
        SELECT id_a, id_b FROM (
          SELECT c.id_a, c.id_b,
                 len(list_intersect(a.sh, b.sh)) AS li,
                 len(a.sh) AS la, len(b.sh) AS lb
          FROM cnd c JOIN sh a ON a.doc_id = c.id_a
                     JOIN sh b ON b.doc_id = c.id_b)
        WHERE CAST(li AS DOUBLE) / (la + lb - li) >= 0.5),
      e AS MATERIALIZED (
        SELECT id_a AS a, id_b AS b FROM jp
        UNION SELECT id_b, id_a FROM jp),
      nn AS (SELECT DISTINCT a AS id FROM e),
      r AS (
        SELECT id, id AS rid FROM nn
        UNION
        SELECT r.id, e.b FROM r JOIN e ON e.a = r.rid),
      lab AS (SELECT id, MIN(rid) AS comp FROM r GROUP BY id),
      cs AS MATERIALIZED (
        SELECT comp, COUNT(*) AS n FROM lab GROUP BY comp)
      SELECT * FROM (
        SELECT 1 AS ord, 'budgeted_buckets' AS metric,
               (SELECT CAST(COUNT(*) AS BIGINT) FROM bsz
                WHERE bsz > """ + SkewTestCap + """) AS value
        UNION ALL
        SELECT 2, 'budgeted_memberships',
               (SELECT CAST(COALESCE(SUM(bsz), 0) AS BIGINT) FROM bsz
                WHERE bsz > """ + SkewTestCap + """)
        UNION ALL
        SELECT 3, 'verified_pairs',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM jp)
        UNION ALL
        SELECT 4, 'components',
               (SELECT CAST(COUNT(*) AS BIGINT) FROM cs)
        UNION ALL
        SELECT 5, 'max_component',
               (SELECT CAST(COALESCE(MAX(n), 0) AS BIGINT) FROM cs)
      ) ORDER BY ord"""),

    "p01_corpus_pipeline" -> (chainSql + """
      SELECT pf.doc_id, pf.source, pf.n_tokens, pf.shard,
             CAST(pf.tok_offset AS BIGINT) AS tok_offset,
             CAST(floor(pf.tok_offset / 256.0) AS BIGINT) AS pack_first,
             CAST(floor((pf.tok_offset + GREATEST(pf.n_tokens, 1) - 1)
               / 256.0) AS BIGINT) AS pack_last,
             q.q
      FROM packfinal pf JOIN q USING (doc_id)
      ORDER BY pf.doc_id"""),

    "p02_pipeline_funnel" -> (chainSql + """
      SELECT * FROM (
        SELECT 1 AS stage_ord, 'ingest' AS stage,
               (SELECT COUNT(*) FROM cleaned) AS n_units,
               (SELECT CAST(SUM(nt) AS BIGINT) FROM tokc) AS n_tokens
        UNION ALL
        SELECT 2, 'exact_dedup', (SELECT COUNT(*) FROM surv1),
               (SELECT CAST(SUM(nt) AS BIGINT)
                FROM tokc JOIN surv1 USING (doc_id))
        UNION ALL
        SELECT 3, 'fuzzy_dedup', (SELECT COUNT(*) FROM surv2),
               (SELECT CAST(SUM(nt) AS BIGINT)
                FROM tokc JOIN surv2 USING (doc_id))
        UNION ALL
        SELECT 4, 'decontaminate', (SELECT COUNT(*) FROM surv3),
               (SELECT CAST(SUM(nt) AS BIGINT)
                FROM tokc JOIN surv3 USING (doc_id))
        UNION ALL
        SELECT 5, 'quality_gate', (SELECT COUNT(*) FROM surv4),
               (SELECT CAST(SUM(nt) AS BIGINT)
                FROM tokc JOIN surv4 USING (doc_id))
        UNION ALL
        SELECT 6, 'packed',
               (SELECT CAST(SUM(mx + 1) AS BIGINT) FROM
                 (SELECT shard, MAX(CAST(floor((tok_offset
                    + GREATEST(n_tokens, 1) - 1) / 256.0) AS BIGINT)) AS mx
                  FROM packfinal GROUP BY shard)),
               (SELECT CAST(SUM(nt) AS BIGINT)
                FROM tokc JOIN surv4 USING (doc_id))
        UNION ALL
        SELECT 7, 'lsh_budgeted_buckets',
               (SELECT COUNT(*) FROM bsz
                WHERE bsz > """ + LshBucketBudget + """),
               (SELECT CAST(COALESCE(SUM(bsz), 0) AS BIGINT) FROM bsz
                WHERE bsz > """ + LshBucketBudget + """)
      ) ORDER BY stage_ord"""))
}
