package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{DotProduct, MatVecDots}

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>): brute-force cosine top-k as the exact baseline and a
  * random-hyperplane LSH-bucketed variant as the scale path.
  *
  * Vector math is pure Column HOFs (`zip_with` + `aggregate`) — no UDF,
  * no driver collect. Brute force broadcasts the (small) query set over
  * the corpus scan: O(|Q| * N) work, fully narrow until the per-query
  * top-k shuffle. LSH shuffles each side on (table, bucket) instead and
  * only scores within buckets, trading recall for a ~2^bits candidate
  * reduction — the right shape when N is corpus-scale.
  */
object Similarity {

  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, x) => acc + x)

  def norm(v: Column): Column =
    sqrt(aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** Unit-normalize a vector column in two staged projections (norm is
    * materialized as its own attribute first — inlining it into the
    * per-element lambda would recompute the norm per component).
    */
  def unitized(df: DataFrame, idCol: String, vecCol: String,
               idAs: String, vecAs: String): DataFrame =
    df.select(col(idCol).as(idAs),
        col(vecCol).cast("array<double>").as("v"),
        norm(col(vecCol).cast("array<double>")).as("n"))
      .select(col(idAs),
        transform(col("v"), x => x / col("n")).as(vecAs))

  /** Exact top-k neighbors for each query vector. `queries` must be
    * dimension-sized (it is broadcast); `corpus` can be arbitrarily
    * large. Vectors are unit-normalized once up front, so each of the
    * |Q| x N candidate pairs costs exactly one dot product. Every
    * ranking here (and in the LSH/IVF/knn variants) rides the
    * k-bounded [[boundedTopK]] aggregate ordered by the score ROUNDED
    * to 6dp with the corpus id as tie-break: the DuckDB oracle
    * computes cosine through a different float path, and ranking on
    * the raw value would let a last-ulp divergence flip neighbors at
    * a rank boundary; the bounded aggregate keeps scored candidates
    * off the shuffle entirely.
    */
  def cosineTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 k: Int): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    val c = unitized(corpus, idCol, vecCol, "nbr_id", "cv")
    val q = unitized(queries, qIdCol, qVecCol, "query_id", "qv")
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cos", DotProduct.dotFast(col("qv"), col("cv")))
    boundedTopK(scored, col("cos"), k, as = "cos")
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Exact maximum-inner-product top-k (MIPS — the retrieval mode of
    * recommendation / late-interaction scorers, where vector length
    * carries signal and cosine is the WRONG metric). Same plan shape
    * as [[cosineTopK]]: broadcast dimension-sized query set over the
    * corpus scan, one codegen'd dot product per candidate pair, per-
    * query top-k window ranked on the ROUNDED inner product (oracle
    * portability) with id tie-break. No normalization — the raw dot
    * product IS the score.
    */
  def ipTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qIdCol: String, qVecCol: String,
             k: Int): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    val c = corpus.select(col(idCol).as("nbr_id"),
      col(vecCol).cast("array<double>").as("cv"))
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("ip", DotProduct.dotFast(col("qv"), col("cv")))
    boundedTopK(scored, col("ip"), k, as = "ip")
      .select("query_id", "rank", "nbr_id", "ip")
  }

  /** SQ8 scalar-quantization ANN — the OTHER compressed corpus
    * representation next to PQ/ADC (s12), and the simplest one real
    * vector stacks deploy (FAISS `SQ8`): each dimension gets a
    * corpus-trained [min,max] range, each component is stored as one
    * byte `q = min(255, floor((x-mn)/(mx-mn)*256))`, and queries score
    * ASYMMETRICALLY (full-precision query against the dequantized
    * reconstruction x̂ = mn + (q+0.5)·span/256 — the same
    * uncompressed-query/compressed-corpus asymmetry as ADC). 4× below
    * float32 with near-exact recall.
    *
    * Scale shape: training is ONE narrow posexplode + a
    * dimension-sized (d-row) aggregate; encoding is a narrow map; the
    * only per-candidate state is (id, codes) — corpus float vectors
    * are never carried past the encode projection — and ranking rides
    * the k-bounded [[boundedTopK]] aggregate, so scored candidates
    * never cross the shuffle. Every arithmetic step (min/max, floor,
    * the /256 dyadic dequant) is bit-replayable in DuckDB, which makes
    * this the oracle-gated member of the compressed-ANN family.
    */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    val stats = corpus
      .select(posexplode(col(vecCol).cast("array<double>"))
        .as(Seq("i", "x")))
      .groupBy("i").agg(min("x").as("mn"), max("x").as("mx"))
      .orderBy("i").collect()
    val mn = stats.map(_.getDouble(1))
    val span = stats.map(r => r.getDouble(2) - r.getDouble(1))
    val mnL = array(mn.toSeq.map(lit): _*)
    val spanL = array(span.toSeq.map(lit): _*)
    val codes = corpus.select(col(idCol).as("nbr_id"),
      transform(col(vecCol).cast("array<double>"), (x, i) =>
        when(get(spanL, i) === 0.0, lit(0.0))
          .otherwise(least(lit(255.0),
            floor((x - get(mnL, i)) / get(spanL, i) * 256)))
          .cast("int")).as("codes"))
    val q = queries.select(col(qIdCol).as("query_id"),
      col(qVecCol).cast("array<double>").as("qv"))
    // dequantize ONCE per candidate, before the |Q|-way fan-out — the
    // reconstruction is query-independent
    val scored = codes
      .withColumn("dq", transform(col("codes"), (c, i) =>
        get(mnL, i) + (c.cast("double") + 0.5) * get(spanL, i) / 256.0))
      .crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("sq", DotProduct.dotFast(col("qv"), col("dq")))
    boundedTopK(scored, col("sq"), k, as = "sq")
      .select("query_id", "rank", "nbr_id", "sq")
  }

  /** MIPS at corpus scale by the norm-augmentation reduction
    * (Bachrach et al. 2014 / Shrivastava-Li asymmetric transform):
    * append sqrt(M^2 - |x|^2) to every item (M = max item norm, one
    * scalar aggregate) and 0 to every query. All augmented items then
    * share norm M, so augmented cosine = x.q / (M |q|) — a per-query
    * MONOTONE function of the inner product — and any cosine-ANN
    * index answers MIPS. Routed through [[ivfTopK]]: at nprobe=nlist
    * the result provably equals [[ipTopK]] (spec-gated); nprobe<<nlist
    * is the corpus-scale setting. Returned `cos` is the augmented-
    * space cosine (rank-equivalent to the inner product).
    */
  def mipsAnnTopK(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4): DataFrame = {
    val sq = (v: Column) =>
      aggregate(transform(v, x => x * x), lit(0.0), (acc, x) => acc + x)
    val items = corpus.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("n2", sq(col("v")))
    // max norm is a SCALAR (like the choropleth extent) — one
    // aggregate over a narrow projection, never the vectors themselves
    val m2 = items.agg(max("n2")).head().getDouble(0)
    val aug = items.select(col("id"),
      concat(col("v"),
        array(sqrt(greatest(lit(m2) - col("n2"), lit(0.0))))).as("v"))
    val qAug = queries.select(col(qIdCol).as("id"),
      concat(col(qVecCol).cast("array<double>"), array(lit(0.0))).as("v"))
    ivfTopK(aug, "id", "v", qAug, "id", "v", k, dim + 1, nlist, nprobe)
  }

  // --- Product quantization (PQ / ADC) -----------------------------------
  // The memory-bound scale path: a 64-float embedding compresses to m
  // one-byte codes (32x at m=8), so a 100 TB vector corpus's codes fit
  // where its vectors never could, and candidate scoring becomes m table
  // lookups instead of a dim-length dot product (Jegou et al. 2011,
  // "Product Quantization for Nearest Neighbor Search").

  /** Per-subspace plain-L2 k-means codebooks, trained driver-side on a
    * bounded sample (same driver/executor split as the IVF coarse
    * quantizer — only the m*kc*subdim codebook ever lives on the
    * driver). Deterministic: init picks evenly-spaced points from the
    * lexicographically-sorted DISTINCT subvector sample, so when the
    * sample carries <= kc distinct subvectors every one becomes its own
    * centroid and Lloyd is immediately stationary — the provable-
    * exactness configuration the PQ spec gates on (each subvector then
    * encodes to itself and ADC equals the exact score).
    */
  private[ops] def trainCodebooksL2(sample: Array[Array[Double]], m: Int,
                                    kc: Int,
                                    iters: Int): Array[Array[Array[Double]]] = {
    require(sample.nonEmpty, "empty PQ training sample")
    val dim = sample.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val sd = dim / m
    Array.tabulate(m) { s =>
      val subs = sample.map(v => v.slice(s * sd, (s + 1) * sd))
      val distinct = subs.map(_.toIndexedSeq).distinct.sorted(
        math.Ordering.Implicits.seqOrdering[IndexedSeq, Double])
        .map(_.toArray)
      var cents: IndexedSeq[Array[Double]] =
        (0 until kc).map(i => distinct(i * distinct.length / kc))
      var it = 0
      while (it < iters) {
        val sums = Array.fill(kc)(new Array[Double](sd))
        val counts = new Array[Int](kc)
        subs.foreach { v =>
          var best = 0; var bestD = Double.MaxValue
          var c = 0
          while (c < kc) {
            var d = 0.0; var i = 0
            while (i < sd) {
              val t = v(i) - cents(c)(i); d += t * t; i += 1
            }
            if (d < bestD) { bestD = d; best = c }
            c += 1
          }
          var i = 0
          while (i < sd) { sums(best)(i) += v(i); i += 1 }
          counts(best) += 1
        }
        cents = (0 until kc).map(c =>
          if (counts(c) == 0) cents(c)
          else sums(c).map(_ / counts(c)))
        it += 1
      }
      cents.toArray
    }
  }

  /** Train PQ codebooks on the content-keyed [[quantizerSample]] of the
    * unit-normalized corpus (hash-ordered, partitioning/retry-invariant
    * — never a partition-order prefix).
    */
  def pqTrain(corpus: DataFrame, idCol: String, vecCol: String, m: Int,
              kc: Int, sampleSize: Int = 4096,
              iters: Int = 10): Array[Array[Array[Double]]] =
    trainCodebooksL2(
      quantizerSample(corpus, idCol, vecCol, sampleSize), m, kc, iters)

  /** Encode every (unit-normalized) corpus vector to its m nearest-
    * centroid codes — a NARROW map over the scan: codebooks are
    * dimension-sized literals (constant-folded into the plan), each
    * subspace's code is argmin over kc zip_with L2 distances, and
    * nothing shuffles. Output: (id, codes array<int>), the 32x-smaller
    * representation that persists / joins downstream.
    */
  def pqEncode(corpus: DataFrame, idCol: String, vecCol: String,
               codebooks: Array[Array[Array[Double]]]): DataFrame =
    unitized(corpus, idCol, vecCol, "id", "v")
      .select(col("id"), pqCodeCol(codebooks, col("v")).as("codes"))

  /** The m nearest-centroid codes of a (unit) vector column — argmin
    * L2 per subspace against dimension-sized literal codebooks; a
    * narrow per-row expression, nothing shuffles.
    */
  private def pqCodeCol(codebooks: Array[Array[Array[Double]]],
                        v: Column): Column = {
    val sd = codebooks.head.head.length
    array(codebooks.indices.map { s =>
      val sub = slice(v, s * sd + 1, sd)
      val d2 = codebooks(s).map { c =>
        val cLit = array(c.map(lit).toIndexedSeq: _*)
        aggregate(zip_with(sub, cLit, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, x) => acc + x)
      }
      val darr = array(d2.toIndexedSeq: _*)
      (array_position(darr, array_min(darr)) - 1).cast("int")
    }: _*)
  }

  /** PQ/ADC approximate cosine top-k: corpus scanned as CODES only,
    * each query carries its m x kc lookup table (query-subvector dot
    * each centroid — computed once per query on the broadcast side),
    * and a candidate's score is m table lookups summed
    * (asymmetric distance computation). Plan shape = [[cosineTopK]]'s
    * broadcast crossJoin, but the corpus side is the 32x-compressed
    * code table and scoring never touches a corpus vector. Ranked on
    * the 6dp-ROUNDED score with id tie-break (float-portable, as
    * everywhere in this file) through the BOUNDED top-k aggregate
    * ([[graft.functions.TopKPairs]]) — each map task forwards at most
    * k entries per query, so the scored candidate volume never crosses
    * the shuffle (the round-6 verdict's s12 scale fix; the old
    * row_number window shuffled all N×Q scored rows). Exact when every
    * subvector is a codebook centroid (spec-gated); approximate
    * otherwise — recall governed by m/kc like any PQ index.
    */
  def pqTopK(corpus: DataFrame, idCol: String, vecCol: String,
             queries: DataFrame, qIdCol: String, qVecCol: String,
             k: Int, m: Int, kc: Int, sampleSize: Int = 4096,
             iters: Int = 10,
             codebooks: Option[Array[Array[Array[Double]]]] = None)
      : DataFrame = {
    // `codebooks` pins a LITERAL codebook (the s22 move applied to
    // PQ): encoding, ADC scoring, and ranking are pure arithmetic, so
    // with the codebook fixed the whole path is oracle-replayable
    // (s24); only Lloyd training stays seeded/spec-only (s12).
    val cb = codebooks.getOrElse(
      pqTrain(corpus, idCol, vecCol, m, kc, sampleSize, iters))
    val enc = pqEncode(corpus, idCol, vecCol, cb)
      .withColumnRenamed("id", "nbr_id")
    val q = unitized(queries, qIdCol, qVecCol, "query_id", "qv")
      .select(col("query_id"), adcTable(cb).as("qtab"))
    val scored = enc.crossJoin(broadcast(q))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("adc", adcScore(col("codes"), col("qtab")))
    boundedTopK(scored, col("adc"), k)
      .select("query_id", "rank", "nbr_id", "adc")
  }

  /** Per-query ADC lookup table: m × kc dots of each query subvector
    * against every subspace centroid — computed once per query on the
    * broadcast side.
    */
  private def adcTable(cb: Array[Array[Array[Double]]]): Column = {
    val sd = cb.head.head.length
    array(cb.indices.map { s =>
      val qsub = slice(col("qv"), s * sd + 1, sd)
      array(cb(s).map { c =>
        val cLit = array(c.map(lit).toIndexedSeq: _*)
        aggregate(zip_with(qsub, cLit, (x, y) => x * y),
          lit(0.0), (acc, x) => acc + x)
      }.toIndexedSeq: _*)
    }: _*)
  }

  /** ADC score of a code array against a query's lookup table:
    * m table lookups summed.
    */
  private def adcScore(codes: Column, qtab: Column): Column =
    aggregate(zip_with(codes, qtab,
      (c, row) => element_at(row, c + 1)), lit(0.0), (acc, x) => acc + x)

  /** Shared final ranking stage for EVERY ANN path: bounded per-query
    * top-k on (ROUND(score, 6) DESC, nbr_id ASC) via the
    * [[graft.functions.TopKPairs]] aggregate, emitting
    * (groupCols..., rank, nbr_id, <score>[, aux]) with the RAW score
    * value. Identical kept-set and order to the row_number window it
    * replaces — same rounded sort key, same id tie-break — WITHOUT
    * shuffling the scored candidates: each map task forwards at most
    * k entries per query. Extra query-functional columns (e.g. the
    * query's own label) ride along as grouping keys; a per-NEIGHBOR
    * long payload rides `aux`.
    */
  private def boundedTopK(scored: DataFrame, score: Column, k: Int,
                          as: String = "adc",
                          groupCols: Seq[String] = Seq("query_id"),
                          aux: Option[Column] = None): DataFrame = {
    graft.functions.TopKPairs.register(scored.sparkSession)
    val gs = groupCols.map(col)
    scored.withColumn("__btk_score", score)
      .groupBy(gs: _*)
      .agg(graft.functions.TopKPairs.topK(round(col("__btk_score"), 6),
        col("nbr_id").cast("long"), col("__btk_score"), k,
        aux.getOrElse(lit(0L))).as("top"))
      .select(gs :+ posexplode(col("top")).as(Seq("pos", "t")): _*)
      .select(gs ++ Seq((col("pos") + 1).cast("int").as("rank"),
        col("t.nbr_id").as("nbr_id"), col("t.score").as(as),
        col("t.aux").as("__btk_aux")): _*)
  }

  /** IVFADC (Jégou, Douze, Schmid, "Product Quantization for Nearest
    * Neighbor Search", TPAMI 2011, §V): the configuration PQ actually
    * runs at corpus scale — [[ivfTopK]]'s coarse cell routing composed
    * with [[pqTopK]]'s ADC scoring, so a query scores only the
    * ~nprobe/nlist fraction of the corpus in its probed cells, and
    * each candidate costs m table lookups over its 32×-compressed
    * codes, never a corpus vector.
    *
    * Deviations from the paper, both deliberate: (1) codes encode the
    * unit vector itself, not the cell residual, so scoring is the
    * same inner-product ADC as [[pqTopK]] — at nprobe=nlist the two
    * are IDENTICAL (spec-gated), which keeps the whole pipeline
    * anchored to the SQL-checked s12 semantics; (2) ranking rides the
    * bounded top-k aggregate, so scored candidates never cross the
    * shuffle (at most k entries per query per map task).
    *
    * Plan shape at 100 TB: both quantizers train on one bounded
    * hash-ordered sample (driver-side, retry-invariant); the corpus
    * scan computes (cell, codes) in ONE narrow pass; the probe table
    * (queries × nprobe) broadcasts, so non-probed corpus rows drop at
    * a broadcast hash join with no corpus shuffle at all; the only
    * exchange is the k-bounded per-query aggregate.
    */
  def ivfadcTopK(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, qIdCol: String, qVecCol: String,
                 k: Int, nlist: Int = 16, nprobe: Int = 4,
                 m: Int = 8, kc: Int = 16, trainIters: Int = 8,
                 sampleSize: Int = 4096, pqIters: Int = 10): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    // ONE sample feeds both quantizers (coarse cells + PQ codebooks) —
    // same hash-ordered content key as ivfTopK/pqTopK, so the PQ
    // codebooks here are bit-identical to pqTopK's at equal params
    val sample = quantizerSample(corpus, idCol, vecCol, sampleSize)
    val cents = trainCentroids(sample, nlist, trainIters)
    val pq = trainCodebooksL2(sample, m, kc, pqIters)
    val cbLit = MatVecDots.matrixLit(cents)
    val c = unitized(corpus, idCol, vecCol, "nbr_id", "cv")
      .withColumn("dots", MatVecDots.matvec(col("cv"), cbLit))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1).cast("int"))
      .select(col("nbr_id"), col("cell"),
        pqCodeCol(pq, col("cv")).as("codes"))
    val q = unitized(queries, qIdCol, qVecCol, "query_id", "qv")
      .withColumn("dots", MatVecDots.matvec(col("qv"), cbLit))
      .withColumn("probes",
        slice(sort_array(zip_with(col("dots"),
          sequence(lit(0), lit(nlist - 1)),
          (d, i) => struct((-d).as("nd"), i.as("i")))), 1, nprobe))
      .select(col("query_id"), adcTable(pq).as("qtab"),
        explode(col("probes").getField("i")).as("cell"))
    val scored = c.join(broadcast(q), Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("adc", adcScore(col("codes"), col("qtab")))
    boundedTopK(scored, col("adc"), k)
      .select("query_id", "rank", "nbr_id", "adc")
  }

  /** Deterministic random hyperplanes: component h(t,j,d) from a seeded
    * driver RNG, materialized as literal nested arrays (tables x planes
    * x dim) — tiny, constant-folded into the plan.
    */
  private def hyperplanes(tables: Int, planes: Int, dim: Int,
                          seed: Long): IndexedSeq[IndexedSeq[Array[Double]]] = {
    val rng = new java.util.Random(seed)
    IndexedSeq.fill(tables)(IndexedSeq.fill(planes)(
      Array.fill(dim)(rng.nextGaussian())))
  }

  /** md5-derived Rademacher (±1) hyperplanes — the sign-random-
    * projection family made ORACLE-REPLAYABLE (the same move d07's
    * MinHash and d08's SimHash made): component sign(t,j,d) = +1 iff
    * the first hex digit of md5("salt:t:j:d") < '8'. DuckDB computes
    * the identical planes with substr(md5(...)), and ±1 components
    * keep every dot product a plain signed sum (no engine-specific
    * Gaussian RNG anywhere). SRP with Rademacher entries preserves
    * the sign-LSH collision-probability guarantee (Achlioptas 2003's
    * database-friendly projections).
    */
  private def rademacherPlanes(tables: Int, planes: Int, dim: Int,
      salt: String): IndexedSeq[IndexedSeq[Array[Double]]] = {
    def sign(t: Int, j: Int, d: Int): Double = {
      val h = java.security.MessageDigest.getInstance("MD5")
        .digest(s"$salt:$t:$j:$d".getBytes("UTF-8"))
      if (((h(0) >> 4) & 0xf) < 8) 1.0 else -1.0
    }
    IndexedSeq.tabulate(tables)(t => IndexedSeq.tabulate(planes)(j =>
      Array.tabulate(dim)(d => sign(t, j, d))))
  }

  /** All `tables` sign-bucket ids from ONE flat hyperplane-matrix
    * literal: `dots` must be a materialized attribute holding
    * `graft_matvec(v, flat_planes)` (length tables*planes). Statically
    * unrolled — `dots` is referenced tables×planes times, which (a)
    * keeps the plan at ~tables×planes tiny element_at nodes instead of
    * tables×planes×dim literal nodes, and (b) blocks CollapseProject
    * from inlining the matvec into a per-element lambda (the known
    * re-evaluation trap).
    */
  private def bandStructs(dots: Column, tables: Int, planes: Int): Column =
    array((0 until tables).map { t =>
      struct(lit(t).as("tbl"),
        (0 until planes).map { j =>
          when(element_at(dots, t * planes + j + 1) >= 0, lit(1L << j))
            .otherwise(lit(0L))
        }.reduce(_ + _).as("bucket"))
    }: _*)

  /** LSH ANN: candidates = corpus/query pairs sharing a bucket in any
    * table; exact cosine on candidates; per-query top-k. Recall grows
    * with `tables`, candidate cost shrinks with `planes`. Pass `dim`
    * (embedding dimension) explicitly — probing it from the data would
    * cost an extra Spark job per call; `dim <= 0` falls back to a probe.
    */
  def lshTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, tables: Int = 4, planes: Int = 8,
              seed: Long = 42L, dim: Int = -1,
              family: String = "gaussian"): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    val d = if (dim > 0) dim
            else corpus.select(size(col(vecCol))).first().getInt(0)
    val hp =
      if (family == "rademacher") rademacherPlanes(tables, planes, d, "lsh")
      else hyperplanes(tables, planes, d, seed)
    val flat = MatVecDots.matrixLit(hp.flatten)

    def withBuckets(df: DataFrame, id: String, vec: String, as: String) = {
      val u = unitized(df, id, vec, as, s"${as}_v")
      // sign buckets are scale-invariant, so they hash the unit vector;
      // one matvec against the flat plane matrix, then tiny sign-bit
      // arithmetic — the hyperplanes are ONE literal plan node
      u.select(col(as), col(s"${as}_v"),
          MatVecDots.matvec(col(s"${as}_v"), flat).as("dots"))
        .select(col(as), col(s"${as}_v"),
          explode(bandStructs(col("dots"), tables, planes)).as("bb"))
        .select(col(as), col(s"${as}_v"),
          col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
    }

    val cb = withBuckets(corpus, idCol, vecCol, "nbr_id")
    val qb = withBuckets(queries, qIdCol, qVecCol, "query_id")
    val cand = cb.join(qb, Seq("tbl", "bucket"))
      .filter(col("nbr_id") =!= col("query_id"))
      .select("query_id", "query_id_v", "nbr_id", "nbr_id_v")
      .dropDuplicates("query_id", "nbr_id")
    val scored = cand.withColumn("cos",
      DotProduct.dotFast(col("query_id_v"), col("nbr_id_v")))
    boundedTopK(scored, col("cos"), k, as = "cos")
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Spherical k-means centroids trained driver-side on a bounded
    * sample (IVF coarse quantizer). Deterministic: seeded start from
    * evenly-spaced sample vectors (or the caller's pinned `init`
    * codebook — the s25 oracle path, which replays ONE iteration from
    * literal constants in DuckDB), fixed Lloyd iteration count.
    */
  private[graft] def trainCentroids(sample: Array[Array[Double]], nlist: Int,
                                  iters: Int,
                                  init: Option[IndexedSeq[Array[Double]]] =
                                    None): IndexedSeq[Array[Double]] = {
    require(sample.nonEmpty &&
      (init.nonEmpty || sample.length >= nlist),
      s"need >= $nlist sample vectors, got ${sample.length}")
    require(init.forall(_.length == nlist),
      s"init codebook must have $nlist rows")
    val dim = sample.head.length
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    var cents: IndexedSeq[Array[Double]] =
      init.map(_.map(unit)).getOrElse(
        (0 until nlist).map(i => unit(sample(i * sample.length / nlist))))
    var it = 0
    while (it < iters) {
      val sums = Array.fill(nlist)(new Array[Double](dim))
      val counts = new Array[Int](nlist)
      sample.foreach { v =>
        var best = 0; var bestDot = Double.MinValue
        var c = 0
        while (c < nlist) {
          var d = 0.0; var i = 0
          while (i < dim) { d += v(i) * cents(c)(i); i += 1 }
          if (d > bestDot) { bestDot = d; best = c }
          c += 1
        }
        var i = 0
        while (i < dim) { sums(best)(i) += v(i); i += 1 }
        counts(best) += 1
      }
      cents = (0 until nlist).map { c =>
        // zero-norm sums (exact cancellation in a NON-empty cell) keep
        // the previous center, same as the empty-cell rule — a zero
        // center would make every dot 0 and the cell unreachable.
        // Matches lloydStepDf and the s25 oracle's nrm = 0 -> COALESCE
        // prev branch.
        val nrm = math.sqrt(sums(c).map(x => x * x).sum)
        if (counts(c) == 0 || nrm == 0) cents(c)
        else sums(c).map(_ / nrm)
      }
      it += 1
    }
    cents
  }

  /** ONE spherical-Lloyd iteration as a distributed DataFrame — the
    * [[trainCentroids]] update step (assign each unitized vector to
    * its argmax-dot cell, re-center each cell at the unit-normalized
    * component sum, keep the previous center for emptied cells) from
    * a caller-pinned `init` codebook, returned as skinny
    * `(cell, j, centroid)` rows (`j` 1-based). With `init` literal
    * the whole step is pure arithmetic and DuckDB-replayable — the
    * s24 move applied to TRAINING, which leaves seeded
    * multi-iteration convergence as the family's only spec-gated
    * piece. Equality with `trainCentroids(iters = 1, Some(init))` on
    * the same vectors is spec-gated (SimilaritySpec).
    *
    * Scale shape: assignment is a narrow map over the scan (the
    * codebook is one foldable literal; [[MatVecDots]]); the only wide
    * exchange is the `(cell, j)` groupBy of skinny (int, int, double)
    * rows — k·dim groups whatever the corpus size — with map-side
    * partial sums, so the shuffle is partition-count-sized, not
    * corpus-sized. The per-cell norm runs on the k·dim aggregate
    * (dimension-sized; the window is over k rows per dim group).
    * `init` rows are unit-normalized driver-side (k·dim work) to
    * match trainCentroids' init handling.
    */
  def lloydStepDf(corpus: DataFrame, idCol: String, vecCol: String,
                  init: IndexedSeq[Array[Double]]): DataFrame = {
    val spark = corpus.sparkSession
    MatVecDots.register(spark)
    val k = init.length
    val dim = init.head.length
    def unit(v: Array[Double]): Array[Double] = {
      val n = math.sqrt(v.map(x => x * x).sum)
      if (n == 0) v else v.map(_ / n)
    }
    val init0 = init.map(unit)
    val cb = MatVecDots.matrixLit(init0)
    val assigned = unitized(corpus, idCol, vecCol, "id", "v")
      .withColumn("dots", MatVecDots.matvec(col("v"), cb))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1)
          .cast("int"))
    val sums = assigned
      .select(col("cell"), posexplode(col("v")).as(Seq("j0", "x")))
      .groupBy(col("cell"), (col("j0") + 1).as("j"))
      .agg(sum(col("x")).as("sx"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("cell")
    // spherical update = unit(component sums); a zero-norm sum (exact
    // cancellation in a non-empty cell) falls through to the previous
    // center — the same carry rule trainCentroids and kmeansFit apply
    // (a zero center would make every dot 0), and the branch the s25
    // oracle replays as nrm = 0 -> COALESCE prev
    val updated = sums
      .withColumn("nrm", sqrt(sum(col("sx") * col("sx")).over(w)))
      .select(col("cell"), col("j"),
        when(col("nrm") === 0.0, lit(null))
          .otherwise(col("sx") / col("nrm")).as("upd"))
    import spark.implicits._
    val grid = (for { c <- 0 until k; j <- 1 to dim }
      yield (c, j, init0(c)(j - 1))).toDF("cell", "j", "prev")
    grid.join(updated, Seq("cell", "j"), "left")
      .select(col("cell"), col("j"),
        coalesce(col("upd"), col("prev")).as("centroid"))
  }

  /** Distributed spherical k-means (Lloyd's) — the at-scale companion
    * to the driver-side sample quantizer [[trainCentroids]], for when
    * the codebook must reflect the FULL distribution (corpus-level
    * semantic clustering for diversity sampling / semantic dedup), not
    * a 4k-vector sample.
    *
    * Scale shape: each Lloyd iteration is ONE `treeAggregate` over the
    * cached unit-vector RDD — per-partition assign-and-accumulate into
    * k×dim local sums, log-depth combine, no shuffle of the data and
    * nothing driver-side but the k×dim codebook (the same pattern as
    * the Glmm/Em objective passes, SURVEY M12). Deterministic INIT:
    * initial centers are the k vectors with the smallest content-keyed
    * md5 draw (partitioning/retry-invariant — `TakeOrdered`, never a
    * global sort), iteration count fixed; an emptied cell keeps its
    * previous center. The centroid VALUES are float-stable in practice
    * but not bit-deterministic across partitionings — treeAggregate
    * sums are combine-order dependent, so cross-partitioning runs can
    * differ by accumulated ulps (assignments, not raw components, are
    * the invariant to rely on).
    */
  /** [[kmeansFit]]'s seeded INIT selection as a DataFrame — the k
    * unitized vectors with the smallest content-keyed md5 draw
    * (ties broken by id), IN SELECTION ORDER. Split out as the
    * single source of truth (the momentsPass move): kmeansFit
    * consumes exactly these rows, the s28 oracle replays them in
    * DuckDB (the draw is 8 md5 hex digits / 2^32 — every term exact
    * in a double, so the cross-engine sort keys are IDENTICAL, and
    * the per-row unitization is a 64-term left-associated fold, the
    * s24/s25 bit-exact contract), and SimilaritySpec equates
    * kmeansFit(iters = 0) to it. Scale shape: a TakeOrdered top-k
    * over one narrow pass — never a global sort.
    */
  def kmeansInitDf(corpus: DataFrame, idCol: String, vecCol: String,
                   k: Int): DataFrame =
    unitized(corpus, idCol, vecCol, "id", "v")
      .withColumn("u", TextAnalysis.hashUniform(col("id"), "km"))
      .orderBy("u", "id").limit(k)
      .select(col("id"), col("v"))

  def kmeansFit(corpus: DataFrame, idCol: String, vecCol: String,
                k: Int, iters: Int): IndexedSeq[Array[Double]] = {
    import org.apache.spark.storage.StorageLevel
    val init = kmeansInitDf(corpus, idCol, vecCol, k)
      .select("v").collect().map(_.getSeq[Double](0).toArray)
    require(init.length == k, s"need >= $k vectors, got ${init.length}")
    val vecs = unitized(corpus, idCol, vecCol, "id", "v")
      .select("v").rdd.map(_.getSeq[Double](0).toArray)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val dim = init.head.length
      def unit(v: Array[Double]): Array[Double] = {
        val n = math.sqrt(v.map(x => x * x).sum)
        if (n == 0) v else v.map(_ / n)
      }
      var cents: IndexedSeq[Array[Double]] = init.toIndexedSeq.map(unit)
      var it = 0
      while (it < iters) {
        val bc = vecs.sparkContext.broadcast(cents)
        val (sums, counts) = vecs.treeAggregate(
          (Array.fill(k)(new Array[Double](dim)), new Array[Long](k)))(
          seqOp = { case ((s, c), v) =>
            val cs = bc.value
            var best = 0; var bestDot = Double.MinValue
            var j = 0
            while (j < k) {
              var d = 0.0; var i = 0
              while (i < dim) { d += v(i) * cs(j)(i); i += 1 }
              if (d > bestDot) { bestDot = d; best = j }
              j += 1
            }
            var i = 0
            while (i < dim) { s(best)(i) += v(i); i += 1 }
            c(best) += 1
            (s, c)
          },
          combOp = { case ((s1, c1), (s2, c2)) =>
            var j = 0
            while (j < k) {
              var i = 0
              while (i < dim) { s1(j)(i) += s2(j)(i); i += 1 }
              c1(j) += c2(j)
              j += 1
            }
            (s1, c1)
          })
        bc.destroy()
        // empty OR zero-norm (exact cancellation) cells keep their
        // previous center — the trainCentroids / lloydStepDf rule
        cents = (0 until k).map { j =>
          val nrm = math.sqrt(sums(j).map(x => x * x).sum)
          if (counts(j) == 0 || nrm == 0) cents(j)
          else sums(j).map(_ / nrm)
        }
        it += 1
      }
      cents
    } finally vecs.unpersist(blocking = false)
  }

  /** Bounded quantizer training sample: the `sampleSize` unit vectors
    * with the smallest content-keyed md5 draw (the [[kmeansFit]] init
    * pattern) — a `TakeOrdered`, never a global sort. A plain
    * `limit(sampleSize)` prefix is NOT a sample at corpus scale: parquet
    * partition order clusters by source/crawl-date/shard, so a prefix
    * trains the codebook on one source's manifold and the cell-keyed
    * join degenerates toward a few giant hot cells. Hash-ordering makes
    * the sample uniform over content AND invariant to partitioning,
    * file order, and retries.
    */
  private def quantizerSample(corpus: DataFrame, idCol: String,
                              vecCol: String,
                              sampleSize: Int): Array[Array[Double]] =
    unitized(corpus, idCol, vecCol, "id", "v")
      .withColumn("u", TextAnalysis.hashUniform(col("id"), "ivfsample"))
      .orderBy("u", "id").limit(sampleSize)
      .select("v").collect().map(_.getSeq[Double](0).toArray)

  /** IVF ANN — the second scale path next to [[lshTopK]]: a spherical
    * k-means coarse quantizer (trained driver-side on a bounded sample)
    * partitions the corpus into `nlist` cells; each query probes its
    * `nprobe` nearest cells and scores candidates exactly. One shuffle
    * keyed by cell id; candidate volume ~ nprobe/nlist of the corpus.
    * Centroids are dimension-sized literals (constant-folded), so cell
    * assignment is a narrow map over the scan.
    */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, qIdCol: String, qVecCol: String,
              k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4,
              trainIters: Int = 8, sampleSize: Int = 4096,
              centroids: Option[IndexedSeq[Array[Double]]] = None): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    // an externally fixed codebook (unit rows, `nlist` of them) skips
    // the seeded training entirely — with literal centroids the WHOLE
    // query path (assignment, probe routing, in-cell scoring, top-k)
    // is deterministic and SQL-replayable (s22's oracle), leaving the
    // sampled Lloyd training as the only spec-gated piece
    val cents = centroids.getOrElse {
      val sample = quantizerSample(corpus, idCol, vecCol, sampleSize)
      trainCentroids(sample, nlist, trainIters)
    }
    // the whole centroid codebook is ONE literal plan node; per-row
    // work is a single matvec (tight primitive loop) + tiny array ops.
    // The per-centroid-literal formulation put nlist×dim literal nodes
    // into BOTH side's projections and Catalyst planning alone cost
    // ~10s regardless of data size.
    val cb = MatVecDots.matrixLit(cents)
    // argmax = first position of the max dot (ties -> lowest cell id,
    // matching trainCentroids' assignment rule). `dots` is referenced
    // twice, which keeps CollapseProject from inlining the matvec.
    val c = unitized(corpus, idCol, vecCol, "nbr_id", "cv")
      .withColumn("dots", MatVecDots.matvec(col("cv"), cb))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1).cast("int"))
      .drop("dots")
    // top-nprobe cells per query: sort (−dot, cell) structs asc, slice
    val q = unitized(queries, qIdCol, qVecCol, "query_id", "qv")
      .withColumn("dots", MatVecDots.matvec(col("qv"), cb))
      .withColumn("probes",
        slice(sort_array(zip_with(col("dots"),
          sequence(lit(0), lit(nlist - 1)),
          (d, i) => struct((-d).as("nd"), i.as("i")))), 1, nprobe))
      .select(col("query_id"), col("qv"),
        explode(col("probes").getField("i")).as("cell"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cos", DotProduct.dotFast(col("qv"), col("cv")))
    boundedTopK(scored, col("cos"), k, as = "cos")
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Persist an IVF index as two parquet tables under `path` —
    * `centroids` (cell, vec; dimension-sized) and `codes` (nbr_id,
    * cell, cv): the BUILD-ONCE / SERVE-MANY lifecycle production ANN
    * actually runs. [[ivfTopK]] retrains the quantizer and re-assigns
    * cells on every call — right for a one-shot query, wrong for an
    * index serving query batches all day. Here the training sample,
    * the Lloyd iterations and the one full corpus scan are paid at
    * build time; [[ivfQueryIndex]] then reads the dimension-sized
    * centroid table, routes, and joins only the probed cells' codes —
    * the corpus is never re-scanned for quantization again. At 100 TB
    * the codes table is what you'd additionally partition BY cell so
    * probes prune at the directory level.
    */
  def ivfBuildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                    path: String, nlist: Int = 16, trainIters: Int = 8,
                    sampleSize: Int = 4096): Unit = {
    val spark = corpus.sparkSession
    import spark.implicits._
    MatVecDots.register(spark)
    val sample = quantizerSample(corpus, idCol, vecCol, sampleSize)
    val cents = trainCentroids(sample, nlist, trainIters)
    cents.zipWithIndex.map { case (v, i) => (i, v.toSeq) }
      .toDF("cell", "vec").coalesce(1)
      .write.mode("overwrite").parquet(s"$path/centroids")
    val cb = MatVecDots.matrixLit(cents)
    unitized(corpus, idCol, vecCol, "nbr_id", "cv")
      .withColumn("dots", MatVecDots.matvec(col("cv"), cb))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1)
          .cast("int"))
      .drop("dots")
      .write.mode("overwrite").parquet(s"$path/codes")
  }

  /** Query a persisted [[ivfBuildIndex]] index: same routing and
    * scoring as [[ivfTopK]], but the quantizer comes from the
    * `centroids` table (one dimension-sized read) and candidates from
    * the persisted `codes` table. nprobe = nlist probes every cell
    * and is provably exact whatever the trained codebook (the s04
    * rule), which is what lets the persisted-index path be
    * oracle-gated end to end.
    */
  def ivfQueryIndex(spark: org.apache.spark.sql.SparkSession,
                    path: String, queries: DataFrame, qIdCol: String,
                    qVecCol: String, k: Int, nprobe: Int): DataFrame = {
    DotProduct.register(spark)
    MatVecDots.register(spark)
    val cents = spark.read.parquet(s"$path/centroids").orderBy("cell")
      .select("vec").collect()
      .map(_.getSeq[Double](0).toArray).toIndexedSeq
    val nlist = cents.length
    val cb = MatVecDots.matrixLit(cents)
    val c = spark.read.parquet(s"$path/codes")
    val q = unitized(queries, qIdCol, qVecCol, "query_id", "qv")
      .withColumn("dots", MatVecDots.matvec(col("qv"), cb))
      .withColumn("probes",
        slice(sort_array(zip_with(col("dots"),
          sequence(lit(0), lit(nlist - 1)),
          (d, i) => struct((-d).as("nd"), i.as("i")))), 1,
          math.min(nprobe, nlist)))
      .select(col("query_id"), col("qv"),
        explode(col("probes").getField("i")).as("cell"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cos", DotProduct.dotFast(col("qv"), col("cv")))
    boundedTopK(scored, col("cos"), k, as = "cos")
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** k-NN self-join: every vector in `corpus` gets its `k` nearest
    * neighbors by cosine — the all-points variant of [[ivfTopK]], where
    * the query set IS the corpus and can never be broadcast. Both sides
    * shuffle on the IVF cell id: each point lands in its nearest cell
    * (corpus role) and probes its `nprobe` nearest cells (query role),
    * so candidate volume is ~`nprobe/nlist` of the N^2 pair space and
    * the only wide shuffle is keyed by cell. Scoring happens inside the
    * join stage; the per-query top-k window then sorts skinny
    * (query_id, nbr_id, cos) rows only.
    *
    * `nprobe = nlist` probes every cell — candidates become ALL pairs
    * and the result is provably exact (the s06 oracle configuration;
    * quadratic, so only for modest corpora / correctness gates).
    * Production at corpus scale runs `nprobe << nlist` and trades
    * recall, measured by SimilaritySpec against this exact setting.
    */
  /** Size-adaptive IVF parameter policy for the k-NN SELF-join (the
    * q58→q66 guard pattern, here for pair volume instead of wedge
    * count — first forced by the round-8 sf1 measurement where fixed
    * nlist=nprobe=16 scaled 5.7s → 140s at 10× vectors).
    *
    *  - n <= exactMax: (16, 16) — exhaustive probing, equal to the
    *    brute-force oracle (the gate-scale exactness contract for
    *    s06/s13).
    *  - beyond: nlist ≈ 4·sqrt(n) (the FAISS heuristic), capped at
    *    the training-sample size (more centroids than samples train
    *    degenerate cells); nprobe FIXED at 32 — recall-driven,
    *    independent of n. Candidate volume per query = nprobe·n/nlist
    *    ≈ 8·sqrt(n); total O(n^1.5).
    *
    * The round-12 sf10 sweep caught the previous policy (nlist =
    * n/256, nprobe = nlist/8 — a constant 1/8 PROBE FRACTION) scoring
    * n²/8 candidate pairs: s06 at 100x the data ran 107x the wall,
    * the only super-linear entry in the sweep. A constant probe
    * FRACTION is quadratic whatever the constants; scale demands a
    * constant probe COUNT over sqrt-growing cells.
    *
    * The third returned value is the TRAINING SAMPLE size, scaled
    * with the corpus: max(4096, 2·nlist). The round-12 policy took
    * sampleSize as an independent 4096 default and silently CAPPED
    * nlist at it, so past n ≈ 1.05M vectors cell sizes grew linearly
    * again and candidate volume re-became ~n²/128 — the same
    * quadratic class the policy exists to kill, hidden behind a
    * default. Scaling the sample instead leaves NO silent edge: a
    * caller overriding sampleSize below nlist fails fast in
    * [[trainCentroids]]'s precondition, never degrades quietly.
    * Training cost is 2·nlist²·dim·iters driver-side flops — past
    * [[DriverTrainMaxNlist]] (n ≈ 4.2M) [[quantizerCentroids]] routes
    * to the distributed [[kmeansFit]], so the uncapped nlist never
    * serializes hours of Lloyd on the driver. The remaining genuine
    * bound is codebook-literal memory (nlist·dim·8 B in the plan:
    * 64 MB at n = 1e9, dim 64) — past that, shard the corpus (the
    * standard IVF sharding convention); nlist itself is Long-checked
    * and fails fast past Int range rather than wrapping.
    */
  /** Past this nlist, driver-side [[trainCentroids]] on a 2·nlist
    * sample is no longer feasible (cost ≈ 2·nlist²·dim·iters flops
    * single-threaded: ~10²-second scale at 8192 with dim 64, iters 8)
    * — [[quantizerCentroids]] routes training to the distributed
    * [[kmeansFit]] instead, whose per-iteration cost is ONE
    * treeAggregate over the corpus. nlist = 4·sqrt(n) crosses this at
    * n ≈ 4.2M vectors.
    */
  private[graft] val DriverTrainMaxNlist = 8192

  def autoIvfSelfJoinParams(n: Long,
                            exactMax: Long = 4096): (Int, Int, Int) =
    if (n <= exactMax) (16, 16, 4096)
    else {
      // Long arithmetic end-to-end: 4·sqrt(n) overflows Int past
      // n ≈ 2.9e17 — fail fast with the sharding contract instead of
      // wrapping negative (the codebook-literal memory bound,
      // nlist·dim·8 B, is unservable long before that anyway).
      val nlistL = math.max(32L, 4L * math.round(math.sqrt(n.toDouble)))
      require(nlistL <= Int.MaxValue,
        s"nlist = $nlistL exceeds Int range at n = $n — shard the " +
          "corpus (standard IVF sharding) instead of one giant index")
      val nlist = nlistL.toInt
      (nlist, math.min(nlist, 32),
        math.min(math.max(4096L, 2L * nlistL), Int.MaxValue).toInt)
    }

  /** IVF coarse-quantizer training with the scale route: driver-side
    * [[trainCentroids]] over a bounded [[quantizerSample]] while
    * nlist is driver-feasible ([[DriverTrainMaxNlist]]), the
    * distributed [[kmeansFit]] beyond it — so the auto policy's
    * uncapped nlist = 4·sqrt(n) never turns the driver into the
    * bottleneck (ADVICE r13: at n ≈ 1e9, driver training would cost
    * ~2·nlist²·dim·iters ≈ 1e16 flops; kmeansFit does the same
    * assignment work as ONE treeAggregate per iteration, cluster-wide,
    * and ships only the k×dim codebook to the driver).
    */
  private def quantizerCentroids(corpus: DataFrame, idCol: String,
                                 vecCol: String, nlist: Int,
                                 trainIters: Int, sampleSize: Int)
      : IndexedSeq[Array[Double]] =
    if (nlist <= DriverTrainMaxNlist)
      trainCentroids(quantizerSample(corpus, idCol, vecCol, sampleSize),
        nlist, trainIters)
    else kmeansFit(corpus, idCol, vecCol, nlist, trainIters)

  def knnJoin(corpus: DataFrame, idCol: String, vecCol: String,
              k: Int, dim: Int, nlist: Int = 16, nprobe: Int = 4,
              trainIters: Int = 8, sampleSize: Int = 4096): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    val cents = quantizerCentroids(corpus, idCol, vecCol, nlist,
      trainIters, sampleSize)
    val cb = MatVecDots.matrixLit(cents)
    // cached: the unitize + nlist-wide matvec projection feeds BOTH
    // roles of the self-join (corpus cell + query probes) — uncached,
    // the most expensive narrow stage runs twice (the minhashLsh /
    // containmentJoin shared-projection pattern). Library convention:
    // the cache is left registered for the session (the returned plan
    // still references it); callers batching many operator calls clear
    // between queries (as Bench does), and LRU eviction bounds the
    // residual storage pressure.
    val u = unitized(corpus, idCol, vecCol, "id", "v")
      .withColumn("dots", MatVecDots.matvec(col("v"), cb))
      .cache()
    // corpus role: the argmax cell (ties -> lowest id, as trained)
    val c = u.withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1).cast("int"))
      .select(col("id").as("nbr_id"), col("v").as("cv"), col("cell"))
    // query role: the nprobe nearest cells, exploded
    val q = u.withColumn("probes",
        slice(sort_array(zip_with(col("dots"),
          sequence(lit(0), lit(nlist - 1)),
          (d, i) => struct((-d).as("nd"), i.as("i")))), 1, nprobe))
      .select(col("id").as("query_id"), col("v").as("qv"),
        explode(col("probes").getField("i")).as("cell"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("query_id") =!= col("nbr_id"))
      .withColumn("cos", DotProduct.dotFast(col("qv"), col("cv")))
      .select("query_id", "nbr_id", "cos")
    boundedTopK(scored, col("cos"), k, as = "cos")
      .select("query_id", "rank", "nbr_id", "cos")
  }

  /** Hard-negative mining for contrastive/metric training: each
    * labeled vector's top-k nearest neighbors carrying a DIFFERENT
    * label — the "hardest negatives" a triplet/InfoNCE loss wants.
    * Same IVF-cell self-join shape as [[knnJoin]] (shared unitize +
    * matvec projection cached, cell-keyed shuffle, never all-pairs);
    * the label-mismatch filter runs at candidate time, before the
    * ranking window, so same-label near-duplicates can't crowd
    * negatives out of the top-k. At nprobe < nlist recall is
    * approximate like s03/s06; the query entry runs nprobe = nlist,
    * which is exhaustive and therefore exact (oracle-gated).
    */
  def hardNegatives(corpus: DataFrame, idCol: String, vecCol: String,
                    labelCol: String, k: Int, dim: Int,
                    nlist: Int = 16, nprobe: Int = 4,
                    trainIters: Int = 8,
                    sampleSize: Int = 4096): DataFrame = {
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    val cents = quantizerCentroids(corpus, idCol, vecCol, nlist,
      trainIters, sampleSize)
    val cb = MatVecDots.matrixLit(cents)
    val u = unitized(corpus, idCol, vecCol, "id", "v")
      .join(corpus.select(col(idCol).as("id"),
        col(labelCol).as("lbl")), Seq("id"))
      .withColumn("dots", MatVecDots.matvec(col("v"), cb))
      .cache()
    val c = u.withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1).cast("int"))
      .select(col("id").as("nbr_id"), col("v").as("cv"), col("cell"),
        col("lbl").as("nbr_lbl"))
    val q = u.withColumn("probes",
        slice(sort_array(zip_with(col("dots"),
          sequence(lit(0), lit(nlist - 1)),
          (d, i) => struct((-d).as("nd"), i.as("i")))), 1, nprobe))
      .select(col("id").as("query_id"), col("v").as("qv"),
        col("lbl").as("q_lbl"),
        explode(col("probes").getField("i")).as("cell"))
    val scored = q.join(c, Seq("cell"))
      .filter(col("q_lbl") =!= col("nbr_lbl"))
      .withColumn("cos", DotProduct.dotFast(col("qv"), col("cv")))
      .select("query_id", "q_lbl", "nbr_id", "nbr_lbl", "cos")
    val lblType = scored.schema("nbr_lbl").dataType
    boundedTopK(scored, col("cos"), k, as = "cos",
        groupCols = Seq("query_id", "q_lbl"),
        aux = Some(col("nbr_lbl").cast("long")))
      .withColumn("nbr_lbl", col("__btk_aux").cast(lblType))
      .select("query_id", "q_lbl", "rank", "nbr_id", "nbr_lbl", "cos")
  }

  /** Embedding-cosine near-duplicate pairs (threshold join), LSH-
    * bucketed — the scale path and the d10 query entry. Candidates are
    * generated only inside shared (table, sign-bucket) cells and then
    * exact-cosine verified, so precision is exact and no O(N^2) stage
    * or corpus-sized broadcast ever materializes: the whole plan is two
    * narrow projections, one explode, and one shuffle keyed on
    * (table, bucket).
    *
    * Recall: a pair at cosine `t` survives one `planes`-bit band with
    * probability (1 - acos(t)/pi)^planes and must survive in at least
    * one of `tables` bands. `tables` is DERIVED from the requested
    * threshold so the per-pair miss probability stays <= `maxMiss` at
    * exactly cosine = threshold (pairs above it miss even less): the
    * fixed 12×8 default gave ~7e-7 at t = 0.99 but ~12% at t = 0.8,
    * which silently broke the "exact up to maxMiss" contract for looser
    * thresholds. Deterministic given `seed`; verified against the
    * exact-SQL oracle and the brute-force spec. Raise `planes` (smaller
    * buckets) for skewed corpora — the table count adapts.
    */
  def cosineNearDupLsh(corpus: DataFrame, idCol: String, vecCol: String,
                       threshold: Double, dim: Int,
                       planes: Int = 8, maxMiss: Double = 1e-6,
                       seed: Long = 42L): DataFrame = {
    require(threshold > 0 && threshold < 1,
      s"threshold must be in (0,1), got $threshold")
    // P(one band matches) = (1 - acos(t)/pi)^planes; tables such that
    // (1 - p)^tables <= maxMiss
    val p = math.pow(1.0 - math.acos(threshold) / math.Pi, planes)
    val tables = math.max(1, math.ceil(math.log(maxMiss) / math.log1p(-p)).toInt)
    require(tables <= 128,
      s"threshold=$threshold needs $tables tables at planes=$planes for " +
        s"miss<=$maxMiss; lower planes or relax maxMiss")
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    val hp = hyperplanes(tables, planes, dim, seed)
    val flat = MatVecDots.matrixLit(hp.flatten)
    val u = unitized(corpus, idCol, vecCol, "id", "v")
    val banded = u
      .select(col("id"), col("v"),
        MatVecDots.matvec(col("v"), flat).as("dots"))
      .select(col("id"), col("v"),
        explode(bandStructs(col("dots"), tables, planes)).as("bb"))
      .select(col("id"), col("v"),
        col("bb.tbl").as("tbl"), col("bb.bucket").as("bucket"))
    // score and threshold-filter INSIDE the join stage, then dedup the
    // surviving skinny (id, id, cos) rows: the wide vector columns are
    // never shuffled again, and duplicate band matches only cost an
    // extra (cheap, codegen'd) dot product each
    banded.as("a")
      .join(banded.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket")
          && col("a.id") < col("b.id"))
      .withColumn("cos", DotProduct.dotFast(col("a.v"), col("b.v")))
      .filter(col("cos") >= threshold)
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"), col("cos"))
      .dropDuplicates("id_a", "id_b")
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): k-means-cluster the embedding corpus, then
    * remove near-duplicates ONLY within each cluster — a doc is
    * removed iff an earlier (smaller-id) doc in the SAME cell sits at
    * cosine >= `tau` (greedy keep-first, the d09/d19 keeper
    * convention; threshold applied to the 6dp-rounded cosine so float
    * noise can't flip a pair). Returns every doc as
    * (id, cell, dup_of, keep); `dup_of` is the smallest-id same-cell
    * neighbor that evicted it.
    *
    * The cluster scoping IS the approximation that makes this scale:
    * candidate pairs are cell-local, so the pair space is
    * Σ_cells |cell|² instead of N² — SemDeDup (§3) sizes k so cells
    * stay bounded at any corpus size. k=0 (the default) auto-sizes
    * k = max(8, ceil(N / targetCellSize)), so k GROWS with the corpus
    * and expected cell size stays ~targetCellSize; on top of that,
    * [[semanticCells]]' pair-budget backstop subdivides any cell the
    * clustering leaves over-cap, bounding total pair volume at
    * N × cellCap no matter how skewed the cells land. A cross-cell
    * (or cross-sub-cell) near-dup pair is missed by design (the
    * paper's recall trade); pairs the clustering separates are
    * exactly what [[cosineNearDupLsh]] (d10) catches when full recall
    * matters. One shuffle keys the self-join by (cell, sub); the
    * keeper groupBy reduces skinny (cell, id, id) rows.
    */
  def semanticDedup(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int = 0, trainIters: Int = 8,
                    tau: Double = 0.9,
                    targetCellSize: Int = 4096,
                    cellCap: Int = 0): DataFrame = {
    val kEff =
      if (k > 0) k
      else math.max(8,
        math.ceil(corpus.count().toDouble / targetCellSize).toInt)
    val capEff = if (cellCap > 0) cellCap else 4 * targetCellSize
    val u = semanticCells(corpus, idCol, vecCol, kEff, trainIters, capEff)
    val a = u.select(col("cell"), col("sub"),
      col("id").as("a_id"), col("v").as("av"))
    val b = u.select(col("cell"), col("sub"),
      col("id").as("b_id"), col("v").as("bv"))
    val removed = a.join(b, Seq("cell", "sub"))
      .filter(col("b_id") < col("a_id"))
      .withColumn("cos", DotProduct.dotFast(col("av"), col("bv")))
      .filter(round(col("cos"), 6) >= tau)
      .groupBy(col("a_id").as("id"))
      .agg(min("b_id").as("dup_of"))
    u.select("id", "cell").join(removed, Seq("id"), "left")
      .select(col("id"), col("cell"), col("dup_of"),
        col("dup_of").isNull.as("keep"))
  }

  /** Cell assignment for [[semanticDedup]]: nearest k-means centroid
    * per doc PLUS a per-cell pair-budget backstop (the d08 hot-bucket
    * guard re-expressed for cells) — any cell larger than `cellCap`
    * is subdivided into ceil(|cell|/cellCap) sub-cells by a
    * content-keyed hash of the id (deterministic, partitioning-
    * invariant), so the cell-keyed self-join's pair volume is bounded:
    * Σ_(cell,sub) |group|² <= N × cellCap even when the clustering
    * collapses onto one centroid. Returns (cell, sub, id, v); cells
    * at-or-under cap keep sub=0. The size lookup is k rows →
    * broadcast join, never a corpus shuffle; the assigned frame is
    * cached (it feeds both self-join sides and the final keeper join).
    */
  def semanticCells(corpus: DataFrame, idCol: String, vecCol: String,
                    k: Int, trainIters: Int, cellCap: Int): DataFrame = {
    require(cellCap > 0, s"cellCap=$cellCap must be positive")
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    val cents = kmeansFit(corpus, idCol, vecCol, k, trainIters)
    val cb = MatVecDots.matrixLit(cents)
    val assigned = unitized(corpus, idCol, vecCol, "id", "v")
      .withColumn("dots", MatVecDots.matvec(col("v"), cb))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1).cast("int"))
      .drop("dots")
      .cache()
    val sizes = assigned.groupBy("cell").agg(count(lit(1)).as("__cn"))
    assigned.join(broadcast(sizes), Seq("cell"))
      .withColumn("sub",
        when(col("__cn") <= cellCap, lit(0))
          .otherwise(pmod(xxhash64(col("id"), lit("semcell")),
            ceil(col("__cn").cast("double") / cellCap).cast("long"))
            .cast("int")))
      .drop("__cn")
  }

  /** EXACT ε-ball cosine range search: every corpus vector with
    * `cos(q, x) >= minCos` for each query, pruned by IVF cells via the
    * spherical triangle inequality — the range-query companion to the
    * top-k family (FAISS `range_search`; the retrieval mode of
    * threshold-based semantic filtering, where "everything at least
    * this similar" is the contract and k is unknowable up front).
    *
    * Guarantee: for any member x of cell c, angle(q,x) >=
    * angle(q,μ_c) − max_angle(c), so a cell whose centroid angle minus
    * its angular RADIUS exceeds arccos(minCos) provably contains no
    * result — pruning it loses nothing. Results are therefore EXACT
    * for every clustering; how much prunes is data-dependent (tight
    * clusters prune hard, isotropic noise prunes nothing — spec-gated
    * both ways on a planted-blob fixture vs the sf embeddings).
    *
    * Plan shape at 100 TB: centroids are one literal codebook (same
    * matvec assignment as [[ivfTopK]]); radii are an nlist-row
    * broadcast; the probe table (query × surviving cell) broadcasts,
    * so pruned corpus rows drop at a broadcast hash join with no
    * corpus shuffle; survivors cost one codegen'd dot each. The
    * threshold compares the 6dp-ROUNDED cosine so an oracle computing
    * cosine through a different float path cannot flip a boundary row.
    */
  def rangeSearch(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, qIdCol: String, qVecCol: String,
                  minCos: Double, nlist: Int = 16, trainIters: Int = 8,
                  sampleSize: Int = 4096): DataFrame =
    rangeSearchWithProbes(corpus, idCol, vecCol, queries, qIdCol,
      qVecCol, minCos, nlist, trainIters, sampleSize)._1

  /** [[rangeSearch]] plus its (query × surviving cell) probe table, so
    * specs can assert the pruning actually engages on clustered data.
    */
  private[graft] def rangeSearchWithProbes(
      corpus: DataFrame, idCol: String, vecCol: String,
      queries: DataFrame, qIdCol: String, qVecCol: String,
      minCos: Double, nlist: Int, trainIters: Int,
      sampleSize: Int): (DataFrame, DataFrame) = {
    DotProduct.register(corpus.sparkSession)
    MatVecDots.register(corpus.sparkSession)
    val sample = quantizerSample(corpus, idCol, vecCol, sampleSize)
    val cents = trainCentroids(sample, math.min(nlist, sample.length),
      trainIters)
    val cb = MatVecDots.matrixLit(cents)
    def clampAcos(c: Column): Column =
      acos(least(lit(1.0), greatest(lit(-1.0), c)))
    // CACHED: assigned feeds two consumers — the radii aggregate and
    // the probe join — and the unit-normalize + matvec HOF projection
    // is the dominant per-row cost at local scale; uncached the corpus
    // pays it twice. (At 100 TB you persist this table instead — the
    // s18 build-once/serve-many index IS assigned written to parquet.)
    val assigned = unitized(corpus, idCol, vecCol, "nbr_id", "cv")
      .withColumn("dots", MatVecDots.matvec(col("cv"), cb))
      .withColumn("cell",
        (array_position(col("dots"), array_max(col("dots"))) - 1)
          .cast("int"))
      .withColumn("theta_c", clampAcos(array_max(col("dots"))))
      .drop("dots")
      .cache()
    // nlist-row angular radii; ONE partial-aggregated pass, broadcast
    val radii = assigned.groupBy("cell")
      .agg(max(col("theta_c")).as("radius"))
    // Prune radius must cover the ACCEPTANCE predicate, which is
    // round(cos, 6) >= minCos — i.e. exact cos down to minCos − 5e-7
    // is still accepted. Widen ψ to that bound so the keep-side
    // guarantee matches the final filter exactly (a borderline vector
    // whose exact cosine sits just under minCos can otherwise live in
    // a pruned cell and be missed).
    val psi = math.acos(math.max(-1.0, minCos - 5e-7))
    val q = unitized(queries, qIdCol, qVecCol, "query_id", "qv")
      .withColumn("dots", MatVecDots.matvec(col("qv"), cb))
      .select(col("query_id"), col("qv"),
        posexplode(col("dots")).as(Seq("cell", "qdot")))
      .withColumn("theta", clampAcos(col("qdot")))
    // keep a cell iff it COULD hold a result: θ_qc − r_c <= ψ (+ float
    // slack — widening the keep-side never loses a result)
    val probes = q.join(broadcast(radii), Seq("cell"))
      .filter(col("theta") - col("radius") <= lit(psi + 1e-9))
      .select("cell", "query_id", "qv")
    val result = broadcast(probes)
      .join(assigned.drop("theta_c"), Seq("cell"))
      .filter(col("nbr_id") =!= col("query_id"))
      .withColumn("cos", DotProduct.dotFast(col("qv"), col("cv")))
      .filter(round(col("cos"), 6) >= lit(minCos))
      .select(col("query_id"), col("nbr_id"),
        round(col("cos"), 4).as("cos"))
    (result, probes)
  }

  /** Maximal-Marginal-Relevance diversity re-ranking (Carbonell &
    * Goldstein, SIGIR 1998) — the selection step of diversity-aware
    * retrieval / training-data sampling: from each query's top-`poolK`
    * relevance pool, greedily pick `select` items maximizing
    * `λ·rel − (1−λ)·max_sim_to_already_selected`, so near-duplicate
    * hits can't crowd the slate.
    *
    * Scale shape: the pool comes from the bounded top-k aggregate
    * ([[cosineTopK]]), vectors re-attach by ONE keyed join, and the
    * greedy loop runs in `mapGroups` over ≤ poolK rows per query —
    * a bounded group, sequential by nature, never more than poolK·dim doubles of state. Engine/
    * oracle determinism: rel and every candidate-candidate similarity
    * round at 6dp BEFORE entering the score, the score re-rounds at
    * 6dp before the argmax, ties break on id — and λ = 0.5 keeps
    * 1−λ exactly representable so both engines compute bit-identical
    * scores from identical inputs.
    */
  def mmrRerank(corpus: DataFrame, idCol: String, vecCol: String,
                queries: DataFrame, qIdCol: String, qVecCol: String,
                poolK: Int, select: Int,
                lambda: Double = 0.5): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val top = cosineTopK(corpus, idCol, vecCol, queries, qIdCol,
      qVecCol, poolK)
    val cu = unitized(corpus, idCol, vecCol, "nbr_id", "cv")
    val pool = top.join(cu, "nbr_id")
      .select(col("query_id").cast("long"), col("nbr_id").cast("long"),
        round(col("cos"), 6).as("rel"), col("cv"))
      .as[(Long, Long, Double, Seq[Double])]
    val mu = 1.0 - lambda
    def r6(x: Double): Double =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
        .toDouble
    pool.groupByKey(_._1).flatMapGroups { (q, it) =>
      val cands = it.map(c => (c._2, c._3, c._4.toArray)).toArray
      val selected = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Double, Array[Double])]
      val used = scala.collection.mutable.Set.empty[Long]
      val out = scala.collection.mutable.ArrayBuffer
        .empty[(Long, Int, Long, Double)]
      var rank = 1
      while (rank <= select && used.size < cands.length) {
        var best: (Long, Double, Array[Double]) = null
        var bestScore = Double.NegativeInfinity
        cands.foreach { case (id, rel, v) =>
          if (!used.contains(id)) {
            val maxSim =
              if (selected.isEmpty) 0.0
              else selected.map { s =>
                var d = 0.0; var i = 0
                while (i < v.length) { d += v(i) * s._3(i); i += 1 }
                r6(d)
              }.max
            val score = r6(lambda * rel - mu * maxSim)
            if (score > bestScore
              || (score == bestScore && best != null && id < best._1)) {
              bestScore = score; best = (id, rel, v)
            }
          }
        }
        used += best._1
        selected += best
        out += ((q, rank, best._1, bestScore))
        rank += 1
      }
      out.iterator
    }.toDF("query_id", "rank", "nbr_id", "score")
      .select(col("query_id"), col("rank"), col("nbr_id"),
        round(col("score"), 4).as("score"))
  }

  /** Brute-force embedding-cosine threshold join — recall oracle for
    * [[cosineNearDupLsh]] in the specs ONLY: the full-corpus broadcast
    * and O(N^2) dot-product volume make it a non-starter at scale.
    */
  def cosineNearDup(corpus: DataFrame, idCol: String, vecCol: String,
                    threshold: Double): DataFrame = {
    // The broadcast-nested-loop join parallelizes over the streamed
    // side's partitions; a single-file corpus arrives as ONE partition,
    // which would serialize all N^2/2 dot products onto one core —
    // spread it explicitly.
    DotProduct.register(corpus.sparkSession)
    val para = corpus.sparkSession.sparkContext.defaultParallelism * 2
    val a = unitized(corpus, idCol, vecCol, "id_a", "va").repartition(para)
    val b = unitized(corpus, idCol, vecCol, "id_b", "vb")
    a.crossJoin(broadcast(b)).filter(col("id_a") < col("id_b"))
      .withColumn("cos", DotProduct.dotFast(col("va"), col("vb")))
      .filter(col("cos") >= threshold)
      .select("id_a", "id_b", "cos")
  }
}
