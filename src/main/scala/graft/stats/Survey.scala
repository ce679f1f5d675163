package graft.stats

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** Design-based survey estimation (SURVEY.md A3/M6).
  *
  * Mirrors `svydesign(id=~ID, weights=~weight)` + `svyby(..., svymean)`
  * (`Method_code.Rmd:459-463`): each row is its own PSU, so the design
  * variance of the weighted ratio mean reduces to the linearized
  * (Taylor) form
  *
  *   mu_g    = sum(w*y)/sum(w)
  *   Var(mu) = n/(n-1) * sum(w^2 (y-mu)^2) / (sum w)^2
  *
  * (the n/(n-1) factor is survey-package `svyrecvar`'s with-replacement
  * PSU correction). Implemented as a single-pass aggregate using the
  * algebraic identity sum(w^2 (y-mu)^2) = sum(w^2 y^2) - 2 mu sum(w^2 y)
  * + mu^2 sum(w^2) — one shuffle, no self-join, codegen-friendly.
  */
object Survey {

  /** Survey raking / iterative proportional fitting (the
    * `survey::rake` companion to [[weightedMeanSE]]'s svyby): scale
    * row weights so the weighted margins match known population totals
    * over each margin variable in turn, cycling `iters` times. Each
    * `margins` entry is (category column, targets DataFrame carrying
    * that column + a `_target` total).
    *
    * Raking scales every row of one cross-classification cell (one
    * combination of the margin columns) by the same factor, so IPF runs
    * on the cell table: ONE groupBy(margin columns).agg(sum(w)),
    * collected to the driver in one collect with the target tables. Each
    * pass sums the cell weights per category of one margin and
    * multiplies every cell's running factor by target / sum, over the
    * cells in sorted key order, so the result does not depend on
    * partitioning. The final factors join back to `df` once, broadcast:
    * the rows never shuffle, and the plan has the same size for any
    * `iters`. Convergence is the classical IPF result (the LAST margin
    * of the final cycle is matched exactly, earlier ones geometrically
    * closer); a fixed small `iters` is the standard practice.
    *
    * The call is EAGER: it runs that one collect before it returns. The
    * cell table may hold at most [[CellDesign.MaxLocalCells]] cells.
    * Rejected, naming the margin column and category: a null category
    * in `df`, a category of `df` with no target, a category listed
    * twice in one target table, a target that is not > 0. The result
    * keeps `df`'s columns in their order.
    */
  def rake(df: DataFrame, weightCol: String,
           margins: Seq[(String, DataFrame)], iters: Int): DataFrame = {
    val keys = margins.map(_._1)
    require(keys.nonEmpty && keys.distinct.size == keys.size,
      s"rake needs distinct margin columns, got ${keys.mkString(", ")}")
    val nk = keys.size
    val types = keys.map(df.schema(_).dataType)
    // one collect: the cells (tag -1) and the targets of margin i (tag i),
    // unioned by position as (key_0 .. key_nk-1, tag, value)
    val cellsQ = df.groupBy(keys.map(col): _*)
      .agg(lit(-1), coalesce(sum(col(weightCol).cast("double")), lit(0.0)))
      .limit(CellDesign.MaxLocalCells + 1)
    val targetsQ = margins.zipWithIndex.map { case ((c, t), i) =>
      t.select(keys.indices.map(j =>
          (if (j == i) col(c) else lit(null)).cast(types(j))) :+
        lit(i) :+ col("_target").cast("double"): _*)
    }
    val (cellRows, targetRows) = (cellsQ +: targetsQ).reduce(_ union _)
      .collect().partition(_.getInt(nk) < 0)
    require(cellRows.length <= CellDesign.MaxLocalCells,
      s"rake: the margins split df into " +
        s"${df.select(keys.map(col): _*).distinct().count()} cells, " +
        s"more than ${CellDesign.MaxLocalCells}")

    val targets = Array.fill(nk)(mutable.Map.empty[Any, Double])
    for (r <- targetRows; i = r.getInt(nk); v = r.get(i)) {
      require(!targets(i).contains(v),
        s"rake: the targets of margin '${keys(i)}' list category '$v' twice")
      require(!r.isNullAt(nk + 1) && r.getDouble(nk + 1) > 0,
        s"rake: margin '${keys(i)}' has target ${r.get(nk + 1)} for " +
          s"category '$v'; targets must be > 0")
      targets(i)(v) = r.getDouble(nk + 1)
    }
    for (r <- cellRows; i <- keys.indices) {
      require(!r.isNullAt(i),
        s"rake: margin column '${keys(i)}' has a null category in df")
      require(targets(i).contains(r.get(i)),
        s"rake: margin '${keys(i)}' has no target for category '${r.get(i)}'")
    }

    def key(r: Row): Seq[Any] = (0 until nk).map(r.get)
    val cells = cellRows.sortBy(key)(keyOrdering)
    val f = Array.fill(cells.length)(1.0)
    for (_ <- 0 until iters; i <- keys.indices) {
      def cat(k: Int) = cells(k).get(i)
      val sums = f.indices.groupMapReduce(cat)(k =>
        f(k) * cells(k).getDouble(nk + 1))(_ + _)
      for (k <- f.indices) f(k) *= targets(i)(cat(k)) / sums(cat(k))
    }

    val factors = df.sparkSession.createDataFrame(
      cells.indices.map(k => Row.fromSeq(key(cells(k)) :+ f(k))).asJava,
      StructType(keys.zip(types).map { case (k, t) => StructField(k, t) } :+
        StructField("_rake_factor", DoubleType)))
    df.join(broadcast(factors), keys)
      .select(df.columns.toSeq.map(c =>
        if (c == weightCol) (col(c) * col("_rake_factor")).as(c)
        else col(c)): _*)
  }

  /** Column-by-column order of non-null cell keys: Spark's external
    * values of orderable types (strings, boxed numbers, booleans,
    * dates, timestamps, decimals) are all `java.lang.Comparable`.
    */
  private val keyOrdering: Ordering[Seq[Any]] = (a, b) =>
    a.iterator.zip(b.iterator)
      .map { case (x, y) => x.asInstanceOf[Comparable[Any]].compareTo(y) }
      .find(_ != 0).getOrElse(0)

  /** Fay–Herriot area-level EB blend (Fay & Herriot 1979; simple
    * moment variance estimator in the Prasad–Rao 1990 family) — the
    * area-LEVEL companion to the unit-level EM/EBP pipeline, and the
    * classic small-area model of the reference's domain. Input: one
    * row per area with a direct estimate and its design SE (e.g.
    * [[weightedMeanSE]] output). Model: theta_i = beta + v_i + e_i
    * with Var(v)=sigma2 (estimated), Var(e_i)=psi_i=se_i^2 (known).
    *
    *   sigma2 = max(0, s2(theta) - mean(psi))        (moment)
    *   beta   = GLS intercept = sum(theta/(sigma2+psi))
    *                            / sum(1/(sigma2+psi))
    *   gamma  = sigma2 / (sigma2 + psi_i)
    *   fh     = gamma*theta_i + (1-gamma)*beta       (EB shrinkage)
    *   mse1   = gamma*psi_i                          (leading g1 term)
    *
    * Float note: the sample variance is written as its explicit
    * sum-of-squares identity (not var_samp) so a DuckDB oracle can
    * replay the IDENTICAL expression; feed ROUNDED direct estimates
    * for bit-agreement across engines.
    *
    * Scale shape: the area table is dimension-sized by construction
    * (the big-table scan happened upstream in the direct estimator),
    * so this is two tiny global aggregates broadcast back over the
    * area rows — no data shuffle at any corpus size.
    */
  def fayHerriot(direct: DataFrame, areaCol: String, meanCol: String,
                 seCol: String): DataFrame = {
    val d = direct.select(col(areaCol).as("area"),
      col(meanCol).cast("double").as("theta"),
      (col(seCol).cast("double") * col(seCol).cast("double")).as("psi"))
    val mom = d.agg(count(lit(1)).cast("double").as("m"),
        sum("theta").as("st"),
        sum(col("theta") * col("theta")).as("stt"),
        sum("psi").as("spsi"))
      .select(greatest(lit(0.0),
        (col("stt") - col("st") * col("st") / col("m"))
          / (col("m") - lit(1.0)) - col("spsi") / col("m")).as("sig2"))
    val d2 = d.crossJoin(broadcast(mom))
    val gls = d2.agg(
      (sum(col("theta") / (col("sig2") + col("psi")))
        / sum(lit(1.0) / (col("sig2") + col("psi")))).as("beta"))
    d2.crossJoin(broadcast(gls))
      .withColumn("gamma", col("sig2") / (col("sig2") + col("psi")))
      .select(col("area"), col("theta").as("direct"), col("gamma"),
        (col("gamma") * col("theta")
          + (lit(1.0) - col("gamma")) * col("beta")).as("fh"),
        (col("gamma") * col("psi")).as("mse1"))
  }

  /** Post-stratification (the classical companion to [[rake]] for a
    * single margin): reweight a self-weighting sample so each stratum
    * represents its KNOWN population count, then estimate the overall
    * mean with the stratified variance (finite-population-corrected):
    *
    *   est = sum_h N_h*ybar_h / N
    *   SE  = sqrt( sum_h (N_h/N)^2 * (1 - n_h/N_h) * s2_h / n_h )
    *
    * Output: one row per stratum (population/sample counts, stratum
    * mean and fpc'd SE) plus an `ALL` row carrying the post-stratified
    * estimate and SE. The sample variance is written as its explicit
    * sum-of-squares identity so a DuckDB oracle replays the IDENTICAL
    * float expression (var_samp's internal order differs).
    *
    * Scale shape: ONE map-side-combining groupBy over the sample and
    * one over the population produce stratum-dimension tables; the
    * combination is arithmetic over those tiny rows (broadcast join).
    * No data shuffle beyond the two aggregations at any size.
    */
  def poststratify(sample: DataFrame, strataCol: String, yCol: String,
                   pop: DataFrame): DataFrame = {
    // pop: one row per stratum, columns (strataCol, pop_n)
    val y = col(yCol).cast("double")
    val st = sample.groupBy(strataCol)
      .agg(count(lit(1)).cast("double").as("n_h"),
        sum(y).as("sy"), sum(y * y).as("syy"))
      .withColumn("ybar", col("sy") / col("n_h"))
      .withColumn("s2",
        (col("syy") - col("sy") * col("sy") / col("n_h"))
          / (col("n_h") - lit(1.0)))
      .join(broadcast(pop), Seq(strataCol))
    val tot = st.agg(sum("pop_n").as("bigN"))
    val parts = st.crossJoin(broadcast(tot))
      .withColumn("fpc", lit(1.0) - col("n_h") / col("pop_n"))
      .withColumn("vpart",
        // (r*r) not pow(r,2): the oracle multiplies, and the two are
        // not spec-guaranteed bit-identical
        (col("pop_n") / col("bigN")) * (col("pop_n") / col("bigN"))
          * col("fpc") * col("s2") / col("n_h"))
    val overall = parts.agg(
      sum("pop_n").cast("long").as("pop_n"),
      sum("n_h").cast("long").as("samp_n"),
      (sum(col("pop_n") * col("ybar")) / max(col("bigN"))).as("mean"),
      sqrt(sum("vpart")).as("se"))
      .select(lit("ALL").as(strataCol), col("pop_n"), col("samp_n"),
        col("mean"), col("se"))
    parts.select(col(strataCol), col("pop_n").cast("long").as("pop_n"),
        col("n_h").cast("long").as("samp_n"), col("ybar").as("mean"),
        sqrt(col("fpc") * col("s2") / col("n_h")).as("se"))
      .unionByName(overall)
  }

  /** Horvitz–Thompson estimation of population TOTALS under Poisson
    * sampling with KNOWN per-unit inclusion probabilities — the
    * unequal-probability companion to [[poststratify]] (which assumes
    * self-weighting within strata):
    *
    *   est_g = sum_{sampled in g} y/pi
    *   V_g   = sum_{sampled in g} (1 - pi) * (y/pi)^2   (HT/Poisson)
    *
    * Output: one row per group plus an `ALL` row whose estimate and
    * variance are the SUMS of the per-group figures (totals and
    * Poisson variances are both additive over disjoint groups; an
    * oracle must replay the ALL row as sum-of-group-sums to keep the
    * float association identical).
    *
    * Scale shape: ONE map-side-combining groupBy over the sample; the
    * ALL row folds the group-dimension rows. Nothing else shuffles.
    */
  def htTotal(sample: DataFrame, groupCol: String, yCol: String,
              piCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val pi = col(piCol).cast("double")
    val per = sample.groupBy(groupCol)
      .agg(count(lit(1)).as("n_sampled"),
        sum(y / pi).as("est_total"),
        sum((lit(1.0) - pi) * (y / pi) * (y / pi)).as("v"))
    per.select(col(groupCol), col("n_sampled"), col("est_total"),
        sqrt(col("v")).as("se"))
      .unionByName(per
        .agg(sum("n_sampled").as("n_sampled"),
          sum("est_total").as("est_total"), sum("v").as("v"))
        .select(lit("ALL").as(groupCol), col("n_sampled"),
          col("est_total"), sqrt(col("v")).as("se")))
  }

  /** Design effect (Kish): DEFF = Var_design(mean) / Var_SRS(mean)
    * per group, plus the effective sample size n/DEFF — the standard
    * "how much did the weighting cost me" diagnostic attached to any
    * [[weightedMeanSE]] estimate. Var_design is the same linearized
    * form as weightedMeanSE (scale cancels in the ratio, so none is
    * applied); Var_SRS = s2/n with the explicit sum-of-squares s2 so
    * the oracle replays the identical float expression. ONE grouped
    * pass computes every sum.
    */
  def designEffect(df: DataFrame, groupCol: String, yCol: String,
                   wCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val w = col(wCol).cast("double")
    df.filter(y.isNotNull)
      .groupBy(groupCol)
      .agg(
        sum(y * w).as("swy"), sum(w).as("sw"),
        sum(w * w * y * y).as("swwyy"), sum(w * w * y).as("swwy"),
        sum(w * w).as("sww"), count(lit(1)).cast("double").as("n"),
        sum(y).as("sy"), sum(y * y).as("syy"))
      .withColumn("mu", col("swy") / col("sw"))
      .withColumn("vdesign",
        (col("n") / (col("n") - lit(1.0))) *
          (col("swwyy") - lit(2.0) * col("mu") * col("swwy")
            + col("mu") * col("mu") * col("sww"))
          / (col("sw") * col("sw")))
      .withColumn("s2",
        (col("syy") - col("sy") * col("sy") / col("n"))
          / (col("n") - lit(1.0)))
      .withColumn("deff", col("vdesign") / (col("s2") / col("n")))
      .select(col(groupCol), col("n").cast("long").as("n"),
        col("deff"), (col("n") / col("deff")).as("n_eff"))
  }

  /** Design-based RATIO estimator R = sum(wy)/sum(wx) with the
    * linearized (Taylor) variance — the survey classic for "y per x"
    * quantities (income per household member, price per unit):
    *
    *   V(R) = n/(n-1) * sum(w^2 (y - R x)^2) / (sum wx)^2
    *
    * expanded algebraically (sum w2y2 - 2R sum w2xy + R^2 sum w2x2)
    * so ONE grouped pass computes everything — same single-shuffle
    * shape as [[weightedMeanSE]], which is the x = 1 special case.
    */
  def ratioEstimator(df: DataFrame, groupCol: String, yCol: String,
                     xCol: String, wCol: String): DataFrame = {
    val y = col(yCol).cast("double")
    val x = col(xCol).cast("double")
    val w = col(wCol).cast("double")
    df.filter(y.isNotNull && x.isNotNull)
      .groupBy(groupCol)
      .agg(
        sum(y * w).as("swy"), sum(x * w).as("swx"),
        sum(w * w * y * y).as("swwyy"), sum(w * w * x * y).as("swwxy"),
        sum(w * w * x * x).as("swwxx"), count(lit(1)).as("n"))
      .withColumn("r", col("swy") / col("swx"))
      .select(
        col(groupCol), col("n"), col("r").as("ratio"),
        sqrt((col("n") / (col("n") - lit(1.0))) *
          (col("swwyy") - lit(2.0) * col("r") * col("swwxy")
            + col("r") * col("r") * col("swwxx"))
          / (col("swx") * col("swx"))).as("se"))
  }

  def weightedMeanSE(df: DataFrame, groupCol: String, yCol: String,
                     wCol: String, scale: Double = 1.0): DataFrame = {
    val y = col(yCol).cast("double")
    val w = col(wCol).cast("double")
    df.filter(y.isNotNull)
      .groupBy(groupCol)
      .agg(
        sum(y * w).as("swy"), sum(w).as("sw"),
        sum(w * w * y * y).as("swwyy"), sum(w * w * y).as("swwy"),
        sum(w * w).as("sww"), count(lit(1)).as("n"))
      .select(
        col(groupCol),
        (lit(scale) * col("swy") / col("sw")).as("mean"),
        (lit(scale) * sqrt(
          (col("n") / (col("n") - lit(1.0))) *
            (col("swwyy") - lit(2.0) * (col("swy") / col("sw")) * col("swwy")
              + pow(col("swy") / col("sw"), 2) * col("sww"))
            / pow(col("sw"), 2))).as("se"))
  }

  /** `svyby(..., covmat=TRUE)` companion (`Method_code.Rmd:461`): the
    * full area×area covariance matrix of the design-based means, long
    * form (area_a, area_b, cov). The diagonal is [[weightedMeanSE]]'s
    * variance (same algebraic single-pass, variance computed directly
    * — never by squaring a rounded SE). The OFF-DIAGONALS ARE EXACTLY
    * ZERO, and that is the design, not a shortcut: every unit belongs
    * to exactly one area and the reference's svydesign samples areas
    * independently (no cross-area clustering stage), so any two area
    * means are functions of disjoint independent samples and their
    * covariance vanishes. The reference's own downstream report
    * (`Method_code.Rmd:767`) consumes only the diagonal; emitting the
    * matrix keeps a covmat=TRUE caller whole. Scale: the matrix is
    * #areas² rows — dimension-sized however big the input — and the
    * area list rides a broadcast cross join, never a data shuffle.
    */
  def weightedMeanCov(df: DataFrame, groupCol: String, yCol: String,
                      wCol: String, scale: Double = 1.0): DataFrame = {
    val y = col(yCol).cast("double")
    val w = col(wCol).cast("double")
    val base = df.filter(y.isNotNull)
      .groupBy(groupCol)
      .agg(
        sum(y * w).as("swy"), sum(w).as("sw"),
        sum(w * w * y * y).as("swwyy"), sum(w * w * y).as("swwy"),
        sum(w * w).as("sww"), count(lit(1)).as("n"))
      .select(
        col(groupCol).as("area_a"),
        (lit(scale * scale) *
          (col("n") / (col("n") - lit(1.0))) *
          (col("swwyy") - lit(2.0) * (col("swy") / col("sw")) * col("swwy")
            + pow(col("swy") / col("sw"), 2) * col("sww"))
          / pow(col("sw"), 2)).as("var_a"))
    base.crossJoin(broadcast(base.select(col("area_a").as("area_b"))))
      .select(col("area_a"), col("area_b"),
        when(col("area_a") === col("area_b"), col("var_a"))
          .otherwise(lit(0.0)).as("cov"))
  }
}
