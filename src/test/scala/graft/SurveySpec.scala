package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.stats.Survey

class SurveySpec extends SparkSpec {
  import spark.implicits._

  /** 600 unit-weight rows whose category frequencies are deliberately
    * off the targets, and the targets of their two margins (ca: 2
    * categories, cb: 4).
    */
  private lazy val (df, ta, tb) = {
    val rnd = new scala.util.Random(5)
    val rows = (0 until 600).map { i =>
      val a = if (rnd.nextDouble() < 0.7) "a1" else "a2"
      val b = s"b${rnd.nextInt(4)}"
      (i.toLong, a, b, 1.0)
    }
    (rows.toDF("id", "ca", "cb", "w"),
      Seq(("a1", 300.0), ("a2", 300.0)).toDF("ca", "_target"),
      Seq(("b0", 100.0), ("b1", 200.0), ("b2", 150.0),
        ("b3", 150.0)).toDF("cb", "_target"))
  }

  /** Raking `sample` keeps its columns and matches row-level IPF over
    * its collected rows (each pass scales every row's weight by target /
    * the current weight sum of its category) to a relative 1e-12.
    */
  private def assertMatchesRowIpf(sample: DataFrame, cats: Seq[String],
                                  targets: Seq[DataFrame], iters: Int): Unit = {
    val rows = sample.collect()
    val w = rows.map(_.getAs[Double]("w"))
    val t = targets.map(_.as[(String, Double)].collect().toMap)
    for (_ <- 0 until iters; i <- cats.indices) {
      def cat(r: Int) = rows(r).getAs[String](cats(i))
      val sums = rows.indices.groupMapReduce(cat)(w(_))(_ + _)
      rows.indices.foreach(r => w(r) = w(r) * t(i)(cat(r)) / sums(cat(r)))
    }
    val raked = Survey.rake(sample, "w", cats.zip(targets), iters)
    assert(raked.columns.toSeq == sample.columns.toSeq)
    val got = raked.select($"id", $"w").as[(Long, Double)].collect().toMap
    assert(got.size == rows.length)
    for (r <- rows.indices; id = rows(r).getAs[Long]("id"))
      assert(math.abs(got(id) - w(r)) <= 1e-12 * math.abs(w(r)),
        s"row $id: raked ${got(id)}, row-level IPF ${w(r)}")
  }

  test("rake matches IPF margins: last margin exact, first converging") {
    val raked = Survey.rake(df, "w", Seq("ca" -> ta, "cb" -> tb),
      iters = 5).cache()
    // the LAST margin of the final cycle is matched exactly
    val bm = raked.groupBy("cb").agg(sum("w").as("s"))
      .as[(String, Double)].collect().toMap
    Seq("b0" -> 100.0, "b1" -> 200.0, "b2" -> 150.0, "b3" -> 150.0)
      .foreach { case (c, t) =>
        assert(math.abs(bm(c) - t) < 1e-9, s"$c: ${bm(c)}") }
    // earlier margins converge geometrically — close after 5 cycles
    val am = raked.groupBy("ca").agg(sum("w").as("s"))
      .as[(String, Double)].collect().toMap
    assert(math.abs(am("a1") - 300.0) < 0.5, s"a1: ${am("a1")}")
    assert(math.abs(am("a2") - 300.0) < 0.5, s"a2: ${am("a2")}")
    // total mass equals the (shared) margin total
    val tot = raked.agg(sum("w")).head().getDouble(0)
    assert(math.abs(tot - 600.0) < 1e-9)
    // partitioning-invariant on rounded weights
    val again = Survey.rake(df.repartition(7), "w",
        Seq("ca" -> ta, "cb" -> tb), iters = 5)
      .select($"id", round($"w", 9).as("w"))
      .as[(Long, Double)].collect().toMap
    val first = raked.select($"id", round($"w", 9).as("w"))
      .as[(Long, Double)].collect().toMap
    assert(again == first)
  }

  test("rake matches a row-level IPF oracle: two margins with unit " +
      "weights, three margins with unequal weights") {
    assertMatchesRowIpf(df, Seq("ca", "cb"), Seq(ta, tb), iters = 5)
    val rnd = new scala.util.Random(11)
    val df3 = (0 until 400).map { i =>
      (i.toLong, s"a${rnd.nextInt(3)}", s"b${rnd.nextInt(4)}",
        if (rnd.nextDouble() < 0.6) "c0" else "c1",
        0.5 + 2.0 * rnd.nextDouble())
    }.toDF("id", "ca", "cb", "cc", "w")
    val t3 = Seq(
      Seq(("a0", 500.0), ("a1", 300.0), ("a2", 200.0)).toDF("ca", "_target"),
      Seq(("b0", 100.0), ("b1", 400.0), ("b2", 250.0), ("b3", 250.0))
        .toDF("cb", "_target"),
      Seq(("c0", 450.0), ("c1", 550.0)).toDF("cc", "_target"))
    assertMatchesRowIpf(df3, Seq("ca", "cb", "cc"), t3, iters = 4)
  }

  test("rake's plan has the same size for any number of cycles") {
    def leaves(iters: Int) = Survey.rake(df, "w",
        Seq("ca" -> ta, "cb" -> tb), iters)
      .queryExecution.optimizedPlan.collectLeaves().size
    assert(leaves(1) == leaves(8), s"${leaves(1)} vs ${leaves(8)}")
  }

  private def rakeError(sample: DataFrame, ta: DataFrame, tb: DataFrame) =
    intercept[IllegalArgumentException] {
      Survey.rake(sample, "w", Seq("ca" -> ta, "cb" -> tb), iters = 2)
    }.getMessage

  test("rake rejects a null category in the sample") {
    val msg = rakeError(df.withColumn("cb",
      when($"id" === 7L, lit(null)).otherwise($"cb")), ta, tb)
    assert(msg.contains("'cb'") && msg.contains("null"), msg)
  }

  test("rake rejects a sample category with no target") {
    val msg = rakeError(df, ta, tb.filter($"cb" =!= "b3"))
    assert(msg.contains("'cb'") && msg.contains("'b3'"), msg)
  }

  test("rake rejects a target category with no sample rows") {
    val msg = rakeError(df.filter($"cb" =!= "b2"), ta, tb)
    assert(msg.contains("'cb'") && msg.contains("'b2'") && msg.contains("no rows"), msg)
  }

  test("rake rejects a target table that lists a category twice") {
    val msg = rakeError(df, ta,
      tb.union(Seq(("b1", 200.0)).toDF("cb", "_target")))
    assert(msg.contains("'cb'") && msg.contains("'b1' twice"), msg)
  }

  test("rake rejects a target that is not positive") {
    for (bad <- Seq(0.0, -50.0)) {
      val msg = rakeError(df, ta.withColumn("_target",
        when($"ca" === "a2", lit(bad)).otherwise($"_target")), tb)
      assert(msg.contains("'ca'") && msg.contains("'a2'"), msg)
    }
  }

  test("weightedMeanCov: diagonal equals the closed-form Taylor " +
      "variance, off-diagonals exactly zero, matrix is areas²") {
    // two areas, hand-computable: area A has y=(1,0) w=(2,1),
    // area B has y=(1,1,0) w=(1,1,2)
    val df = Seq(
      ("A", 1.0, 2.0), ("A", 0.0, 1.0),
      ("B", 1.0, 1.0), ("B", 1.0, 1.0), ("B", 0.0, 2.0)
    ).toDF("area", "y", "w")
    // closed form, V = n/(n-1) * Σ w²(y-μ)² / (Σw)²  (μ = Σwy/Σw):
    // A: μ=2/3, Σw²(y-μ)² = 4·(1/3)² + 1·(2/3)² = 8/9, V = 2·(8/9)/9
    val vA = 2.0 * (8.0 / 9.0) / 9.0
    // B: μ=0.5, Σw²(y-μ)² = 1·.25 + 1·.25 + 4·.25 = 1.5,
    //    V = (3/2)·1.5/16
    val vB = 1.5 * 1.5 / 16.0
    val m = Survey.weightedMeanCov(df, "area", "y", "w")
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(m.size == 4)
    assert(math.abs(m(("A", "A")) - vA) < 1e-12, s"${m(("A", "A"))}")
    assert(math.abs(m(("B", "B")) - vB) < 1e-12, s"${m(("B", "B"))}")
    // independent sampling across areas: disjoint samples ⇒ cov 0
    assert(m(("A", "B")) == 0.0 && m(("B", "A")) == 0.0)
    // diagonal ties back to weightedMeanSE: var = se²
    val se = Survey.weightedMeanSE(df, "area", "y", "w")
      .select($"area", $"se").as[(String, Double)].collect().toMap
    assert(math.abs(m(("A", "A")) - se("A") * se("A")) < 1e-12)
    assert(math.abs(m(("B", "B")) - se("B") * se("B")) < 1e-12)
    // scale factor propagates as scale²
    val s100 = Survey.weightedMeanCov(df, "area", "y", "w", scale = 100.0)
      .as[(String, String, Double)].collect()
      .map(t => (t._1, t._2) -> t._3).toMap
    assert(math.abs(s100(("A", "A")) - 10000 * vA) < 1e-8)
  }

  test("fayHerriot: shrinkage contract — gamma in (0,1), noisier areas " +
      "shrink harder, estimates move toward the GLS mean") {
    // 4 areas: two precise (small psi), two noisy (large psi)
    val direct = Seq(("a", 10.0, 1.0), ("b", 20.0, 1.0),
      ("c", 30.0, 5.0), ("d", 40.0, 5.0)).toDF("area", "mean", "se")
    val r = Survey.fayHerriot(direct, "area", "mean", "se")
      .as[(String, Double, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    val beta = {
      // replicate the GLS intercept for the expected-direction checks
      val thetas = Seq(10.0, 20.0, 30.0, 40.0)
      val psis = Seq(1.0, 1.0, 25.0, 25.0)
      val m = 4.0
      val s2 = (thetas.map(t => t * t).sum -
        math.pow(thetas.sum, 2) / m) / (m - 1)
      val sig2 = math.max(0.0, s2 - psis.sum / m)
      thetas.zip(psis).map { case (t, p) => t / (sig2 + p) }.sum /
        psis.map(p => 1.0 / (sig2 + p)).sum
    }
    r.values.foreach { case (_, g, _, _) =>
      assert(g > 0 && g < 1, s"gamma out of range: $g") }
    // noisy areas have smaller gamma (shrink more)
    assert(r("c")._2 < r("a")._2 && r("d")._2 < r("b")._2)
    // every FH estimate lies strictly between its direct and beta
    r.foreach { case (_, (direct0, _, fh, _)) =>
      val lo = math.min(direct0, beta); val hi = math.max(direct0, beta)
      assert(fh > lo && fh < hi, s"fh $fh outside ($direct0, $beta)") }
    // mse1 = gamma*psi is below the direct design variance
    assert(r("c")._4 < 25.0 && r("a")._4 < 1.0)
  }

  test("fayHerriot: identical direct estimates collapse to full " +
      "shrinkage (sigma2 = 0, fh = beta = the common value)") {
    val direct = Seq(("a", 7.0, 2.0), ("b", 7.0, 3.0), ("c", 7.0, 1.0))
      .toDF("area", "mean", "se")
    val r = Survey.fayHerriot(direct, "area", "mean", "se")
      .as[(String, Double, Double, Double, Double)].collect()
    r.foreach { case (_, _, g, fh, mse1) =>
      assert(g == 0.0)
      assert(math.abs(fh - 7.0) < 1e-12)
      assert(mse1 == 0.0)
    }
  }

  test("poststratify: hand-computed two-strata case, census collapse, " +
      "and partitioning invariance") {
    // stratum a: sample {1, 3} of pop 4; stratum b: {10, 14} of pop 8
    val samp = Seq(("a", 1.0), ("a", 3.0), ("b", 10.0), ("b", 14.0))
      .toDF("seg", "y")
    val pop = Seq(("a", 4.0), ("b", 8.0)).toDF("seg", "pop_n")
    val r = Survey.poststratify(samp, "seg", "y", pop)
      .as[(String, Long, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._3, t._4, t._5))).toMap
    // stratum means 2 and 12; est = (4*2 + 8*12)/12 = 104/12
    assert(math.abs(r("ALL")._2 - 104.0 / 12.0) < 1e-12)
    // s2 = 2 and 8; fpc = 1/2 and 3/4:
    // var = (4/12)^2*(1/2)*2/2 + (8/12)^2*(3/4)*8/2
    val v = math.pow(4.0 / 12, 2) * 0.5 * 2 / 2 +
      math.pow(8.0 / 12, 2) * 0.75 * 8 / 2
    assert(math.abs(r("ALL")._3 - math.sqrt(v)) < 1e-12)
    assert(r("a")._1 == 2L && r("b")._1 == 2L)
    // census (n_h = N_h): fpc kills every variance term
    val census = Survey.poststratify(samp, "seg", "y",
        Seq(("a", 2.0), ("b", 2.0)).toDF("seg", "pop_n"))
      .as[(String, Long, Long, Double, Double)].collect()
    census.foreach { case (_, _, _, _, se) => assert(se == 0.0) }
    // partitioning-invariant (pure aggregates + rounded output)
    val again = Survey.poststratify(samp.repartition(7), "seg", "y", pop)
      .select(col("seg"), round(col("mean"), 9), round(col("se"), 9))
      .as[(String, Double, Double)].collect().toSet
    val first = Survey.poststratify(samp, "seg", "y", pop)
      .select(col("seg"), round(col("mean"), 9), round(col("se"), 9))
      .as[(String, Double, Double)].collect().toSet
    assert(again == first)
  }

  test("htTotal: hand-computed case, census collapse, additive ALL row") {
    // group a: y={10, 20} at pi=0.5 -> est 60, v = 0.5*400 + 0.5*1600
    // group b: y={30} at pi=0.25    -> est 120, v = 0.75*14400
    val samp = Seq(("a", 10.0, 0.5), ("a", 20.0, 0.5), ("b", 30.0, 0.25))
      .toDF("seg", "y", "pi")
    val r = Survey.htTotal(samp, "seg", "y", "pi")
      .as[(String, Long, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4))).toMap
    assert(r("a")._2 == 60.0 && r("b")._2 == 120.0)
    assert(math.abs(r("a")._3 - math.sqrt(0.5 * 400 + 0.5 * 1600)) < 1e-12)
    assert(math.abs(r("b")._3 - math.sqrt(0.75 * 14400)) < 1e-12)
    // ALL row: totals and variances add over disjoint groups
    assert(r("ALL")._1 == 3L && r("ALL")._2 == 180.0)
    assert(math.abs(r("ALL")._3
      - math.sqrt(0.5 * 400 + 0.5 * 1600 + 0.75 * 14400)) < 1e-12)
    // census (pi = 1): estimator is the exact total with zero variance
    val census = Survey.htTotal(
        samp.withColumn("pi", lit(1.0)), "seg", "y", "pi")
      .as[(String, Long, Double, Double)].collect()
    census.foreach { case (_, _, _, se) => assert(se == 0.0) }
    assert(census.find(_._1 == "ALL").get._3 == 60.0)
  }
}
