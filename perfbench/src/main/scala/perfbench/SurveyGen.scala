package perfbench

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

/** Seeded two-survey generator with a known truth, the shape of the
  * paper's inputs: a small survey with the binary outcome (PEW's
  * role), a big survey with covariates and weights only (CPS's role),
  * and binary covariates shared by both.
  *
  * Every value is a keyed hash of (seed, field, row or area), so one
  * seed always gives the same rows:
  *   - area of a row: floor(areas * u^1.3) — skewed sizes, small areas
  *     at the high indexes, like states in a national sample;
  *   - covariate k of a row: u < p_k;
  *   - true area effect v_a = sigma * z_a, z_a a standard normal
  *     (Box–Muller over two keyed uniforms);
  *   - outcome y = u < sigmoid(beta0 + x'beta + v_a).
  * The truth an estimate is scored against is each area's big-survey
  * weighted mean of sigmoid(beta0 + x'beta + v_a), in percent — the
  * same "population truth" the paper's bootstrap uses.
  *
  * Rows are built on the driver and handed to Spark as cached
  * DataFrames, so input generation costs no Spark work.
  */
object SurveyGen {

  final case class Spec(areas: Int, smallRows: Int, bigRows: Int,
                        covP: Seq[Double], beta: Seq[Double], sigma: Double) {
    require(beta.length == covP.length + 1, "beta = intercept + one per covariate")
    def featureCols: Seq[String] = covP.indices.map(k => s"x${k + 1}")
  }

  /** The two surveys (cached) and each area's true percentage. */
  final case class Data(small: DataFrame, big: DataFrame, truthPct: Map[String, Double])

  /** splitmix64 finalizer over (seed, stream, index). */
  def mix(seed: Long, stream: Long, i: Long): Long = {
    var z = seed * 0x9E3779B97F4A7C15L + stream * 0xBF58476D1CE4E5B9L + i * 0x94D049BB133111EBL
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }

  /** Uniform in (0, 1) keyed on (seed, stream, index). */
  def u(seed: Long, stream: Long, i: Long): Double =
    ((mix(seed, stream, i) >>> 11) + 0.5) / (1L << 53).toDouble

  def areaName(i: Int): String = f"A$i%04d"

  private def sigmoid(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** Cache `rows` as a DataFrame spread over the session's cores. */
  def cached(s: SparkSession, rows: Seq[Row], schema: StructType): DataFrame = {
    val df = s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .repartition(s.sparkContext.defaultParallelism)
      .persist(StorageLevel.MEMORY_ONLY)
    df.count()
    df
  }

  def generate(s: SparkSession, seed: Long, spec: Spec): Data = {
    val k = spec.covP.length
    val v = Array.tabulate(spec.areas) { a =>
      spec.sigma * math.sqrt(-2.0 * math.log(u(seed, 1, a))) *
        math.cos(2.0 * math.Pi * u(seed, 2, a))
    }
    // survey sv (0 small, 1 big) draws its fields from streams 10 + 100 sv + field
    def unit(sv: Int, i: Int): (Int, Double, Array[Double], Double) = {
      val base = 10L + 100L * sv
      val area = math.min(spec.areas - 1,
        (spec.areas * math.pow(u(seed, base, i), 1.3)).toInt)
      val x = Array.tabulate(k)(j => if (u(seed, base + 2 + j, i) < spec.covP(j)) 1.0 else 0.0)
      val eta = spec.beta.head + x.indices.map(j => spec.beta(j + 1) * x(j)).sum + v(area)
      (area, 0.5 + 1.5 * u(seed, base + 1, i), x, sigmoid(eta))
    }
    val schema = StructType(Seq(StructField("area", StringType),
      StructField("weight", DoubleType), StructField("uid", LongType)) ++
      spec.featureCols.map(StructField(_, DoubleType)))
    val smallRows = (0 until spec.smallRows).map { i =>
      val (a, w, x, p) = unit(0, i)
      Row.fromSeq(Seq(areaName(a), w, i.toLong) ++ x.toSeq :+ (if (u(seed, 99, i) < p) 1 else 0))
    }
    val sw = new Array[Double](spec.areas)
    val swp = new Array[Double](spec.areas)
    val bigRows = (0 until spec.bigRows).map { i =>
      val (a, w, x, p) = unit(1, i)
      sw(a) += w
      swp(a) += w * p
      Row.fromSeq(Seq(areaName(a), w, i.toLong) ++ x.toSeq)
    }
    val truth = sw.indices.filter(sw(_) > 0)
      .map(a => areaName(a) -> 100.0 * swp(a) / sw(a)).toMap
    Data(cached(s, smallRows, schema.add(StructField("y", IntegerType))),
      cached(s, bigRows, schema), truth)
  }
}
