package perfbench

import java.io.File

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Dedup, TextAnalysis}
import graft.sources.Versioned
import graft.stats.{Bootstrap, Em, Glmm, Survey}

/** What one op hands back: input rows it processed, and the output
  * check to run once its timing has stopped (problems found, plus
  * named output figures such as the EBP error).
  */
final case class OpRun(rows: Long, check: () => (Seq[String], Map[String, Double]))

trait Workload {
  /** Uncounted ops run at the end of set-up. */
  def warmups: Int = 1
  /** Generate the inputs and assert the intended code paths. */
  def setup(): Unit
  /** Untimed preparation before op `i` (i <= 0 are warm-ups). */
  def beforeOp(i: Int): Unit = ()
  def op(i: Int): OpRun
}

/** The paper's estimator end to end: fixed-effects fit -> EM ->
  * EBP -> direct estimates -> (optional) bootstrap MSPE -> the
  * final-report LEFT JOIN SQL (Method_code.Rmd:763-773).
  */
final class SaeWorkload(s: SparkSession, t: Tracer, seed: Long,
                        spec: SurveyGen.Spec, emDraws: Int, boot: Option[SaeWorkload.Boot],
                        distributedEm: Boolean, pinned: Option[SaeWorkload.Pin],
                        override val warmups: Int, log: String => Unit) extends Workload {
  import SaeWorkload._

  private val feats = spec.featureCols
  private var data: SurveyGen.Data = _
  private var first: Option[Seq[Row]] = None

  def rowsPerOp: Long = spec.smallRows.toLong + spec.bigRows

  def setup(): Unit = {
    data = SurveyGen.generate(s, seed, spec)
    // Em.fit collects the cell table to the driver iff it has at most
    // maxLocalCells (65,536) cells: pin which side of that bound we are
    val cells = Em.compressCells(data.small, "y", feats, "area").count()
    log(s"cells=$cells (Em.fit local bound $LocalCells)")
    if (distributedEm)
      require(cells > 2L * LocalCells,
        s"distributed-EM workload needs > ${2 * LocalCells} cells, has $cells")
    else
      require(cells * 16 < LocalCells,
        s"driver-local-EM workload needs << $LocalCells cells, has $cells")
  }

  def op(i: Int): OpRun = {
    val beta = t.span("stats.glmm.fit") {
      Glmm.fitLogistic(data.small, "y", feats)
    }
    val fit = t.span("stats.em.fit") {
      val f = Em.fit(data.small, "y", feats, "area", Em.Params(beta, 0.25),
        numDraws = emDraws, tol = 0.01, seed = 42L)
      t.note("stats.em.iters", f.iters)
      f
    }
    val ebp = t.span("stats.em.ebp") {
      Em.ebp(data.big, fit.params, feats, "area", "weight", fit.draws,
        ebpDraws = 100).collect()
    }
    val direct = t.span("stats.survey.direct") {
      Survey.weightedMeanSE(data.small, "area", "y", "weight", scale = 100.0)
        .collect()
    }
    val mspe = boot.map { b =>
      t.span("stats.bootstrap.mspe") {
        Bootstrap.mspe(data.small, data.big, "y", feats, "area", "weight",
          Seq("uid"), fit.params, numB = b.replicates, seed = 7L,
          numDraws = b.draws, emIters = b.emIters, ebpDraws = 100,
          initScheme = "reference", tol = 0.01,
          concurrency = math.min(b.replicates, s.sparkContext.defaultParallelism))
          .collect()
      }
    }.getOrElse(Array.empty[Row])
    val report = t.span("rel.report_sql") {
      view(ebp, "em_est", "ebp")
      view(mspe, "final_mspe", "mspe")
      view(direct.map(r => Row(r.getString(0), r.getDouble(1), r.getDouble(2))),
        "direct_est", "mean", "se")
      s.sql("""
        SELECT a.area,
               a.ebp              AS em_est,
               b.mspe             AS mspe,
               ROUND(c.mean, 2)   AS direct,
               ROUND(c.se, 2)     AS direct_se
        FROM em_est a
        LEFT JOIN final_mspe b ON a.area = b.area
        LEFT JOIN direct_est c ON a.area = c.area
        ORDER BY a.area""").collect().toSeq
    }
    OpRun(rowsPerOp, () => check(report, fit))
  }

  private def view(rows: Array[Row], name: String, cols: String*): Unit = {
    val schema = StructType(StructField("area", StringType) +:
      cols.map(StructField(_, DoubleType)))
    s.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
      .createOrReplaceTempView(name)
  }

  private def check(report: Seq[Row], fit: Em.Fit): (Seq[String], Map[String, Double]) = {
    val bad = Seq.newBuilder[String]
    val areas = report.map(_.getString(0))
    if (areas.toSet != data.truthPct.keySet)
      bad += s"report has ${areas.size} areas, expected ${data.truthPct.size}"
    val est = report.map(r => r.getString(0) -> r.getDouble(1)).toMap
    est.foreach { case (a, e) =>
      if (!(e >= 0.0 && e <= 100.0)) bad += s"EBP $a = $e not in [0, 100]" }
    val mspes = report.filterNot(_.isNullAt(2)).map(_.getDouble(2))
    if (boot.isDefined) {
      if (mspes.size != report.size) bad += s"${report.size - mspes.size} areas lack MSPE"
      mspes.filterNot(m => m >= 0.0 && !m.isInfinite).foreach(m => bad += s"MSPE $m not finite >= 0")
    }
    if (!fit.converged) bad += s"EM did not converge in ${fit.iters} iterations"
    val aad = est.map { case (a, e) => math.abs(e - data.truthPct.getOrElse(a, e)) }
      .sum / math.max(1, est.size)
    val meanEbp = est.values.sum / math.max(1, est.size)
    val sigma = math.sqrt(fit.params.sigmaSq)
    if (!(aad < MaxAadPp)) bad += f"EBP AAD $aad%.3f pp >= $MaxAadPp pp"
    val meanMspe = mspes.sum / math.max(1, mspes.size)
    pinned.foreach { p =>
      if (math.abs(meanEbp - p.meanEbp) > PinTolPp)
        bad += f"mean EBP $meanEbp%.6f differs from pinned ${p.meanEbp}%.6f by > $PinTolPp pp"
      if (math.abs(sigma - p.sigma) > PinTolSigma)
        bad += f"sigma $sigma%.6f differs from pinned ${p.sigma}%.6f by > $PinTolSigma"
      p.meanMspe.foreach { m =>
        if (math.abs(meanMspe - m) > PinTolPp)
          bad += f"mean MSPE $meanMspe%.6f differs from pinned $m%.6f by > $PinTolPp pp"
      }
    }
    // the same inputs and seeds must give the same report on every op
    first match {
      case None => first = Some(report)
      case Some(f) =>
        val drift = f.zip(report).map { case (a, b) =>
          math.abs(a.getDouble(1) - b.getDouble(1)) }.maxOption.getOrElse(0.0)
        if (f.size != report.size || drift > DriftPp)
          bad += f"report differs from the first op's (max EBP drift $drift%.2e)"
    }
    val figures = Map("ebp_aad_pp" -> aad, "ebp_mean_pp" -> meanEbp, "em_sigma" -> sigma,
      "em_iters" -> fit.iters.toDouble) ++
      (if (boot.isDefined) Map("mspe_mean_pp" -> meanMspe) else Map.empty)
    (bad.result(), figures)
  }
}

object SaeWorkload {
  val LocalCells: Int = 1 << 16
  /** A sanity bound on the EBP error for any seed: the generated
    * truth is recoverable far better than this.
    */
  val MaxAadPp: Double = 10.0
  /** Repeat ops must agree to this many percentage points: the
    * distributed EM sums in task-completion order, so its float noise
    * can steer L-BFGS a little differently from op to op.
    */
  val DriftPp: Double = 1e-3

  final case class Boot(replicates: Int, draws: Int, emIters: Int)
  /** Outputs recorded for the pinned seed (Main.PinnedSeed). */
  final case class Pin(meanEbp: Double, sigma: Double, meanMspe: Option[Double])
  /** Pins hold to these tolerances: loose enough for a change in float
    * summation order (the distributed EM drifts ~5e-6 pp between ops),
    * tight enough that any change to the estimator's draws or updates
    * shows. A change that moves the estimates on purpose re-pins.
    */
  val PinTolPp: Double = 0.01
  val PinTolSigma: Double = 0.001
}

/** Incremental corpus ingest into a versioned copy-on-write store:
  * clean + fingerprint -> in-batch exact dedup -> anti-join against
  * the stored fingerprints -> MinHash LSH + connected components ->
  * quality gate -> merge commit, then a snapshot read and a change
  * feed read of the new version.
  *
  * Every op ingests the same batch into a freshly written store
  * (written untimed, before the op), so every op sees the same table.
  */
final class CorpusWorkload(s: SparkSession, t: Tracer, seed: Long,
                           spec: CorpusGen.Spec, root: String,
                           log: String => Unit) extends Workload {
  private var store: DataFrame = _
  private var storedRows = 0L
  private var batch: CorpusGen.Batch = _
  private var tableRoot = ""

  def setup(): Unit = {
    store = withFp(CorpusGen.store(s, seed, spec)).persist(StorageLevel.MEMORY_ONLY)
    storedRows = store.count()
    batch = CorpusGen.batch(s, seed, spec)
    log(s"store=$storedRows docs, batch of ${batch.rows} rows, " +
      s"${spec.planted} planted per kind")
  }

  private def withFp(df: DataFrame): DataFrame =
    df.withColumn("text", TextAnalysis.cleanText(col("text")))
      .withColumn("fp", TextAnalysis.fingerprint(col("text")))

  override def beforeOp(i: Int): Unit = {
    tableRoot = new File(root, s"table-${i + 100}").getAbsolutePath
    Versioned.write(store, tableRoot, "doc_id", 0, s.sparkContext.defaultParallelism)
  }

  def op(i: Int): OpRun = {
    val (b, from, version) = (batch, 0, 1)
    val cleaned = t.span("ops.text.clean") {
      val c = withFp(b.df).persist(StorageLevel.MEMORY_ONLY)
      c.count(); c
    }
    val unique = t.span("ops.dedup.exact") {
      val keep = Dedup.exact(cleaned, "doc_id", "text").select(col("keep_id").as("doc_id"))
      val u = cleaned.join(keep, Seq("doc_id"), "left_semi").persist(StorageLevel.MEMORY_ONLY)
      u.count(); u
    }
    val novel = t.span("ops.dedup.store_anti") {
      val stored = Versioned.readAsOf(s, tableRoot, from)
      val n = Dedup.storeAntiJoin(unique, stored, "fp").persist(StorageLevel.MEMORY_ONLY)
      n.count(); n
    }
    val pairs = t.span("ops.dedup.lsh") {
      val p = Dedup.minhashLshBudgeted(novel, "doc_id", "text")._1
        .persist(StorageLevel.MEMORY_ONLY)
      t.note("ops.dedup.pairs", p.count().toDouble)
      p
    }
    val dropped = t.span("ops.dedup.cc") {
      Dedup.connectedComponents(pairs, "id_a", "id_b")
        .filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
        .collect().map(_.getLong(0))
    }
    val gated = t.span("ops.text.gate") {
      val g = novel.filter(!col("doc_id").isin(dropped.toIndexedSeq: _*))
        .filter(TextAnalysis.tokenCount(col("text")) >= 10 &&
          TextAnalysis.qualityScore(col("text")) >= 0.3)
        .persist(StorageLevel.MEMORY_ONLY)
      g.count(); g
    }
    val committed = gated.count()
    var bytesBefore = 0L
    t.extra { bytesBefore = dataBytes() }
    t.span("sources.versioned.commit") {
      Versioned.merge(s, tableRoot, "doc_id", "op", gated.withColumn("op", lit("U")),
        from, version)
    }
    t.extra { t.note("sources.versioned.bytes_written_per_row",
      (dataBytes() - bytesBefore).toDouble / math.max(1L, committed)) }
    val snap = t.span("sources.versioned.read") {
      Versioned.readAsOf(s, tableRoot, version)
        .agg(count(lit(1)), countDistinct(col("doc_id")), countDistinct(col("fp")))
        .head()
    }
    val inserts = t.span("sources.versioned.cdf") {
      Versioned.changeFeed(s, tableRoot, "doc_id", from, version)
        .filter(col("_change_type") === "insert").count()
    }
    t.extra { t.note("sources.versioned.files",
      Versioned.manifest(s, tableRoot, version).filter(col("kind") === "data").count().toDouble) }
    Seq(cleaned, unique, novel, pairs, gated).foreach(_.unpersist())
    val root = tableRoot
    OpRun(b.rows, () => check(b, root, version, storedRows, committed, snap, inserts))
  }

  private def dataBytes(): Long = {
    def walk(f: File): Long =
      if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).map(walk).sum
      else if (f.getName.endsWith(".parquet")) f.length() else 0L
    walk(new File(tableRoot, "files"))
  }

  private def check(b: CorpusGen.Batch, root: String, v: Int, before: Long,
                    committed: Long, snap: Row,
                    inserts: Long): (Seq[String], Map[String, Double]) = {
    val bad = Seq.newBuilder[String]
    val (rows, ids, fps) = (snap.getLong(0), snap.getLong(1), snap.getLong(2))
    if (ids != rows) bad += s"doc_id not unique: $ids distinct of $rows"
    if (fps != rows) bad += s"fp not unique: $fps distinct of $rows"
    if (rows != before + committed)
      bad += s"snapshot has $rows rows, expected $before + $committed"
    if (inserts != committed) bad += s"change feed has $inserts inserts, committed $committed"
    val planted = (b.recrawlIds ++ b.copyIds.flatMap(p => Seq(p._1, p._2)) ++
      b.mutantIds.flatMap(p => Seq(p._1, p._2)) ++ b.junkIds).distinct
    val present = Versioned.readAsOf(s, root, v)
      .filter(col("doc_id").isin(planted: _*)).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    val leaks = b.recrawlIds.count(present) +
      (b.copyIds ++ b.mutantIds).count { case (a, c) => present(a) && present(c) }
    val junk = b.junkIds.count(present)
    if (junk > 0) bad += s"$junk junk documents passed the quality gate"
    val nPlanted = b.recrawlIds.size + b.copyIds.size + b.mutantIds.size
    (bad.result(), Map("dup_leak_frac" -> leaks.toDouble / nPlanted,
      "committed_rows" -> committed.toDouble))
  }
}

/** The three workloads at their benchmark sizes. */
object Workloads {
  val Names: Seq[String] = Seq("sae_state", "sae_county", "corpus_ingest")

  /** 51 areas, a PEW-sized small survey and 4 binary covariates: the
    * cell table stays far below Em.fit's local bound.
    */
  val State: SurveyGen.Spec = SurveyGen.Spec(areas = 51, smallRows = 2500,
    bigRows = 10000, covP = Seq(0.3, 0.5, 0.2, 0.25),
    beta = Seq(-0.3, 0.4, -0.3, 0.8, -0.6), sigma = 0.4)
  val StateBoot: SaeWorkload.Boot = SaeWorkload.Boot(replicates = 2, draws = 200, emIters = 5)

  /** County scale: 3,142 areas and 7 covariates put the cell table
    * above twice the local bound, so Em.fit runs distributed.
    */
  val County: SurveyGen.Spec = SurveyGen.Spec(areas = 3142, smallRows = 200000,
    bigRows = 30000, covP = Seq(0.5, 0.45, 0.5, 0.5, 0.45, 0.5, 0.5),
    beta = Seq(-0.2, 0.4, -0.3, 0.6, 0.5, -0.5, 0.3, -0.2), sigma = 0.4)

  val Corpus: CorpusGen.Spec = CorpusGen.Spec(baseDocs = 2000, batchDocs = 500,
    plantFrac = 0.02)

  def make(name: String, s: SparkSession, t: Tracer, seed: Long, scratch: String,
           log: String => Unit): Workload = {
    def pin(p: SaeWorkload.Pin) = if (seed == Main.PinnedSeed) Some(p) else None
    name match {
      case "sae_state" => new SaeWorkload(s, t, seed, State, emDraws = 1000, Some(StateBoot),
        distributedEm = false, pin(SaeWorkload.Pin(42.434907, 0.350158, Some(6.100602))),
        // the first op after one warm-up still runs ~10% slow while the
        // JIT compiles; a state op is short enough to afford a second
        warmups = 2, log)
      case "sae_county" => new SaeWorkload(s, t, seed, County, emDraws = 100, None,
        distributedEm = true, pin(SaeWorkload.Pin(55.224004, 0.407529, None)), warmups = 1, log)
      case "corpus_ingest" => new CorpusWorkload(s, t, seed, Corpus,
        new File(scratch, "corpus").getAbsolutePath, log)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other; expected one of ${Names.mkString(", ")}")
    }
  }
}
