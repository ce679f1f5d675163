package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Closed-loop benchmark driver: one client, one op after another.
  *
  * {{{
  *   perfbench.Main --workload <sae_state|sae_county|corpus_ingest>
  *                  --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * }}}
  *
  * Set-up (session start, input generation, path assertions and the
  * workload's uncounted warm-up ops) is timed as `setup_s`. Then ops
  * run until `--seconds` have passed. Every op's output is checked
  * after its timing stops. Between ops, untimed, the heap is collected
  * so every op starts from the same live set; the old-generation bytes
  * after that collection give `heap_live_peak_mb`.
  *
  * `--trace 1` records spans around every layer call and reports the
  * per-layer figures instead of the end-to-end ones. The last stdout
  * line is the result JSON; spans are written to `<out>/spans.jsonl`.
  */
object Main {

  final case class Args(workload: String, seed: Long, seconds: Double,
                        trace: Boolean, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    Args(m("workload"), m.getOrElse("seed", "1").toLong,
      m.getOrElse("seconds", "10").toDouble, m.getOrElse("trace", "0") == "1",
      m.getOrElse("out", "perfbench-out"))
  }

  /** Default seed: the one the pinned figures were recorded for. */
  val PinnedSeed = 1L

  def main(argv: Array[String]): Unit = {
    val t0 = System.nanoTime()
    val args = parse(argv)
    val out = new File(args.out)
    // run.py sweeps this before every run, so each run starts cold
    val scratch = new File(out, "scratch")
    scratch.mkdirs()
    // graft's own fixture and temp dirs land under the benchmark's scratch
    System.setProperty("graft.scratch", new File(scratch, "graft").getAbsolutePath)
    val cores = Runtime.getRuntime.availableProcessors
    val load0 = loadavg()
    val jiffies0 = cpuJiffies()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(scratch, "spark-local").getAbsolutePath)
      .config("spark.sql.warehouse.dir", new File(scratch, "warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val tracer = new Tracer(spark.sparkContext, args.trace)
    def log(msg: String): Unit = System.err.println(s"[perfbench] $msg")
    val workload = Workloads.make(args.workload, spark, tracer, args.seed,
      scratch.getAbsolutePath, log)

    val tSession = System.nanoTime()
    workload.setup()
    val tInputs = System.nanoTime()
    val warm = (1 - workload.warmups to 0).map { w =>
      workload.beforeOp(w)
      tracer.op(w)(workload.op(w))
    }
    val tWarm = System.nanoTime()
    val setupS = (tWarm - t0) / 1e9
    val phases = f"session=${(tSession - t0) / 1e9}%.2f inputs=${(tInputs - tSession) / 1e9}%.2f " +
      f"warmup=${(tWarm - tInputs) / 1e9}%.2f"
    val problems = ArrayBuffer.empty[String]
    val figures = ArrayBuffer.empty[Map[String, Double]]
    warm.foreach(runCheck(_, "warm-up", problems, figures))

    final case class Timed(i: Int, wall: Double, rows: Long)
    val timed = ArrayBuffer.empty[Timed]
    var heapPeak = 0L
    val heaps = ArrayBuffer.empty[Long]
    var failed = 0
    val tStart = System.nanoTime()
    def elapsed = (System.nanoTime() - tStart) / 1e9
    var i = 1
    var done = false
    while (!done) {
      workload.beforeOp(i)
      heaps += Jvm.liveHeapBytes()
      heapPeak = math.max(heapPeak, heaps.last)
      val tOp = System.nanoTime()
      val res = try Right(tracer.op(i)(workload.op(i)))
        catch { case e: Exception => Left(e) }
      val wall = (System.nanoTime() - tOp) / 1e9
      res match {
        case Right(r) =>
          timed += Timed(i, wall, r.rows)
          if (!runCheck(r, s"op $i", problems, figures)) failed += 1
        case Left(e) =>
          log(s"op $i threw: $e")
          problems += s"op $i threw: $e"
          failed += 1
      }
      done = elapsed >= args.seconds
      i += 1
    }
    heapPeak = math.max(heapPeak, Jvm.liveHeapBytes())
    val load1 = loadavg()
    val jiffies1 = cpuJiffies()
    val stealPct = 100.0 * (jiffies1._1 - jiffies0._1) / math.max(1L, jiffies1._2 - jiffies0._2)
    tracer.close()
    spark.stop()

    val attempted = i - 1
    val fig = figures.flatMap(_.keys).distinct.sorted.map { k =>
      k -> median(figures.flatMap(_.get(k)).toSeq) }
    val metrics: Seq[(String, Double, String)] =
      if (!args.trace) Seq(
        ("setup_s", setupS, "s"),
        ("op_p50_s", median(timed.map(_.wall).toSeq), "s"),
        ("rows_per_s", timed.map(_.rows).sum / timed.map(_.wall).sum, "1/s"),
        ("heap_live_peak_mb", heapPeak / 1048576.0, "MB"))
      else Layers.perLayer(tracer, timed.map(_.i).toSeq, cores, fig.toMap)
    val correct = problems.isEmpty
    problems.take(20).foreach(p => log(s"CHECK FAILED: $p"))
    println(f"workload=${args.workload} seed=${args.seed} trace=${args.trace} " +
      f"ops=$attempted failed=$failed fail_frac=${failed.toDouble / attempted}%.4f " +
      f"loadavg_start=$load0 loadavg_end=$load1 steal=$stealPct%.1f%% cores=$cores setup: $phases")
    println("  op walls (s): " + timed.map(x => f"${x.wall}%.3f").mkString(" "))
    println("  live heap before each op (MB): " + heaps.map(h => f"${h / 1048576.0}%.0f").mkString(" ") +
      f" peak: ${heapPeak / 1048576.0}%.0f")
    fig.foreach { case (k, v) => println(f"  output  $k%-40s $v%.6f") }
    metrics.foreach { case (k, v, u) => println(f"  metric  $k%-40s $v%.6f $u") }
    if (args.trace) writeSpans(new File(out, "spans.jsonl"), tracer)
    val json = metrics.map { case (k, v, u) =>
      s""""$k": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$json}}""")
  }

  /** Run an op's output check; false (and the problems recorded) when
    * it fails or throws.
    */
  private def runCheck(r: OpRun, label: String, problems: ArrayBuffer[String],
                       figures: ArrayBuffer[Map[String, Double]]): Boolean =
    try {
      val (bad, fig) = r.check()
      figures += fig
      problems ++= bad.map(b => s"$label: $b")
      bad.isEmpty
    } catch { case e: Exception =>
      problems += s"$label: check threw $e"; false }

  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.length % 2 == 1) s(s.length / 2) else (s(s.length / 2 - 1) + s(s.length / 2)) / 2
    }

  private def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else v.toString

  /** (steal, total) jiffies from /proc/stat: CPU time the hypervisor
    * gave to other guests, for run metadata.
    */
  private def cpuJiffies(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val f = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
        finally src.close()
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 1L) }

  private def loadavg(): String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim.split(" ").take(3).mkString("/") finally src.close()
    } catch { case _: Exception => "n/a" }

  private def writeSpans(f: File, t: Tracer): Unit = {
    val w = new PrintWriter(f, "UTF-8")
    try Layers.spanLines(t).foreach(w.println) finally w.close()
  }
}
