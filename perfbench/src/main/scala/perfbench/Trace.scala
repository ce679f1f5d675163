package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.logging.log4j.{Level, LogManager}
import org.apache.logging.log4j.core.{LogEvent, LoggerContext}
import org.apache.logging.log4j.core.appender.AbstractAppender
import org.apache.logging.log4j.core.config.{LoggerConfig, Property}
import org.apache.spark.{PerfbenchBus, SparkContext, Success}
import org.apache.spark.scheduler._

/** One timed region of benchmark code around a call into a layer's
  * public API. `parent` is -1 for an op's root span. `notes` holds
  * values the benchmark attaches (iteration counts, pair counts,
  * bytes); `spark` holds the counters of the jobs run under this
  * span's own job group (children excluded).
  */
final class Span(val id: Int, val name: String, val parent: Int,
                 val op: Int, val startNs: Long) {
  var endNs: Long = 0L
  /** JVM GC milliseconds within the span (a start reading until exit). */
  var gcMs: Long = 0L
  val notes = mutable.LinkedHashMap.empty[String, Double]
  var spark: Counters = Counters()
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Spark task/job counters of one job group. */
final case class Counters(jobs: Long = 0, stages: Long = 0, tasks: Long = 0,
                          failedTasks: Long = 0, runMs: Long = 0,
                          cpuNs: Long = 0, shuffleWriteBytes: Long = 0,
                          skewMax: Double = 1.0, resets: Long = 0) {
  def +(o: Counters): Counters = Counters(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, failedTasks + o.failedTasks, runMs + o.runMs,
    cpuNs + o.cpuNs, shuffleWriteBytes + o.shuffleWriteBytes,
    math.max(skewMax, o.skewMax), resets + o.resets)
}

/** Listener that files every job, stage and task under the job group
  * it ran in (`spark.jobGroup.id`, which the tracer sets per span and
  * which threads started inside a span inherit).
  */
final class GroupListener extends SparkListener {
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val acc = mutable.HashMap.empty[String, Counters]
  private val taskTimes = mutable.HashMap.empty[(String, Int), ArrayBuffer[Long]]
  /** Nanoseconds spent in this listener's handlers (tracing cost). */
  @volatile var handlerNs = 0L

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private def bump(g: String)(f: Counters => Counters): Unit = synchronized {
    acc(g) = f(acc.getOrElse(g, Counters()))
  }

  private def timed(body: => Unit): Unit = {
    val t0 = System.nanoTime()
    body
    handlerNs += System.nanoTime() - t0
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = timed {
    val g = group(e.properties)
    e.stageIds.foreach(stageGroup.put(_, g))
    bump(g)(c => c.copy(jobs = c.jobs + 1))
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = timed {
    val g = group(e.properties)
    stageGroup.put(e.stageInfo.stageId, g)
    bump(g)(c => c.copy(stages = c.stages + 1))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = timed {
    val g = Option(stageGroup.get(e.stageId)).getOrElse("")
    val m = Option(e.taskMetrics)
    val failed = e.reason != Success
    synchronized {
      taskTimes.getOrElseUpdate((g, e.stageId), ArrayBuffer.empty) +=
        e.taskInfo.duration
    }
    bump(g)(c => c.copy(
      tasks = c.tasks + 1,
      failedTasks = c.failedTasks + (if (failed) 1 else 0),
      runMs = c.runMs + m.map(_.executorRunTime).getOrElse(0L),
      cpuNs = c.cpuNs + m.map(_.executorCpuTime).getOrElse(0L),
      shuffleWriteBytes = c.shuffleWriteBytes +
        m.map(_.shuffleWriteMetrics.bytesWritten).getOrElse(0L)))
  }

  /** Remove and return the counters of `g`, with the worst stage's
    * max/median task-time ratio folded in.
    */
  def take(g: String): Counters = synchronized {
    val stages = taskTimes.keys.filter(_._1 == g).toSeq
    val skew = stages.map { k =>
      val ts = taskTimes.remove(k).get.sorted
      val med = ts(ts.length / 2)
      if (ts.length < 2 || med <= 0) 1.0 else ts.last.toDouble / med
    }
    acc.remove(g).getOrElse(Counters()).copy(
      skewMax = (1.0 +: skew).max)
  }
}

/** Counts breeze's "Resetting history" L-BFGS restarts (logged at
  * ERROR by breeze.optimize.FirstOrderMinimizer) per job group of the
  * logging thread.
  */
final class ResetCounter(sc: SparkContext) extends AbstractAppender(
    "perfbench-lbfgs-resets", null, null, true, Property.EMPTY_ARRAY) {
  private val counts = new ConcurrentHashMap[String, java.lang.Long]()

  override def append(e: LogEvent): Unit =
    if (e.getMessage.getFormattedMessage.contains("Resetting history")) {
      val g = Option(sc.getLocalProperty("spark.jobGroup.id")).getOrElse("")
      counts.merge(g, 1L, (a, b) => a + b)
    }

  def take(g: String): Long = Option(counts.remove(g)).map(_.longValue).getOrElse(0L)

  def install(): Unit = {
    val ctx = LogManager.getContext(false).asInstanceOf[LoggerContext]
    val cfg = ctx.getConfiguration
    start()
    cfg.addAppender(this)
    val lc = new LoggerConfig("breeze.optimize", Level.ERROR, true)
    lc.addAppender(this, Level.ERROR, null)
    cfg.addLogger("breeze.optimize", lc)
    ctx.updateLoggers()
  }
}

object Jvm {
  def gcMs(): Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Old-generation bytes live after a full collection. Collects
    * twice: Spark's ContextCleaner frees unreferenced broadcasts,
    * shuffles and cached blocks only after the first collection finds
    * them unreachable, so the second one sees the settled live set.
    */
  def liveHeapBytes(): Long = {
    System.gc()
    Thread.sleep(200)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.isCollectionUsageThresholdSupported &&
        p.getType == java.lang.management.MemoryType.HEAP &&
        p.getName.toLowerCase.contains("old"))
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum
  }
}

/** Records spans in memory when `enabled`; otherwise every call is a
  * plain pass-through, so an untraced run pays nothing for it.
  */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack: List[Span] = Nil
  /** Driver-thread nanoseconds spent in tracing code, and listener
    * handler nanoseconds, per op: the tracing overhead.
    */
  val overheadNs = mutable.HashMap.empty[Int, Long]
  private var ownNs = 0L
  private val listener = if (enabled) Some(new GroupListener) else None
  private val resets = if (enabled) Some(new ResetCounter(sc)) else None
  listener.foreach(sc.addSparkListener)
  resets.foreach(_.install())

  private def groupOf(s: Span) = s"perfbench-${s.id}"

  private def enter(name: String, op: Int): Span = {
    val t0 = System.nanoTime()
    val s = new Span(spans.length, name, stack.headOption.map(_.id).getOrElse(-1),
      op, System.nanoTime())
    s.gcMs = Jvm.gcMs()
    spans += s
    stack = s :: stack
    sc.setJobGroup(groupOf(s), name, interruptOnCancel = false)
    ownNs += System.nanoTime() - t0
    s
  }

  private def exit(s: Span): Unit = {
    s.endNs = System.nanoTime()
    val t0 = s.endNs
    s.gcMs = Jvm.gcMs() - s.gcMs
    stack = stack.tail
    stack.headOption match {
      case Some(p) => sc.setJobGroup(groupOf(p), p.name, interruptOnCancel = false)
      case None => sc.clearJobGroup()
    }
    ownNs += System.nanoTime() - t0
  }

  /** Time `body` as span `name` under the current span. */
  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = enter(name, stack.headOption.map(_.op).getOrElse(Int.MinValue))
      try body finally exit(s)
    }

  /** Attach a value to the innermost open span. */
  def note(key: String, value: Double): Unit =
    if (enabled) stack.headOption.foreach(_.notes(key) = value)

  /** Measurement work that only traced runs do (file walks, manifest
    * reads); its time counts as tracing overhead.
    */
  def extra(body: => Unit): Unit =
    if (enabled) {
      val t0 = System.nanoTime()
      body
      ownNs += System.nanoTime() - t0
    }

  /** Run one op as a root span; once it ends, drain the listener bus
    * and hand every span of the op its own group's counters.
    */
  def op[T](idx: Int)(body: => T): T =
    if (!enabled) body
    else {
      val own0 = ownNs
      val root = enter("op", idx)
      try body
      finally {
        exit(root)
        val t0 = System.nanoTime()
        PerfbenchBus.drain(sc)
        overheadNs(idx) = ownNs - own0 + listener.get.handlerNs + (System.nanoTime() - t0)
        listener.get.handlerNs = 0L
        spans.iterator.filter(_.op == idx).foreach { s =>
          s.spark = listener.get.take(groupOf(s))
            .copy(resets = resets.get.take(groupOf(s)))
        }
      }
    }

  /** Spans of op `idx` (root first). */
  def ofOp(idx: Int): Seq[Span] = spans.filter(_.op == idx).toSeq

  def close(): Unit = listener.foreach(sc.removeSparkListener)
}
