package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, DoubleAdder}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** Wall-clock in epoch milliseconds with sub-millisecond resolution, on the
  * same time base as Spark's listener event times.
  */
object Clock {
  private val epochMs0 = System.currentTimeMillis().toDouble
  private val nano0 = System.nanoTime()
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6
}

/** One Spark job as the listener saw it. `group` is the job group of the
  * submitting thread (the span id in a traced run).
  */
final case class JobRec(id: Int, group: String, startMs: Double, var endMs: Double = -1)

/** Layer counters for the Spark side of every workload: a SparkListener
  * (jobs, stages, task metrics), a QueryExecutionListener (Catalyst
  * planning phases) and the codegen compile counters. Counters only grow;
  * callers take [[snapshot]]s and subtract.
  */
final class Probe(spark: SparkSession) extends SparkListener with QueryExecutionListener {
  val jobs = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val c = mutable.LinkedHashMap(Seq(
    "stages", "tasks", "failed_tasks", "input_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "result_bytes").map(_ -> new AtomicLong()): _*)
  private val taskRunMs = new DoubleAdder
  private val taskCpuNs = new DoubleAdder
  private val planMs = new DoubleAdder

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
    jobs.put(e.jobId, JobRec(e.jobId, group.getOrElse(""), e.time.toDouble))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time.toDouble)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    c("stages").incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    c("tasks").incrementAndGet()
    if (!e.taskInfo.successful) c("failed_tasks").incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      taskRunMs.add(m.executorRunTime.toDouble)
      taskCpuNs.add(m.executorCpuTime.toDouble)
      c("input_bytes").addAndGet(m.inputMetrics.bytesRead)
      c("shuffle_read_bytes").addAndGet(
        m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead)
      c("shuffle_write_bytes").addAndGet(m.shuffleWriteMetrics.bytesWritten)
      c("spill_bytes").addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      c("result_bytes").addAndGet(m.resultSize)
    }
  }

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
    planMs.add(qe.tracker.phases.values.map(_.durationMs).sum.toDouble)

  /** Waits until every posted listener event has been delivered. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  def endedJobs: Seq[JobRec] = jobs.values.asScala.filter(_.endMs >= 0).toSeq

  /** All counters, keyed by their `spark.*` metric suffix. */
  def snapshot(): Map[String, Double] = {
    drain()
    val ended = endedJobs
    val codegen = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    c.map { case (k, v) => k -> v.get.toDouble }.toMap ++ Map(
      "jobs" -> ended.size.toDouble,
      "job_wall_s" -> ended.map(j => j.endMs - j.startMs).sum / 1e3,
      "task_run_s" -> taskRunMs.sum / 1e3,
      "task_cpu_s" -> taskCpuNs.sum / 1e9,
      "plan_ms" -> planMs.sum,
      "codegen_compiles" -> codegen.getCount.toDouble,
      "codegen_ms" -> org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        .compileTime / 1e6)
  }
}

object Probe {
  def install(spark: SparkSession): Probe = {
    val p = new Probe(spark)
    spark.sparkContext.addSparkListener(p)
    spark.listenerManager.register(p)
    p
  }

  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

/** A span around one call into a program layer. */
final case class Span(id: Long, name: String, layer: String, parent: Long, request: Long,
                      startMs: Double, endMs: Double)

/** Span recorder. Disabled, it only runs the body. Enabled, it records a
  * span per call and sets the calling thread's Spark job group to the span
  * id for the duration of the call, so the probe can attribute each job to
  * the span that submitted it. Spans are kept in memory until the run ends.
  */
final class Tracer(spark: SparkSession, val enabled: Boolean) {
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong()
  private val stack = ThreadLocal.withInitial[List[Long]](() => Nil)
  private val groupProps = Seq("spark.jobGroup.id", "spark.job.description",
    "spark.job.interruptOnCancel")
  // job groups set by the program itself (a stream's run id), owned by a span
  private val adopted = new java.util.concurrent.ConcurrentHashMap[String, Long]()

  /** Attributes jobs of a job group the program sets on its own threads to
    * the calling thread's innermost span.
    */
  def adopt(group: String): Unit =
    if (enabled) stack.get().headOption.foreach(id => adopted.put(group, id))

  def apply[T](layer: String, name: String, request: Long = 0L)(body: => T): T =
    if (!enabled) body
    else {
      val id = ids.incrementAndGet()
      val parent = stack.get().headOption.getOrElse(0L)
      val sc = spark.sparkContext
      val saved = groupProps.map(k => k -> sc.getLocalProperty(k))
      sc.setJobGroup(s"span-$id", name)
      stack.set(id :: stack.get())
      val t0 = Clock.nowMs
      try body
      finally {
        val t1 = Clock.nowMs
        stack.set(stack.get().tail)
        saved.foreach { case (k, v) => sc.setLocalProperty(k, v) }
        spans.add(Span(id, name, layer, parent, request, t0, t1))
      }
    }

  def all: Seq[Span] = spans.asScala.toSeq

  /** Self time per layer: each span's length minus the part covered by its
    * children, which are its child spans and the Spark jobs attributed to
    * it. `self.jobs_s` is the part covered by jobs.
    */
  def selfTimes(jobs: Seq[JobRec]): Map[String, Double] = {
    val spansNow = all
    val jobsOf = jobs.groupBy(j => Option(adopted.get(j.group)).fold(j.group)(id => s"span-$id"))
    val childSpans = spansNow.groupBy(_.parent)
    val out = mutable.Map[String, Double]().withDefaultValue(0.0)
    spansNow.foreach { s =>
      def clip(iv: Seq[(Double, Double)]) =
        iv.map { case (a, b) => (math.max(a, s.startMs), math.min(b, s.endMs)) }
          .filter { case (a, b) => b > a }
      val jobIv = clip(jobsOf.getOrElse(s"span-${s.id}", Nil).map(j => (j.startMs, j.endMs)))
      val spanIv = clip(childSpans.getOrElse(s.id, Nil).map(c => (c.startMs, c.endMs)))
      out(s"self.${s.layer}_s") += (s.endMs - s.startMs - Tracer.unionLength(jobIv ++ spanIv)) / 1e3
      out("self.jobs_s") += Tracer.unionLength(jobIv) / 1e3
    }
    out.toMap
  }

  def toJson: String = all.sortBy(_.id).map { s =>
    Json.obj("id" -> s.id, "name" -> s.name, "layer" -> s.layer, "parent" -> s.parent,
      "request" -> s.request, "start_ms" -> s.startMs, "end_ms" -> s.endMs)
  }.mkString("[\n", ",\n", "\n]\n")
}

object Tracer {
  /** Total length covered by a set of [start, end) intervals. */
  def unionLength(iv: Seq[(Double, Double)]): Double = {
    var total = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.sortBy(_._1).foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) total += curB - curA
    total
  }
}

/** What a workload hands back: raw latency samples (ms), scalar values,
  * the count of checked operations and the named failures among them.
  */
final class Recorder {
  private val samples = mutable.LinkedHashMap[String, mutable.ArrayBuffer[Double]]()
  private val values = mutable.LinkedHashMap[String, Double]()
  private val failures = mutable.ArrayBuffer[String]()
  private val attemptedOps = new AtomicLong()

  def sample(name: String, v: Double): Unit = synchronized {
    samples.getOrElseUpdate(name, mutable.ArrayBuffer[Double]()) += v
  }
  /** A sample plus, under `<name>@s`, the second it was taken at. */
  def sampleAt(name: String, v: Double, atSeconds: Double): Unit = synchronized {
    sample(name, v)
    sample(s"$name@s", atSeconds)
  }
  def set(name: String, v: Double): Unit = synchronized { values(name) = v }
  def setAll(prefix: String, m: Map[String, Double]): Unit =
    m.foreach { case (k, v) => set(prefix + k, v) }
  def attempt(n: Long = 1L): Unit = attemptedOps.addAndGet(n)
  def fail(what: String): Unit = synchronized {
    if (failures.size < 1000) failures += what
    else if (failures.size == 1000) failures += "... further failures not listed"
  }
  def failed: Int = synchronized(failures.size)
  def count(name: String): Int = synchronized(samples.get(name).fold(0)(_.size))
  def median(name: String): Double = synchronized {
    val v = samples.get(name).map(_.sorted).getOrElse(Seq(0.0))
    v(v.size / 2)
  }

  def toJson(header: Seq[(String, Any)]): String = synchronized {
    Json.obj(header ++ Seq(
      "attempted" -> attemptedOps.get,
      "failures" -> failures.toSeq,
      "values" -> values.toMap,
      "samples" -> samples.map { case (k, v) => k -> v.toSeq }.toMap): _*)
  }
}

/** Minimal JSON writer for the harness's own result files. */
object Json {
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")

  def str(s: String): String = "\"" + s.flatMap {
    case '"'  => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def value(v: Any): String = v match {
    case null => "null"
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: Map[_, _] => m.toSeq.map { case (k, x) => str(k.toString) + ":" + value(x) }
        .mkString("{", ",", "}")
    case s: Iterable[_] => s.map(value).mkString("[", ",", "]")
    case other => str(other.toString)
  }
}
