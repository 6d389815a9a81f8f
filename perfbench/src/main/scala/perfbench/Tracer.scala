package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** A span around one call the benchmark makes (a step, an op, a pass). */
final case class Span(name: String, module: String, pass: Int,
                      startMs: Long, endMs: Long, parent: Option[String])

/** Spark job attributed to the call that submitted it, through the
  * `perfbench.call` local property (child threads inherit it, so jobs
  * that Par.both / Par.defer legs submit are attributed too). */
final class JobRec(val call: String, val startMs: Long) {
  @volatile var endMs: Long = -1L
  var tasks = 0L
  var cpuNs = 0L
  var shuffleBytes = 0L
  var inputBytes = 0L
  var spillBytes = 0L
}

final class JobListener extends SparkListener {
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val call = Option(e.properties).flatMap(p =>
      Option(p.getProperty(Tracer.Prop))).orNull
    val rec = new JobRec(call, e.time)
    jobs.put(e.jobId, rec)
    e.stageIds.foreach(s => stageJob.putIfAbsent(s, rec))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobs.get(e.jobId)).foreach(_.endMs = e.time)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
    Option(stageJob.get(e.stageId)).foreach { r =>
      val m = e.taskMetrics
      r.synchronized {
        r.tasks += 1
        if (m != null) {
          r.cpuNs += m.executorCpuTime
          r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
            m.shuffleWriteMetrics.bytesWritten
          r.inputBytes += m.inputMetrics.bytesRead
          r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
        }
      }
    }
}

/** JVM-wide counters the benchmark reads as deltas around a pass. */
final case class Counters(compiles: Long, meanCompileMs: Double,
                          filesDiscovered: Long, jitMs: Long, gcMs: Long,
                          metaReads: Long, dataWrites: Long,
                          overlapStats: Long) {
  def -(o: Counters): Counters = Counters(compiles - o.compiles,
    meanCompileMs, filesDiscovered - o.filesDiscovered,
    jitMs - o.jitMs, gcMs - o.gcMs, metaReads - o.metaReads,
    dataWrites - o.dataWrites, overlapStats - o.overlapStats)
  def +(o: Counters): Counters = Counters(compiles + o.compiles,
    (compiles * meanCompileMs + o.compiles * o.meanCompileMs) /
      math.max(1L, compiles + o.compiles),
    filesDiscovered + o.filesDiscovered, jitMs + o.jitMs, gcMs + o.gcMs,
    metaReads + o.metaReads, dataWrites + o.dataWrites,
    overlapStats + o.overlapStats)
}

object Counters {
  import org.apache.spark.metrics.source.{CodegenMetrics, HiveCatalogMetrics}

  /** The compile-time histogram keeps a sample, not a sum: compile_ms
    * is the count times the sample mean, an approximation. */
  def read(): Counters = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    val n = h.getCount
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime.max(0L)).sum
    Counters(n, h.getSnapshot.getMean,
      HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount,
      ManagementFactory.getCompilationMXBean.getTotalCompilationTime, gc,
      graft.io.TxnTable.metaReads.get, graft.io.TxnTable.dataWrites.get,
      graft.io.TxnTable.overlapStatsPasses.get)
  }
}

/** Spans and job attribution for a traced run. Off by default: an
  * untraced call sets no property and records nothing. */
final class Tracer(spark: SparkSession) {
  val listener = new JobListener
  val spans = mutable.ArrayBuffer.empty[Span]
  private var on = false

  def start(): Unit = if (!on) {
    spark.sparkContext.addSparkListener(listener); on = true
  }

  def stop(): Unit = if (on) {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener); on = false
  }

  def enabled: Boolean = on

  /** Run `body` as call `name` of pass `pass`; traced calls tag their
    * jobs and record a span. */
  def call[A](name: String, module: String, pass: Int,
              parent: Option[String])(body: => A): A = {
    if (!on) return body
    val sc = spark.sparkContext
    val key = s"$name|$pass"
    val prev = sc.getLocalProperty(Tracer.Prop)
    sc.setLocalProperty(Tracer.Prop, key)
    val t0 = System.currentTimeMillis()
    try body
    finally {
      spans += Span(name, module, pass, t0, System.currentTimeMillis(), parent)
      sc.setLocalProperty(Tracer.Prop, prev)
    }
  }

  /** Jobs per call key, after the bus has delivered every event. */
  def jobsByCall(): Map[String, Seq[JobRec]] = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    listener.jobs.values.asScala.toSeq.filter(_.call != null).groupBy(_.call)
  }

  def unattributed(): Long = {
    org.apache.spark.perfbench.Bus.drain(spark.sparkContext)
    listener.jobs.values.asScala.count(_.call == null).toLong
  }

  /** Per-layer totals over the traced calls, divided by `n` passes
    * (blocks): per module, wall time, job-busy time (the union of the
    * call's job intervals), driver gap (wall minus busy), jobs, tasks,
    * task CPU, shuffle, input and spill; the same per step for calls
    * made inside a pass. */
  def layers(n: Double): Map[String, Double] = {
    val jobs = jobsByCall()
    val m = mutable.LinkedHashMap.empty[String, Double]
    def add(k: String, v: Double): Unit = m(k) = m.getOrElse(k, 0.0) + v / n
    for (sp <- spans if sp.module != "pass") {
      val js = jobs.getOrElse(s"${sp.name}|${sp.pass}", Nil)
      val wall = (sp.endMs - sp.startMs) / 1e3
      val busy = Tracer.unionMs(js.map(j =>
        (j.startMs, if (j.endMs < 0) sp.endMs else j.endMs)),
        sp.startMs, sp.endMs) / 1e3
      for (k <- sp.module +: sp.parent.map(_ => s"step.${sp.name}").toSeq) {
        add(s"$k.wall_s", wall)
        add(s"$k.job_busy_s", busy)
        add(s"$k.driver_gap_s", wall - busy)
        add(s"$k.jobs", js.size)
        add(s"$k.tasks", js.map(_.tasks).sum.toDouble)
        add(s"$k.task_cpu_s", js.map(_.cpuNs).sum / 1e9)
        add(s"$k.shuffle_mb", js.map(_.shuffleBytes).sum / 1048576.0)
        add(s"$k.input_mb", js.map(_.inputBytes).sum / 1048576.0)
        add(s"$k.spill_mb", js.map(_.spillBytes).sum / 1048576.0)
      }
    }
    m("unattributed_jobs") = unattributed().toDouble
    m.toMap
  }
}

object Tracer {
  val Prop = "perfbench.call"

  /** Length of the union of [start, end] intervals clipped to [lo, hi]. */
  def unionMs(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    val clipped = iv.map { case (a, b) => (a.max(lo), b.min(hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var cur: Option[(Long, Long)] = None
    clipped.foreach { case (a, b) =>
      cur match {
        case Some((ca, cb)) if a <= cb => cur = Some((ca, cb.max(b)))
        case Some((ca, cb)) => total += cb - ca; cur = Some((a, b))
        case None => cur = Some((a, b))
      }
    }
    cur.foreach { case (ca, cb) => total += cb - ca }
    total
  }
}
