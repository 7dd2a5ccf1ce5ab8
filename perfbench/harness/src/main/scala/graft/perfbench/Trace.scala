package graft.perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** Per-layer spans around the benchmark's calls into the program.
  *
  * A span is one call into a module's public function, named
  * `<module>.<op>`. The workloads make their calls one at a time from
  * the main thread, so every Spark job, task and planned query that
  * starts inside a span's [start, end] interval belongs to that span,
  * including jobs the program runs concurrently on its own threads.
  * Events reach the listeners asynchronously; [[Collector.finish]] reads
  * them only after the SparkContext has stopped, which drains the
  * listener bus.
  */
trait Tracer {
  def span[T](name: String)(f: => T): T
}

object NoTrace extends Tracer {
  def span[T](name: String)(f: => T): T = f
}

/** The per-layer metric catalogue: the measures every span records
  * (per-call means over a run), the spans, and the per-run counters.
  */
object Trace {
  val Measures: Seq[String] = Seq("wall_s", "jobs", "task_s", "cpu_s",
    "driver_gap_s", "plan_ms", "shuffle_write_mb", "input_mb",
    "output_mb", "files_listed")

  /** Every span the workloads record, across all workloads. */
  val Spans: Seq[String] = Seq("pipeline.build", "pipeline.search",
    "pipeline.pack", "pipeline.curate", "dedup.overlap_scrub",
    "dedup.group_split", "streams.group_step", "streams.group_compact")

  /** Per-workload counters outside the span table. */
  val Extra: Seq[String] = Seq("jvm.gc_s", "spark.task_failures",
    "dedup.group_split.cc_rounds", "streams.group_compact.cc_rounds")

  /** Every per-layer metric name, in report order. */
  val MetricNames: Seq[String] =
    Spans.flatMap(s => Measures.map(m => s"$s.$m")) ++ Extra

  def unitOf(metric: String): String = metric.split('.').last match {
    case "wall_s" | "task_s" | "cpu_s" | "driver_gap_s" | "gc_s" => "s"
    case "plan_ms" => "ms"
    case "shuffle_write_mb" | "input_mb" | "output_mb" => "MB"
    case _ => "count"
  }

  def filesDiscovered: Long =
    org.apache.spark.metrics.source.HiveCatalogMetrics
      .METRIC_FILES_DISCOVERED.getCount

  def gcMillis: Long = {
    import scala.jdk.CollectionConverters._
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans
      .asScala.map(b => math.max(0L, b.getCollectionTime)).sum
  }
}

/** One recorded call. Times are wall-clock milliseconds, the clock
  * Spark stamps its job events with.
  */
final case class SpanRec(name: String, start: Long, end: Long,
    filesListed: Long, attrs: Map[String, Double])

final class Collector(spark: SparkSession) extends SparkListener
    with QueryExecutionListener with Tracer {

  private final case class JobRec(start: Long, var end: Long)
  private final case class TaskAgg(var runMs: Long = 0, var cpuNs: Long = 0,
      var shuffleWrite: Long = 0, var input: Long = 0, var output: Long = 0)

  // written on the listener-bus thread, read after the bus drained
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, Int]
  private val stageTasks = mutable.HashMap.empty[Int, TaskAgg]
  private val plans = mutable.ArrayBuffer.empty[(Long, Long)]
  private var taskFailures = 0L
  // written on the main thread
  private val spans = mutable.ArrayBuffer.empty[SpanRec]
  private val pendingAttrs = mutable.HashMap.empty[String, Double]

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(this)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs(e.jobId) = JobRec(e.time, e.time)
    e.stageIds.foreach(s => if (!stageJob.contains(s)) stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (e.reason != org.apache.spark.Success) taskFailures += 1
    val m = e.taskMetrics
    if (m != null) {
      val a = stageTasks.getOrElseUpdate(e.stageId, TaskAgg())
      a.runMs += m.executorRunTime
      a.cpuNs += m.executorCpuTime
      a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      a.input += m.inputMetrics.bytesRead
      a.output += m.outputMetrics.bytesWritten
    }
  }

  private def planned(qe: QueryExecution): Unit = {
    val ph = qe.tracker.phases.values
    if (ph.nonEmpty) synchronized {
      plans += ((ph.map(_.startTimeMs).min, ph.map(_.durationMs).sum))
    }
  }
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = planned(qe)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = planned(qe)

  def span[T](name: String)(f: => T): T = {
    val files0 = Trace.filesDiscovered
    val t0 = System.currentTimeMillis()
    try f finally {
      val t1 = System.currentTimeMillis()
      spans += SpanRec(name, t0, t1, Trace.filesDiscovered - files0,
        pendingAttrs.toMap)
      pendingAttrs.clear()
    }
  }

  /** Attach a program-reported fact to the span about to close. */
  def attr(key: String, value: Double): Unit = pendingAttrs(key) = value

  /** Per-span-name means of every measure, plus the per-workload
    * extras. Call after `spark.stop()`, which drains the listener
    * bus; `gcSeconds` is the GC time over the measured phase.
    */
  def finish(gcSeconds: Double): (Map[String, Double], Seq[Map[String, Any]]) =
    synchronized {
      // each job belongs to the span whose interval holds its start
      val sorted = spans.sortBy(_.start).toIndexedSeq
      def spanOf(t: Long): Option[Int] = {
        val i = sorted.lastIndexWhere(_.start <= t)
        if (i >= 0 && t <= sorted(i).end) Some(i) else None
      }
      val jobSpan = jobs.flatMap { case (id, j) => spanOf(j.start).map(id -> _) }
      val perSpan = sorted.indices.map { i =>
        val js = jobSpan.collect { case (id, s) if s == i => id }.toSet
        val tasks = stageJob.collect { case (st, j) if js(j) => stageTasks.get(st) }
          .flatten
        val sp = sorted(i)
        val gap = Stats.driverGap(sp.start, sp.end,
          js.toSeq.map(id => (jobs(id).start, jobs(id).end)))
        val planMs = plans.collect { case (t, d) if spanOf(t).contains(i) => d }.sum
        Map[String, Double](
          "wall_s" -> (sp.end - sp.start) / 1e3,
          "jobs" -> js.size.toDouble,
          "task_s" -> tasks.map(_.runMs).sum / 1e3,
          "cpu_s" -> tasks.map(_.cpuNs).sum / 1e9,
          "driver_gap_s" -> gap / 1e3,
          "plan_ms" -> planMs.toDouble,
          "shuffle_write_mb" -> tasks.map(_.shuffleWrite).sum / 1e6,
          "input_mb" -> tasks.map(_.input).sum / 1e6,
          "output_mb" -> tasks.map(_.output).sum / 1e6,
          "files_listed" -> sp.filesListed.toDouble)
      }
      val metrics = mutable.LinkedHashMap.empty[String, Double]
      Trace.Spans.foreach { name =>
        val idx = sorted.indices.filter(sorted(_).name == name)
        Trace.Measures.foreach { m =>
          metrics(s"$name.$m") =
            if (idx.isEmpty) 0.0 else idx.map(perSpan(_)(m)).sum / idx.length
        }
      }
      metrics("jvm.gc_s") = gcSeconds
      metrics("spark.task_failures") = taskFailures.toDouble
      Seq("dedup.group_split", "streams.group_compact").foreach { name =>
        val rounds = sorted.filter(_.name == name).flatMap(_.attrs.get("cc_rounds"))
        metrics(s"$name.cc_rounds") =
          if (rounds.isEmpty) 0.0 else rounds.sum / rounds.length
      }
      val rows = sorted.indices.map { i =>
        Map[String, Any]("name" -> sorted(i).name, "start_ms" -> sorted(i).start,
          "end_ms" -> sorted(i).end) ++ perSpan(i) ++ sorted(i).attrs
      }
      (metrics.toMap, rows)
    }
}
