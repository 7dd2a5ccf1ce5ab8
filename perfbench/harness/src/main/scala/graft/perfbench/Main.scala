package graft.perfbench

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

import java.nio.file.{Files, Paths}
import scala.collection.immutable.ListMap

/** One benchmark run in a fresh JVM:
  *
  * {{{
  * Main --workload <rag_query|train_prep> --seed <n>
  *      --seconds <s> --trace <0|1> --work <dir> --out <file>
  * }}}
  *
  * Generates the workload's inputs from the seed under `--work`,
  * starts the program's Spark session, runs the workload through the
  * public `graft.api.Graft` facade, checks the outputs, and writes a
  * report to `--out`: the end-to-end metrics (untraced runs) or the
  * per-layer metrics (traced runs), the workload's named metrics and
  * the facts about its inputs. A traced run also writes its spans to
  * `<out>.spans.json`. Exits non-zero if the workload throws.
  */
object Main {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String) = opt.getOrElse(k, sys.error(s"missing --$k"))
    val workload = need("workload")
    require(Workloads.Names.contains(workload), s"unknown workload $workload")
    val seed = need("seed").toLong
    val seconds = need("seconds").toDouble
    val traced = need("trace") == "1"
    val work = Paths.get(need("work"))
    val out = Paths.get(need("out"))
    Files.createDirectories(work)

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val spark = graft.GraftSession.build(cpus)
    val sessionS = (System.currentTimeMillis() - jvmStart) / 1e3
    val collector = if (traced) Some(new Collector(spark)) else None
    val ctx = new Ctx(spark, seed, seconds, work, collector.getOrElse(NoTrace))
    val gc0 = Trace.gcMillis
    val wall0 = System.nanoTime()
    val res = Workloads.run(workload, ctx, sessionS)
    val wallS = (System.nanoTime() - wall0) / 1e9
    val gcS = (Trace.gcMillis - gc0) / 1e3
    spark.stop() // drains the listener bus before the collector is read

    val (layer, spans) = collector.map(_.finish(gcS)).getOrElse((Map.empty[String, Double], Nil))
    val metrics =
      if (traced) Trace.MetricNames.map(m => (m, layer(m), Trace.unitOf(m)))
      else res.metrics
    def table(xs: Seq[(String, Double, String)]) =
      ListMap(xs.map { case (n, v, u) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    val report = ListMap(
      "workload" -> workload, "seed" -> seed, "trace" -> traced,
      "correct" -> res.checkFailures.isEmpty,
      "attempted" -> res.attempted, "failed" -> res.failed,
      "metrics" -> table(metrics), "named" -> table(res.named),
      "info" -> ListMap(res.info: _*), "check_failures" -> res.checkFailures,
      "workload_wall_s" -> wallS, "cpus" -> cpus.toInt)
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    Files.write(out, json.writeValueAsBytes(report))
    if (traced) Files.write(Paths.get(out.toString + ".spans.json"),
      json.writeValueAsBytes(spans))
    res.checkFailures.take(20).foreach(f => System.err.println(s"CHECK FAILED: $f"))
  }
}
