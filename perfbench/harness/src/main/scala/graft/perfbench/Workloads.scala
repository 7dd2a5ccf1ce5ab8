package graft.perfbench

import graft.api.Graft
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

import java.nio.file.{Files, Path}
import scala.collection.mutable

/** What a run hands back: the end-to-end metrics every workload
  * reports, the workload's own named metrics, facts about its inputs,
  * the operation counts and the output-check failures.
  */
final case class Outcome(metrics: Seq[(String, Double, String)],
    named: Seq[(String, Double, String)], info: Seq[(String, Any)],
    attempted: Int, failed: Int, checkFailures: Seq[String])

/** Shared run context. `seconds` is the measuring budget; `trace`
  * records spans around every timed call.
  */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val work: Path, val trace: Tracer) {
  var attempted = 0
  var failed = 0
  private val checkFailures = mutable.ArrayBuffer.empty[String]

  /** Time one call into the program (materialized), inside a span. */
  def timed[T](span: String)(f: => T): (T, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = trace.span(span)(f)
      (r, (System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable => failed += 1; throw e }
  }

  /** Attach a program-reported fact to the span about to close. */
  def attr(key: String, value: Double): Unit = trace match {
    case col: Collector => col.attr(key, value)
    case _ => ()
  }

  def check(failures: Seq[String]): Unit = checkFailures ++= failures
  def failures: Seq[String] = checkFailures.toSeq

  def dir(name: String): String = work.resolve(name).toString

  /** Set-up repeated `reps` times (fresh output dirs); the median
    * time is what a run reports, the last result is what it uses.
    */
  def repeatedSetup[T](reps: Int)(f: Int => T): (T, Double) = {
    val runs = (0 until reps).map { i =>
      val t0 = System.nanoTime(); val r = f(i); (r, (System.nanoTime() - t0) / 1e9)
    }
    (runs.last._1, Stats.median(runs.map(_._2)))
  }
}

object Workloads {
  val Names: Seq[String] = Seq("rag_query", "train_prep")

  /** Repetitions of the input set-up inside one run. */
  val SetupReps = 3

  // stated input sizes
  val RagDocs = 1000
  val RagQueries = 2000
  val TrainDocs = 2000
  val TrainBatches = 2
  val PackBatch = 16
  val MinSearches = 12
  val QualityProbe = 256

  private def du(p: String): Long = {
    val root = java.nio.file.Paths.get(p)
    if (!Files.exists(root)) 0L
    else {
      val s = Files.walk(root)
      try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
      finally s.close()
    }
  }

  private def landRag(spark: SparkSession, docs: Seq[Gen.RagDoc],
      dir: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(
        docs.map(d => (d.docId, d.path, d.lang, d.text)), 4)
      .toDF("doc_id", "filepath", "lang", "text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  private[perfbench] def landTrain(spark: SparkSession, docs: Seq[Gen.TrainDoc],
      dir: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.parallelize(docs.map(d => (d.docId, d.text)), 4)
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  /** Peak resident set of this process (the driver and, on
    * local[n], every executor thread), in MB.
    */
  private def peakRssMb(): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toDouble / 1024.0).getOrElse(Double.NaN)
    finally src.close()
  }

  /** Doc ids of a search's hits, in rank order. */
  private def docsOf(rows: Array[Row]): Seq[Long] =
    rows.toSeq.map(_.getAs[Long]("chunk_id") / 1000000L)

  private def repeatShare(qs: Seq[Gen.Query]): Double = {
    val seen = mutable.HashSet.empty[String]
    qs.count(q => !seen.add(q.text)).toDouble / math.max(1, qs.length)
  }

  def run(name: String, c: Ctx, sessionS: Double): Outcome = name match {
    case "rag_query" => ragQuery(c, sessionS)
    case "train_prep" => trainPrep(c, sessionS)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  /** The reference's read path as a user meets it: build an index
    * over a repository-shaped corpus, then serve a closed loop of
    * single-client searches (one outstanding call) and batched
    * context packs from the warm index.
    */
  private def ragQuery(c: Ctx, sessionS: Double): Outcome = {
    val spark = c.spark
    val ((in, corpus), landS) = c.repeatedSetup(SetupReps) { i =>
      val in = Gen.rag(c.seed, RagDocs, RagQueries)
      (in, landRag(spark, in.corpus, c.dir(s"corpus$i")))
    }
    val (idx, buildS) = c.timed("pipeline.build") {
      Graft.ragIndex(corpus, "doc_id", "filepath", "lang", "text",
        stateRoot = Some(c.dir("index")))
    }
    val indexRatio = du(c.dir("index")).toDouble /
      in.corpus.filter(_.indexable).map(d => Gen.utf8Len(d.text)).sum

    // warm-up: two searches from the stream's tail, so the measured
    // loop serves from a warm index and warm JIT
    val warm0 = System.nanoTime()
    in.queries.takeRight(2).foreach(q => idx.search(q.text).collect())
    val warmS = (System.nanoTime() - warm0) / 1e9

    // closed loop, one client: searches for 3/4 of the budget, then
    // batched packs for the rest
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    val stream = in.queries.dropRight(2)
    val lat = mutable.ArrayBuffer.empty[Double]
    val hits = mutable.ArrayBuffer.empty[(Long, Seq[Long])]
    val sampled = mutable.ArrayBuffer.empty[(String, Array[Row])]
    var i = 0
    while ((i < MinSearches || elapsed < 0.75 * c.seconds) && i < stream.length) {
      val q = stream(i)
      val (rows, s) = c.timed("pipeline.search")(idx.search(q.text).collect())
      lat += s * 1e3
      hits += ((q.srcDoc, docsOf(rows)))
      if (i % 6 == 0) sampled += ((q.text, rows))
      i += 1
    }
    val packS = mutable.ArrayBuffer.empty[Double]
    var b = 0
    while ((b < 3 || elapsed < c.seconds) &&
        i + (b + 1) * PackBatch <= stream.length) {
      val batch = stream.slice(i + b * PackBatch, i + (b + 1) * PackBatch)
      packS += c.timed("pipeline.pack")(
        idx.packContextFor(batch.map(_.text)).collect())._2
      b += 1
    }
    // untimed quality probe: one pack over many distinct queries; a
    // query is served when its source doc contributes packed context
    val probe0 = System.nanoTime()
    val probe = stream.distinctBy(_.text).take(QualityProbe)
    val packedSrc = idx.packContextFor(probe.map(_.text)).collect().toSeq
      .groupBy(_.getAs[Long]("qid")).map { case (q, rs) => q -> rs.map(_.getAs[Long]("src_doc")) }
    val packHit = Checks.hitShare(probe.indices.map(q =>
      (probe(q).srcDoc, packedSrc.getOrElse(q.toLong, Nil))))
    val probeS = (System.nanoTime() - probe0) / 1e9
    // untimed check: sampled lexical ranks equal the inline BM25
    // scorer over the staged term frequencies (kList = 20)
    val check0 = System.nanoTime()
    val tf = idx.tables("tf").withColumnRenamed("chunk_id", "doc_id")
    sampled.foreach { case (q, rows) =>
      val want = graft.operators.Search.searchBm25From(tf,
          Graft.tokenizeQuery(q), 20)
        .collect().map(_.getLong(0)).zipWithIndex
        .map { case (id, r) => id -> (r + 1) }.toMap
      c.check(Checks.lexRanks(q, rows.toSeq.map(r =>
        (r.getAs[Long]("chunk_id"), Option(r.getAs[Any]("r_lex")).map(_.asInstanceOf[Int]))),
        want))
    }

    val checkS = (System.nanoTime() - check0) / 1e9
    val hit10 = Checks.hitShare(hits.toSeq)
    val p50 = Stats.median(lat.toSeq)
    val setupS = sessionS + landS + warmS
    val peak = peakRssMb()
    val tail90 = Stats.tailPercentile(lat.toSeq, 0.9)
    Outcome(
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("batch_docs_per_s", RagDocs / buildS, "docs/s"),
        ("call_p50_ms", p50, "ms"),
        ("quality_share", packHit, "share"),
        ("bytes_per_input_byte", indexRatio, "ratio")),
      named = Seq(
        ("setup_s", setupS, "s"),
        ("build_s", buildS, "s"),
        ("search_p50_ms", p50, "ms")) ++
        tail90.map(v => ("search_p90_ms", v, "ms")).toSeq ++ Seq(
        ("pack_queries_per_s", PackBatch / Stats.median(packS.toSeq), "1/s"),
        ("index_bytes_per_input_byte", indexRatio, "ratio"),
        ("search_hit_at_10", hit10, "share"),
        ("pack_source_share", packHit, "share"),
        ("peak_rss_mb", peak, "MB")),
      info = Seq("session_s" -> sessionS, "land_s" -> landS, "warm_s" -> warmS,
        "probe_s" -> probeS, "check_s" -> checkS,
        "corpus_docs" -> RagDocs, "corpus_bytes" -> in.corpusBytes,
        "indexable_docs" -> in.corpus.count(_.indexable),
        "searches" -> lat.length, "pack_batches" -> packS.length,
        "query_repeat_share" -> repeatShare(stream.take(i)),
        "inputs_sha256" -> Gen.digestOf(in)),
      c.attempted, c.failed, c.failures)
  }

  /** Batch training-data preparation at a stated input size: curate,
    * scrub benchmark overlap and split by near-duplicate group, then
    * feed the same corpus to incremental group maintenance in batches
    * and compact. Passes repeat while the budget lasts.
    */
  private def trainPrep(c: Ctx, sessionS: Double): Outcome = {
    val spark = c.spark
    val ((in, corpus, batches), landS) = c.repeatedSetup(SetupReps) { i =>
      val in = Gen.train(c.seed, TrainDocs, TrainBatches)
      val bs = in.batches.zipWithIndex.map { case (b, j) =>
        landTrain(spark, b, c.dir(s"batch$i-$j")) }
      (in, landTrain(spark, in.docs, c.dir(s"corpus$i")), bs)
    }
    val n = in.docs.length.toDouble
    val curateS, scrubS, splitS, maintainS, stepMs, stateRatio =
      mutable.ArrayBuffer.empty[Double]
    var recall = Double.NaN
    val t0 = System.nanoTime()
    def elapsed = (System.nanoTime() - t0) / 1e9
    var pass = 0
    while (pass < 1 || elapsed < c.seconds) {
      val (survivors, s1) = c.timed("pipeline.curate")(
        Graft.curate(corpus, "doc_id", "text").select("doc_id").collect())
      val (scrub, s2) = c.timed("dedup.overlap_scrub")(
        Graft.overlapScrub(corpus, "doc_id", "text").collect())
      val (split, s3) = c.timed("dedup.group_split") {
        val r = Graft.groupSplit(corpus, "doc_id", "text").collect()
        c.attr("cc_rounds", graft.operators.Dedup.lastCcRounds.get())
        r
      }
      val root = c.dir(s"groups$pass")
      val gm = Graft.groupMaintenance(spark, stateRoot = Some(root))
      var s4 = 0.0
      batches.foreach { b =>
        val (_, s) = c.timed("streams.group_step")(gm.step(b, "doc_id", "text"))
        stepMs += s * 1e3; s4 += s
      }
      val (groups, s5) = c.timed("streams.group_compact") {
        val r = gm.compact().collect()
        c.attr("cc_rounds", graft.operators.Dedup.lastCcRounds.get())
        r
      }
      curateS += s1; scrubS += s2; splitS += s3; maintainS += s4 + s5
      stateRatio += du(root).toDouble / in.corpusBytes
      if (pass == 0) {
        // untimed checks against the planted truth and the batch path
        c.check(Checks.curateDrops(survivors.map(_.getLong(0)).toSet,
          in.exactFamilies, in.contaminated))
        c.check(Checks.scrubMasks(scrub.map(r =>
          r.getAs[Long]("doc_id") -> r.getAs[Number]("n_masked").intValue).toMap,
          in.contaminated, 5))
        val splitOf = split.map(r => r.getAs[Long]("doc_id") ->
          (r.getAs[String]("split"), r.getAs[Long]("grp"))).toMap
        c.check(Checks.splitFollowsGroup(splitOf))
        c.check(Checks.familiesInOneSplit(splitOf, in.exactFamilies))
        recall = Checks.pairRecall(
          split.map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("grp")).toMap,
          in.chainPairs)
        c.check(Checks.sameGroups(
          groups.map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("keep_doc"),
            r.getAs[Number]("group_size").longValue)).toSet,
          Checks.groupsOfSplit(split.map(r =>
            r.getAs[Long]("doc_id") -> r.getAs[Long]("grp")).toSeq)))
      }
      pass += 1
    }
    val med = (xs: mutable.ArrayBuffer[Double]) => Stats.median(xs.toSeq)
    val batchS = curateS.indices.map(i => curateS(i) + scrubS(i) + splitS(i))
    val setupS = sessionS + landS
    val peak = peakRssMb()
    Outcome(
      metrics = Seq(
        ("setup_s", setupS, "s"),
        ("batch_docs_per_s", n / Stats.median(batchS), "docs/s"),
        ("call_p50_ms", med(stepMs), "ms"),
        ("quality_share", recall, "share"),
        ("bytes_per_input_byte", med(stateRatio), "ratio")),
      named = Seq(
        ("setup_s", setupS, "s"),
        ("curate_docs_per_s", n / med(curateS), "docs/s"),
        ("scrub_docs_per_s", n / med(scrubS), "docs/s"),
        ("dedup_docs_per_s", n / med(splitS), "docs/s"),
        ("maintain_docs_per_s", n / med(maintainS), "docs/s"),
        ("dedup_pair_recall", recall, "share"),
        ("peak_rss_mb", peak, "MB")),
      info = Seq("session_s" -> sessionS, "land_s" -> landS,
        "curate_s" -> curateS.toSeq, "scrub_s" -> scrubS.toSeq,
        "split_s" -> splitS.toSeq, "maintain_s" -> maintainS.toSeq,
        "corpus_docs" -> in.docs.length, "corpus_bytes" -> in.corpusBytes,
        "passes" -> pass, "batches" -> TrainBatches,
        "exact_dup_share" -> in.exactFamilies.map(_.length - 1).sum / n,
        "chain_doc_share" -> in.chains.map(_.length).sum / n,
        "contaminated_share" -> in.contaminated.length / n,
        "low_quality_share" -> in.lowQuality.length / n,
        "inputs_sha256" -> Gen.digestOf(in)),
      c.attempted, c.failed, c.failures)
  }
}
