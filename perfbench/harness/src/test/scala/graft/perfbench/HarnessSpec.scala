package graft.perfbench

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}

class HarnessSpec extends AnyFunSuite {

  test("a tail percentile is reported only with 10 samples beyond it") {
    val xs = (1 to 100).map(_.toDouble)
    assert(Stats.tailPercentile(xs, 0.9).contains(90.0))
    assert(Stats.tailPercentile(xs.take(99), 0.9).isEmpty)
    assert(Stats.tailPercentile(xs.take(20), 0.5).contains(10.0))
    assert(Stats.tailPercentile(xs.take(19), 0.5).isEmpty)
    assert(Stats.tailPercentile(Nil, 0.5).isEmpty)
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.median(Seq(4.0, 1.0, 2.0, 3.0)) == 2.5)
  }

  test("driver gap subtracts the UNION of overlapping job intervals") {
    // jobs 10-40 and 30-60 overlap: together they cover 50 ms, not 60
    val jobs = Seq((10L, 40L), (30L, 60L), (70L, 80L))
    assert(Stats.unionLength(jobs) == 60L)
    assert(Stats.driverGap(0L, 100L, jobs) == 40L)
    // a job nested in another adds nothing; one sticking out of the
    // span counts only inside it
    assert(Stats.driverGap(0L, 100L, Seq((10L, 90L), (20L, 30L))) == 20L)
    assert(Stats.driverGap(0L, 100L, Seq((-50L, 10L), (95L, 200L))) == 85L)
    assert(Stats.driverGap(0L, 100L, Nil) == 100L)
  }

  test("the same seed generates the same inputs; another seed does not") {
    val a = Gen.rag(7L, 300, 200)
    assert(Gen.digestOf(a) == Gen.digestOf(Gen.rag(7L, 300, 200)))
    assert(Gen.digestOf(a) != Gen.digestOf(Gen.rag(8L, 300, 200)))
    val t = Gen.train(7L, 600, 2)
    assert(Gen.digestOf(t) == Gen.digestOf(Gen.train(7L, 600, 2)))
    assert(Gen.digestOf(t) != Gen.digestOf(Gen.train(8L, 600, 2)))
  }

  test("the generator plants the structure the checks rely on") {
    val t = Gen.train(3L, 2000, 2)
    val n = t.docs.length.toDouble
    assert(t.docs.map(_.docId).distinct.length == t.docs.length)
    val text = t.docs.map(d => d.docId -> d.text).toMap
    t.exactFamilies.foreach(f => assert(f.map(text).distinct.length == 1))
    assert(math.abs(t.exactFamilies.map(_.length - 1).sum / n - 0.05) < 0.01)
    assert(t.chains.forall(c => c.length >= 2 && c.length <= 32))
    assert(math.abs(t.chains.map(_.length).sum / n - 0.125) < 0.02)
    // neighbours share most of their 3-shingles; a contaminated doc
    // shares a 5-gram with some doc of the benchmark slice
    def sh(s: String, k: Int) = Gen.tokens(s).sliding(k).map(_.mkString(" ")).toSet
    t.chainPairs.take(50).foreach { case (x, y) =>
      val (a, b) = (sh(text(x), 3), sh(text(y), 3))
      assert((a & b).size.toDouble / (a | b).size > 0.9)
    }
    val bench = t.docs.filter(_.docId % Gen.BenchMod == 0).flatMap(d => sh(d.text, 5)).toSet
    t.contaminated.foreach(id => assert((sh(text(id), 5) & bench).nonEmpty))
    assert(t.contaminated.forall(_ % Gen.BenchMod != 0))
    // a RAG query's terms come from its source doc's indexed text
    val r = Gen.rag(3L, 300, 100)
    val idx = r.corpus.map(d => d.docId -> d.indexed.toSet).toMap
    r.queries.foreach(q => assert(Gen.tokens(q.text).forall(idx(q.srcDoc))))
  }

  test("landed inputs are byte-identical for the same seed") {
    val spark = graft.GraftSession.build("2")
    val root = Files.createTempDirectory("perfbench_land_")
    try {
      def land(dir: String): Seq[Array[Byte]] = {
        Workloads.landTrain(spark, Gen.train(5L, 400, 2).docs, root.resolve(dir).toString)
        val s = Files.list(root.resolve(dir))
        try {
          import scala.jdk.CollectionConverters._
          s.iterator().asScala.toSeq.map(_.getFileName.toString)
            .filter(f => f.startsWith("part-") && f.endsWith(".parquet")).sorted
            .map(f => Files.readAllBytes(root.resolve(dir).resolve(f)))
        } finally s.close()
      }
      val (a, b) = (land("a"), land("b"))
      assert(a.nonEmpty && a.length == b.length)
      a.zip(b).foreach { case (x, y) => assert(java.util.Arrays.equals(x, y)) }
    } finally {
      spark.stop()
      deleteTree(root)
    }
  }

  private def deleteTree(p: Path): Unit = {
    val s = Files.walk(p)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    } finally s.close()
  }

  test("each output check rejects a planted wrong answer") {
    // lexical ranks
    assert(Checks.lexRanks("q", Seq((1L, Some(1)), (2L, None)), Map(1L -> 1)).isEmpty)
    assert(Checks.lexRanks("q", Seq((1L, Some(2))), Map(1L -> 1)).nonEmpty)
    assert(Checks.lexRanks("q", Seq((3L, Some(1))), Map(1L -> 1)).nonEmpty)
    // curation keeps the lowest id of a copy family, drops contamination
    val fams = Seq(Seq(5L, 2L, 9L))
    assert(Checks.curateDrops(Set(2L, 7L), fams, Seq(4L)).isEmpty)
    assert(Checks.curateDrops(Set(2L, 5L), fams, Seq(4L)).nonEmpty)
    assert(Checks.curateDrops(Set(2L, 4L), fams, Seq(4L)).nonEmpty)
    // scrub masks a whole k-gram in each contaminated doc
    assert(Checks.scrubMasks(Map(4L -> 8), Seq(4L), 5).isEmpty)
    assert(Checks.scrubMasks(Map(4L -> 0), Seq(4L), 5).nonEmpty)
    assert(Checks.scrubMasks(Map.empty, Seq(4L), 5).nonEmpty)
    // splits follow groups; copy families share a split
    val ok = Map(1L -> ("train", 1L), 2L -> ("train", 1L), 3L -> ("test", 3L))
    assert(Checks.splitFollowsGroup(ok).isEmpty)
    assert(Checks.splitFollowsGroup(ok + (2L -> ("val", 1L))).nonEmpty)
    assert(Checks.familiesInOneSplit(ok, Seq(Seq(1L, 2L))).isEmpty)
    assert(Checks.familiesInOneSplit(ok, Seq(Seq(1L, 3L))).nonEmpty)
    assert(Checks.familiesInOneSplit(ok, Seq(Seq(1L, 8L))).nonEmpty)
    // incremental groups equal the batch grouping read off the split
    val batch = Checks.groupsOfSplit(Seq(1L -> 1L, 2L -> 1L, 3L -> 3L))
    assert(batch == Set((1L, 1L, 2L), (2L, 1L, 2L)))
    assert(Checks.sameGroups(batch, batch).isEmpty)
    assert(Checks.sameGroups(batch + ((3L, 1L, 3L)), batch).nonEmpty)
    assert(Checks.sameGroups(batch - ((2L, 1L, 2L)), batch).nonEmpty)
    // quality shares
    assert(Checks.hitShare(Seq(1L -> Seq(1L, 2L), 3L -> Seq(4L))) == 0.5)
    assert(Checks.pairRecall(Map(1L -> 1L, 2L -> 1L, 3L -> 3L),
      Seq((1L, 2L), (2L, 3L))) == 0.5)
  }
}
