package graft.perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

/** Seeded input generator. Every input a workload feeds the program
  * (corpora and query streams) and the truth the output checks compare
  * against is a pure function of the seed: the same seed gives the same
  * records in the same order, hence byte-identical landed files. Sizes
  * are arguments, so the self-tests can run the same generator small.
  */
object Gen {

  /** One repository entry as the RAG workloads land it. `indexed` is
    * the token sequence the program's routing keeps for the entry
    * (empty for skipped entries): frontmatter stripped for md/mdx,
    * the notebook export for ipynb, the rewrite stub's 12-token
    * summary for other code. Queries draw their terms from it.
    */
  final case class RagDoc(docId: Long, path: String, lang: String,
      text: String, stem: String, indexed: Vector[String]) {
    def indexable: Boolean = indexed.nonEmpty
  }

  /** A query string and the doc its terms were taken from. */
  final case class Query(text: String, srcDoc: Long)

  final case class RagInputs(corpus: Vector[RagDoc], queries: Vector[Query]) {
    def corpusBytes: Long = corpus.map(d => utf8Len(d.text)).sum
  }

  final case class TrainDoc(docId: Long, text: String)

  /** The training corpus and its planted structure. `exactFamilies`
    * and `chains` list member ids in planting order (a chain's
    * neighbours are near-duplicates); `contaminated` share a 5-gram
    * with the `doc_id % 97 == 0` benchmark slice.
    */
  final case class TrainInputs(docs: Vector[TrainDoc],
      exactFamilies: Vector[Vector[Long]], chains: Vector[Vector[Long]],
      contaminated: Vector[Long], lowQuality: Vector[Long],
      batches: Vector[Vector[TrainDoc]]) {
    def corpusBytes: Long = docs.map(d => utf8Len(d.text)).sum
    def chainPairs: Vector[(Long, Long)] =
      chains.flatMap(c => c.zip(c.tail))
  }

  val BenchMod = 97L
  private val EnStop = Vector("the", "a", "of", "and", "is")
  private val DeStop = Vector("der", "die", "und", "das", "ist")
  private val FrStop = Vector("le", "la", "et", "les", "des")
  /** Tokens the program itself emits (route tags, fences) or scores
    * (language profiles); generated words never collide with them.
    */
  private val Reserved: Set[String] = (EnStop ++ DeStop ++ FrStop ++
    Seq("el", "de", "los", "y", "shi", "bu", "wo", "python", "sql",
      "java", "en", "rewritten", "markdown", "title", "tags")).toSet

  def utf8Len(s: String): Long = s.getBytes(UTF_8).length.toLong

  /** A vocabulary of `n` distinct pseudo-words ranked for Zipf
    * sampling, with its cumulative weights (exponent `s`).
    */
  final class Vocab(rng: SplittableRandom, n: Int, s: Double) {
    private val cons = "bcdfghklmnprstvz"
    private val vows = "aeiou"
    val words: Array[String] = {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      while (seen.size < n) {
        val syl = 2 + rng.nextInt(3)
        val w = (0 until syl).map(_ =>
          s"${cons(rng.nextInt(cons.length))}${vows(rng.nextInt(vows.length))}")
          .mkString
        if (!Reserved(w)) seen += w
      }
      seen.toArray
    }
    private val cdf = zipfCdf(n, s)
    def word(r: SplittableRandom): String = words(zipfIndex(r, cdf))
  }

  /** Zipf over `n` items (rank 0 most popular): cumulative weights,
    * and a draw from them.
    */
  private def zipfCdf(n: Int, s: Double): Array[Double] = {
    val w = Array.tabulate(n)(r => 1.0 / math.pow(r + 1.0, s))
    val tot = w.sum
    w.scanLeft(0.0)(_ + _).tail.map(_ / tot)
  }
  private def zipfIndex(r: SplittableRandom, cdf: Array[Double]): Int = {
    val i = java.util.Arrays.binarySearch(cdf, r.nextDouble())
    math.min(cdf.length - 1, if (i >= 0) i else -i - 1)
  }

  /** English-looking prose: Zipf words with the English profile's
    * stopwords mixed in, so the quality and language stages keep it.
    */
  private def prose(r: SplittableRandom, v: Vocab, nWords: Int): Vector[String] =
    Vector.fill(nWords)(
      if (r.nextInt(5) == 0) EnStop(r.nextInt(EnStop.length)) else v.word(r))

  def tokens(s: String): Vector[String] =
    s.toLowerCase(java.util.Locale.ROOT).split("[^a-z0-9]+")
      .filter(_.nonEmpty).toVector

  /** A word unique to one doc id (letters only, so it tokenizes as
    * one term): the file stem a real repository entry would carry.
    */
  def stemOf(id: Long): String = {
    val sb = new StringBuilder("q")
    var x = id
    do { sb += ('a' + (x % 26).toInt).toChar; x /= 26 } while (x > 0)
    sb.append("x").toString
  }

  private def paragraphs(r: SplittableRandom, v: Vocab, nWords: Int): String =
    prose(r, v, nWords).grouped(40).map(_.mkString(" ")).mkString(".\n\n") + "."

  /** One repository entry; its kind (md, mdx, ipynb, code, or an
    * entry the routing skips) is drawn from the doc's own seed.
    */
  private def ragDoc(seed: Long, id: Long, v: Vocab, lenCdf: Array[Double]): RagDoc = {
    val r = new SplittableRandom(seed * 1000003L + id)
    val stem = stemOf(id)
    val dir = v.words(r.nextInt(64))
    val nWords = 30 + zipfIndex(r, lenCdf)
    val pick = r.nextInt(100)
    def doc(path: String, lang: String, text: String,
        indexed: Vector[String]) = RagDoc(id, path, lang, text, stem, indexed)
    if (pick < 55) {
      val ext = if (pick < 45) "md" else "mdx"
      val head = s"# $stem ${v.word(r)}"
      val body0 = paragraphs(r, v, nWords)
      val body = if (ext == "mdx")
        s"$head\n\n<Callout>${v.word(r)} ${v.word(r)}</Callout>\n\n$body0"
      else s"$head\n\n$body0"
      val fm = s"---\ntitle: ${v.word(r)} ${v.word(r)}\ntags: [${v.word(r)}]\n---\n"
      doc(s"repo/docs/$dir/$stem.$ext", "en", fm + body, tokens(body))
    } else if (pick < 70) {
      val md = s"# $stem ${v.word(r)}\n\n" + paragraphs(r, v, nWords)
      val code = s"${v.word(r)} = ${v.word(r)}(${v.word(r)})"
      val nb = "{\"cells\":[{\"cell_type\":\"markdown\",\"source\":" +
        jsonStr(md) + "},{\"cell_type\":\"code\",\"source\":" +
        jsonStr(code) + "},{\"cell_type\":\"raw\",\"source\":\"skip\"}]," +
        "\"metadata\":{},\"nbformat\":4}"
      val exported = s"$md\n\n```python\n$code\n```"
      doc(s"repo/notebooks/$dir/$stem.ipynb", "en", nb,
        tokens(exported))
    } else if (pick < 90) {
      val (ext, lang) = pick match {
        case p if p < 80 => ("py", "python")
        case p if p < 85 => ("sql", "sql")
        case _ => ("java", "java")
      }
      val fn = s"${stem}_${v.word(r)}"
      val lines = prose(r, v, nWords).filterNot(EnStop.contains)
        .grouped(6).map(ws => s"    ${ws.head} = ${ws.tail.mkString(" + ")}")
      val text = lang match {
        case "python" => s"def $fn():\n${lines.mkString("\n")}\n"
        case "sql" => s"-- $fn\nselect ${v.word(r)} from ${v.word(r)}\n" +
          lines.mkString("\n")
        case _ => s"class $fn {\n${lines.mkString(";\n")};\n}\n"
      }
      val summary = s"# $lang\n${tokens(text).take(12).mkString(" ")}\n(rewritten)"
      doc(s"repo/src/$dir/$stem.$ext", lang, text, tokens(summary))
    } else {
      pick % 3 match {
        case 0 => doc(s"repo/$dir/$stem/", "en", "", Vector.empty)
        case 1 => doc(s"repo/$dir/.$stem.md", "en",
          paragraphs(r, v, 20), Vector.empty)
        case _ => doc(s"repo/img/$stem.png", "en",
          "\u0089PNG " + stem, Vector.empty)
      }
    }
  }

  private def jsonStr(s: String): String =
    "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"")
      .replace("\n", "\\n") + "\""

  /** Words too common to make a query distinctive. */
  private def commonWords(v: Vocab): Set[String] =
    (v.words.take(30).toSeq ++ EnStop ++ Seq("python", "rewritten")).toSet

  /** A doc's own query: 1-5 terms from one chunk-sized window of its
    * indexed tokens. Fixed per doc, so a popular doc repeats its query.
    */
  private def queryFor(seed: Long, d: RagDoc, common: Set[String]): Query = {
    val r = new SplittableRandom(seed * 7919L + d.docId * 31L + 17L)
    val toks = d.indexed.filterNot(_ == d.stem)
    val start = r.nextInt(math.max(1, toks.length - 20))
    val window = toks.slice(start, start + 20).distinct
    val good = window.filterNot(common)
    val pool = if (good.nonEmpty) good else window
    val n = 1 + r.nextInt(5)
    val picked = shuffle(r, pool).take(n)
    Query(picked.mkString(" "), d.docId)
  }

  private def shuffle[T](r: SplittableRandom, xs: Vector[T]): Vector[T] = {
    val a = xs.toArray[Any]
    var i = a.length - 1
    while (i > 0) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t; i -= 1
    }
    a.toVector.asInstanceOf[Vector[T]]
  }

  /** Zipf-popular query stream over the indexable docs of `pool`. */
  private def queryStream(r: SplittableRandom, seed: Long, pool: Vector[RagDoc],
      common: Set[String], n: Int): Vector[Query] = {
    val order = shuffle(r, pool)
    val cdf = zipfCdf(order.length, 1.0)
    Vector.fill(n)(queryFor(seed, order(zipfIndex(r, cdf)), common))
  }

  /** The RAG workload's inputs: `nDocs` repository entries and a
    * Zipf-popular query stream of `nQueries`.
    */
  def rag(seed: Long, nDocs: Int, nQueries: Int): RagInputs = {
    val r = new SplittableRandom(seed)
    val v = new Vocab(r.split(), 8000, 1.07)
    val lenCdf = zipfCdf(260, 0.6)
    val corpus = Vector.tabulate(nDocs)(i => ragDoc(seed, i + 1L, v, lenCdf))
    RagInputs(corpus, queryStream(r.split(), seed,
      corpus.filter(_.indexable), commonWords(v), nQueries))
  }

  /** The training corpus: `nDocs` docs of which ~5% are exact copies,
    * ~12.5% sit in near-duplicate chains of length 2-32, ~25% are
    * non-English or low quality and ~2% share a 5-gram with the
    * benchmark slice; fed to maintenance as `nBatches` batches.
    */
  def train(seed: Long, nDocs: Int, nBatches: Int): TrainInputs = {
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    val v = new Vocab(r.split(), 8000, 1.07)
    val nExact = nDocs * 5 / 100
    val nChain = nDocs * 15 / 100
    val nBad = nDocs * 25 / 100
    val nContam = nDocs * 2 / 100
    val nPlain = nDocs - nExact - nChain - nBad - nContam
    // ids are a seeded permutation, so families are not id-adjacent;
    // the benchmark slice (id % 97 == 0) is kept out of the planted
    // roles and stays plain text
    val ids = shuffle(r, (1L to nDocs.toLong).toVector)
    val (benchIds, roleIds) = ids.partition(_ % BenchMod == 0)
    val it = roleIds.iterator
    def take(n: Int): Vector[Long] = Vector.fill(n)(it.next())
    val text = scala.collection.mutable.LinkedHashMap.empty[Long, String]
    def plain(): String = prose(r, v, 60 + r.nextInt(120)).mkString(" ")
    benchIds.foreach(id => text(id) = plain())
    // plain docs
    take(math.max(0, nPlain - benchIds.length)).foreach(id => text(id) = plain())
    // exact-dup families of 2-4: the first member is the original
    val exactIds = take(nExact + nExact / 2)
    val exactFamilies = {
      val b = Vector.newBuilder[Vector[Long]]
      var rest = exactIds
      while (rest.length >= 2) {
        val n = math.min(rest.length, 2 + r.nextInt(3))
        val fam = if (rest.length - n == 1) rest else rest.take(n)
        val t = plain(); fam.foreach(id => text(id) = t)
        b += fam; rest = rest.drop(fam.length)
      }
      b.result()
    }
    // near-dup chains: a 150-word window sliding 6 words per step over
    // one long word stream. Neighbours' 3-shingle Jaccard is about 0.92
    // and docs 9+ steps apart fall under 0.5, so a long chain is a
    // path of overlapping cliques that connected components needs
    // several pointer-jump rounds to label
    val chainIds = take(nChain - nExact / 2)
    val chains = {
      val b = Vector.newBuilder[Vector[Long]]
      var rest = chainIds
      while (rest.nonEmpty) {
        val n = math.min(rest.length, 2 + r.nextInt(31))
        val ch = if (rest.length - n == 1) rest else rest.take(n)
        val w = 150
        val stream = prose(r, v, w + 6 * ch.length)
        ch.zipWithIndex.foreach { case (id, i) =>
          text(id) = stream.slice(6 * i, 6 * i + w).mkString(" ") }
        b += ch; rest = rest.drop(ch.length)
      }
      b.result()
    }
    // non-English (German/French profile) and low-quality docs
    val badIds = take(nBad)
    val lowQuality = badIds.filter(_ => r.nextBoolean())
    val lowSet = lowQuality.toSet
    badIds.foreach { id =>
      text(id) =
        if (lowSet(id)) { val w = v.word(r); Vector.fill(3 + r.nextInt(6))(w).mkString(" ") }
        else {
          val stop = if (r.nextBoolean()) DeStop else FrStop
          Vector.fill(60 + r.nextInt(100))(
            if (r.nextInt(3) == 0) stop(r.nextInt(stop.length)) else v.word(r))
            .mkString(" ")
        }
    }
    // contaminated: plain text with an 8-word span of a bench doc
    val contaminated = take(nContam)
    contaminated.foreach { id =>
      val src = tokens(text(benchIds(r.nextInt(benchIds.length))))
      val at = r.nextInt(src.length - 8)
      val base = prose(r, v, 60 + r.nextInt(80))
      val cut = r.nextInt(base.length)
      text(id) = (base.take(cut) ++ src.slice(at, at + 8) ++ base.drop(cut))
        .mkString(" ")
    }
    val docs = text.toVector.sortBy(_._1).map { case (id, t) => TrainDoc(id, t) }
    val order = shuffle(r, docs)
    val per = (order.length + nBatches - 1) / nBatches
    TrainInputs(docs, exactFamilies, chains, contaminated, lowQuality,
      order.grouped(per).toVector)
  }

  /** SHA-256 over a canonical rendering of every generated record. */
  def digest(parts: Iterable[String]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    parts.foreach { p => md.update(p.getBytes(UTF_8)); md.update(0: Byte) }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  def digestOf(in: RagInputs): String = digest(
    in.corpus.map(d => s"${d.docId}|${d.path}|${d.lang}|${d.text}") ++
      in.queries.map(q => s"${q.srcDoc}|${q.text}"))

  def digestOf(in: TrainInputs): String = digest(
    in.docs.map(d => s"${d.docId}|${d.text}") ++
      in.batches.map(_.map(_.docId).mkString(",")))
}
