package graft.perfbench

/** Output checks and quality measures. Each check is a pure function
  * of the program's answer and the generator's planted truth, and
  * returns its failures (empty when the answer is right), so the
  * self-tests can feed it planted wrong answers.
  */
object Checks {

  /** Every lexical rank a search returned equals the rank the inline
    * BM25 scorer gives that chunk over the staged term frequencies.
    */
  def lexRanks(query: String, got: Seq[(Long, Option[Int])],
      want: Map[Long, Int]): Seq[String] =
    got.collect { case (chunk, Some(r)) if !want.get(chunk).contains(r) =>
      s"query '$query': chunk $chunk has r_lex $r, inline BM25 gives " +
        want.get(chunk).map(_.toString).getOrElse("no rank")
    }

  /** Curation drops every planted exact copy (a family keeps only its
    * lowest id) and every doc sharing a 5-gram with the benchmark slice.
    */
  def curateDrops(survivors: Set[Long], exactFamilies: Seq[Seq[Long]],
      contaminated: Seq[Long]): Seq[String] = {
    val copies = exactFamilies.flatMap(f => f.sorted.tail).filter(survivors)
    val leaked = contaminated.filter(survivors)
    copies.map(id => s"curate kept exact copy $id") ++
      leaked.map(id => s"curate kept contaminated doc $id")
  }

  /** The scrub masks at least one k-gram (k tokens) in every doc that
    * shares a k-gram with the benchmark slice.
    */
  def scrubMasks(masked: Map[Long, Int], contaminated: Seq[Long],
      k: Int): Seq[String] =
    contaminated.filter(id => masked.getOrElse(id, 0) < k)
      .map(id => s"overlapScrub masked ${masked.getOrElse(id, 0)} tokens of contaminated doc $id")

  /** A leakage-safe split is a function of the near-duplicate group:
    * every doc of one grp gets the same split, so grouped
    * near-duplicates never straddle splits. `split` maps doc_id to
    * (split, grp).
    */
  def splitFollowsGroup(split: Map[Long, (String, Long)]): Seq[String] =
    split.toSeq.groupBy(_._2._2).collect {
      case (g, m) if m.map(_._2._1).distinct.length > 1 =>
        s"group $g straddles splits ${m.map(_._2._1).distinct.sorted.mkString("/")}"
    }.toSeq.sorted

  /** Every planted exact-copy family (identical texts, so identical
    * signatures) lands in one split.
    */
  def familiesInOneSplit(split: Map[Long, (String, Long)],
      families: Seq[Seq[Long]]): Seq[String] =
    families.filter(f => !f.forall(split.contains) || f.map(split(_)._1).distinct.length > 1)
      .map(f => "family straddles splits: " + f.map(id =>
        s"$id->${split.get(id).map { case (s, g) => s"$s/grp $g" }.getOrElse("missing")}")
        .mkString(", "))

  /** Incremental group maintenance, compacted, equals the batch
    * grouping of the same corpus: (doc_id, keep_doc, group_size) rows.
    */
  def sameGroups(incremental: Set[(Long, Long, Long)],
      batch: Set[(Long, Long, Long)]): Seq[String] = {
    val extra = (incremental -- batch).toSeq.sorted.take(5)
    val missing = (batch -- incremental).toSeq.sorted.take(5)
    if (extra.isEmpty && missing.isEmpty) Nil
    else Seq(s"compact() differs from dedupGroups: extra $extra, missing $missing")
  }

  /** The batch grouping `Graft.dedupGroups` returns — (doc_id,
    * keep_doc, group_size) for every doc in a group of two or more —
    * read off `Graft.groupSplit`'s (doc_id, grp) answer, which assigns
    * each doc the keep_doc of the same minhash-LSH + connected
    * components grouping at the same threshold (a singleton is its
    * own grp).
    */
  def groupsOfSplit(split: Seq[(Long, Long)]): Set[(Long, Long, Long)] = {
    val size = split.groupBy(_._2).map { case (g, m) => g -> m.length.toLong }
    split.collect { case (d, g) if size(g) > 1 => (d, g, size(g)) }.toSet
  }

  /** Share of queries whose source doc is among their hits (a
    * search's top 10, or the docs a context pack drew chunks from).
    */
  def hitShare(results: Seq[(Long, Seq[Long])]): Double =
    if (results.isEmpty) 0.0
    else results.count { case (src, docs) => docs.contains(src) }.toDouble /
      results.length

  /** Share of planted chain-neighbour pairs that share a group. */
  def pairRecall(group: Map[Long, Long], pairs: Seq[(Long, Long)]): Double =
    if (pairs.isEmpty) 0.0
    else pairs.count { case (a, b) =>
      group.get(a).exists(g => group.get(b).contains(g)) }.toDouble / pairs.length
}
