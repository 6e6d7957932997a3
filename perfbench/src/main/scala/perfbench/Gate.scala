package perfbench

/**
 * The correctness gate: compares engine outputs with the independent
 * references in [[Oracles]]. Every check returns the list of failures
 * (empty = pass), so a failure is charged to the op that produced it.
 */
object Gate {

  val RankRtol = 1e-6
  val RankSumTol = 1e-9

  final case class PageRankRef(ranks: Map[String, Double], iterations: Int) {
    /** Urls by rank descending, ties by url. */
    lazy val order: Seq[(String, Double)] =
      ranks.toSeq.sortBy { case (u, r) => (-r, u) }
  }

  /** WCC, LPA and triangles of the undirected graph that a directed edge
   * list symmetrizes to. */
  final case class CommunityRef(src: Array[Long], dst: Array[Long], lpaMaxIter: Int) {
    private val v = Oracles.ids(src ++ dst)
    private val g = Oracles.csr(v, src, dst)
    private def byId(a: Array[Long]) = v.sorted.indices.map(i => v.sorted(i) -> a(i)).toMap
    /** Directed rows of the symmetric closure, self loops included. */
    val symEdges: Long = {
      val loops = src.indices.filter(e => src(e) == dst(e)).map(e => src(e)).distinct.size
      g.nbr.length.toLong + loops
    }
    val wcc: Map[Long, Long] = byId(Oracles.wcc(v, g))
    val (lpa, lpaIters) = {
      val (l, it) = Oracles.lpa(v, g, lpaMaxIter)
      (byId(l), it)
    }
    lazy val triangles: Map[Long, Long] = byId(Oracles.triangles(v, g))
  }

  def equal(what: String, got: Option[Long], want: Long): Seq[String] = got match {
    case Some(x) if x == want => Nil
    case Some(x) => Seq(s"$what: got $x, want $want")
    case None => Seq(s"$what: missing")
  }

  def exact(what: String, got: Map[Long, Long], want: Map[Long, Long]): Seq[String] = {
    val bad = (got.keySet ++ want.keySet).iterator
      .filter(k => got.get(k) != want.get(k)).take(3)
      .map(k => s"$what of $k: got ${got.get(k)}, want ${want.get(k)}").toSeq
    if (bad.isEmpty) Nil
    else s"$what: ${(got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))} vertices differ" +: bad
  }

  def pagerank(got: Map[String, Double], iterations: Int, want: PageRankRef): Seq[String] = {
    val iters = if (iterations == want.iterations) Nil
      else Seq(s"iterations: got $iterations, want ${want.iterations}")
    val keys = if (got.keySet == want.ranks.keySet) Nil
      else Seq(s"vertex set: got ${got.size}, want ${want.ranks.size}, " +
        s"${(got.keySet -- want.ranks.keySet).size} extra, ${(want.ranks.keySet -- got.keySet).size} missing")
    val far = want.ranks.iterator.filter { case (u, w) =>
      got.get(u).forall(x => math.abs(x - w) > RankRtol * math.abs(w) + 1e-15)
    }.take(3).map { case (u, w) => s"rank of $u: got ${got.get(u)}, want $w" }.toSeq
    val total = got.values.sum
    val sum = if (math.abs(total - 1.0) <= RankSumTol) Nil else Seq(s"ranks sum to $total")
    iters ++ keys ++ far ++ sum
  }

  /** Same top-k urls; a url may differ only where its reference rank
   * ties the k-th rank (to 1e-12 relative). */
  def topUrls(got: Seq[String], want: PageRankRef, k: Int): Seq[String] = {
    val ref = want.order.take(k)
    val kth = ref.last._2
    def tie(u: String) = want.ranks.get(u).exists(r => math.abs(r - kth) <= 1e-12 * kth)
    val diff = (got.toSet -- ref.map(_._1)) ++ (ref.map(_._1).toSet -- got)
    val size = if (got.size == ref.size) Nil else Seq(s"top-$k has ${got.size} urls")
    size ++ diff.filterNot(tie).take(3).map(u => s"top-$k: $u differs from the reference")
  }
}
