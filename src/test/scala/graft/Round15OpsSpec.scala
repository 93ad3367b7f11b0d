package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Round-15 optimization semantics, pinned: the convergence-aware star
  * entry (Components.StarEntryMinRounds/StarEntryDecayPct) must change
  * WHEN the star phase starts, never WHAT the labels are, and must not
  * fire at all on the shallow near-clique regime every real dup family
  * except the knn graph lives in. */
class Round15OpsSpec extends SparkSpecBase {
  import graft.operators.Components

  private def edgeDf(pairs: Seq[(Long, Long)]): DataFrame = {
    import spark.implicits._
    pairs.toDF("a", "b")
  }

  private def labelsOf(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("lbl")).toMap

  private def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  test("star entry fires early on the deep regime and labels stay exact") {
    // a 120-vertex chain over sparse shuffled ids: pure propagation would
    // need ~119 rounds, the old fixed budget burned 6 before contracting.
    // The slow-decay signal (delta ratio ~1 on a chain) must fire at round
    // StarEntryMinRounds, so the total round count is MinRounds + the star
    // rounds on the contracted ~n/4 chain — strictly under the old
    // budget-6 entry's minimum possible total (6 + 1).
    val rnd = new scala.util.Random(15)
    val ids = rnd.shuffle((1L to 4000L).toVector).take(120)
    val pairs = ids.sliding(2).map(w => (w(0), w(1))).toSeq
    val (labels, rounds) = Components.minLabelWithRounds(edgeDf(pairs))
    assert(labelsOf(labels) == unionFind(pairs), "deep-chain labels diverge")
    // entry at round 3 + log-round star tail; the chain contracts 4:1, so
    // the star phase sees ~30 nodes — well under 10 rounds. The old entry
    // could not finish below 6 + 1.
    assert(rounds <= Components.StarEntryMinRounds + 10,
      s"deep chain took $rounds rounds — early star entry not firing")
  }

  test("shallow near-clique corpora still converge in pure propagation") {
    // three disjoint cliques (the multimodal/edit regime: delta collapses
    // to ~0 after round 1, measured ratio 0.007): the decay test must NOT
    // fire — convergence lands within StarEntryMinRounds, so any star
    // round in the count means the heuristic mis-fired on the shallow case
    val cliques = Seq(10L, 40L, 90L).flatMap { base =>
      val members = (0L until 6L).map(base + _)
      for (x <- members; y <- members if x < y) yield (x, y)
    }
    val (labels, rounds) = Components.minLabelWithRounds(edgeDf(cliques))
    assert(labelsOf(labels) == unionFind(cliques), "clique labels diverge")
    assert(rounds <= Components.StarEntryMinRounds,
      s"cliques took $rounds rounds — star phase fired on the shallow regime")
  }

  test("phase-2 driver union-find equals the distributed star on the same input") {
    // the r15 count-gated driver finish (StarDriverCap) vs the distributed
    // star loop forced via cap = 0: same labels on deep multi-chain
    // corpora, and both equal union-find
    val rnd = new scala.util.Random(152)
    for (trial <- 1 to 3) {
      val ids = rnd.shuffle((1L to 3000L).toVector).take(150)
      val chains = ids.grouped(30).flatMap(g =>
        g.sliding(2).collect { case Seq(x, y) => (x, y) }).toSeq
      val viaDriver = labelsOf(
        Components.minLabelWithRounds(edgeDf(chains), Components.StarDriverCap)._1)
      val viaStar = labelsOf(Components.minLabelWithRounds(edgeDf(chains), 0L)._1)
      val want = unionFind(chains)
      assert(viaDriver == want, s"trial $trial: driver-UF labels diverge")
      assert(viaStar == want, s"trial $trial: forced-star labels diverge")
    }
  }

  test("driver union-find labels a StarDriverCap-node path of hashed ids without overflow") {
    // a path over hashed 64-bit ids, edges in canonical (greater, lesser)
    // form: fed in path order, an unranked union chains the roots into
    // one deep list, and hashed ids defeat the ascending HashMap visit order
    // that compresses sequential-id chains as a side effect, so a
    // recursive find overflows the stack here. A shuffled order must agree.
    val n = Components.StarDriverCap.toInt
    val ids = (0L until n.toLong).map(scala.util.hashing.byteswap64)
    val path = ids.sliding(2).map(p => (p.max, p.min)).toVector
    for (edges <- Seq(path, new scala.util.Random(212).shuffle(path))) {
      val labels = Components.unionFindMinLabels(edges)
      assert(labels.size == n)
      assert(labels.map(_._2).toSet == Set(ids.min),
        "the path must be one component labeled by its min id")
    }
  }

  test("mixed corpus (cliques + planted deep chain): exact from any entry round") {
    val rnd = new scala.util.Random(151)
    for (trial <- 1 to 4) {
      val base = rnd.nextLong().abs % 1000000L + 10L
      val clique = for (x <- 0L until 5L; y <- 0L until 5L if x < y)
        yield (base + x, base + y)
      val chainIds = Vector.fill(40)(rnd.nextLong().abs % 1000000007L + 3L).distinct
      val chain = chainIds.sliding(2).collect { case Seq(x, y) => (x, y) }.toSeq
      val pairs = clique ++ chain
      assert(labelsOf(Components.minLabel(edgeDf(pairs))) == unionFind(pairs),
        s"trial $trial: mixed-corpus labels diverge from union-find")
    }
  }
}
