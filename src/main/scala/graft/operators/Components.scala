package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed connected components — the shared resolution step behind
  * `dedup_clusters` (text near-dup edges) and `embed_clusters` (semantic
  * kNN-graph edges).
  *
  * Reference semantics: duplicate-group resolution, the cluster step of
  * every keep-one-per-group dedup (Lee et al. §3 resolve pair sets the
  * same way).
  *
  * [[minLabel]] (production) is a HYBRID of two forms behind one contract:
  *  - phase 1: up to [[PropRoundBudget]] one-hop min-label rounds — the
  *    cheapest possible round (one join + one min aggregate), and dup
  *    graphs are near-cliques in practice (exact-dup groups, banded
  *    near-dup families), so almost every real input converges here at
  *    the r1–r7 cost.
  *  - phase 2 (only if phase 1 didn't converge): contract the graph by
  *    the partial labels — cliques collapse to single nodes, so the
  *    contracted graph is no bigger and usually far smaller — and finish
  *    with alternating large-star / small-star (Kiveris et al.,
  *    "Connected Components in MapReduce and Beyond", SoCC'14), which
  *    converges in O(log n) rounds REGARDLESS of component diameter. A
  *    chain-shaped duplicate family at corpus scale would otherwise mean
  *    hundreds of driver-synchronized propagation rounds, each a full
  *    labels shuffle — the round count, not per-round data volume, is
  *    the structural 100 TB risk.
  * Star-phase soundness: the loop stops only when BOTH star operators are
  * the identity — their common fixpoints are exactly disjoint stars
  * centered at component minima. Spec-pinned equal to union-find and to
  * the pure propagation form on randomized graphs (Round8OpsSpec);
  * round counts probe-measured log-vs-linear on chains (ScaleProbe cc).
  */
object Components {

  /** One-hop propagation rounds before the star phase takes over. Covers
    * the measured convergence of every gate-corpus dup graph (≤ ~5) with
    * one round to spare; a high-diameter component wastes at most this
    * many cheap rounds before the log-round algorithm finishes the job.
    * (r14 note: pointer jumping in phase 1 was tried and REFUTED by
    * measurement — the sf0.1 knn dup graph converged in 15 jump rounds vs
    * 6 propagation + 3 star rounds, and jumping taxes the common shallow
    * case with an extra self-join per round; the star phase is already
    * the log-round path for deep graphs. Budget RAISING is also refuted:
    * pure one-hop propagation on the same graph needs 25 rounds
    * (diameter ≈ 24, measured by Probe14's pureProp probe) — the deep
    * chain family the star phase exists for is real in this corpus, not
    * hypothetical.) */
  val PropRoundBudget = 6

  /** r15 convergence-aware star entry (VERDICT item 3): the per-round
    * label-sum delta is already computed for the convergence test, and its
    * DECAY separates the two graph regimes with a 14× margin at the gate
    * corpora (Probe15 cc, sf0.1):
    *  - shallow near-clique families collapse immediately —
    *    multimodal delta ratio 0.007 at round 2 (converged round 3),
    *    edit delta 0 at round 2;
    *  - deep families keep moving one hop per round — knn dup graph
    *    ratio 0.43–0.74 for 25 straight pure-prop rounds (diameter ≈ 24),
    *    chain300 ratio 0.997.
    * So from round [[StarEntryMinRounds]] on, a round whose delta is
    * still ≥ [[StarEntryDecayPct]]% of the previous round's delta is
    * treated as the deep regime and the loop breaks straight to the
    * contraction + star phase instead of burning the rest of the budget.
    * Entry round choice is measurement, not guesswork: the forced-entry
    * ladder on the real knn dup graph read enterAt=1/2/3/4/6 =
    * 3.76/3.64/3.48/3.41/3.98 s (repeat pass 3.11/3.02/2.78/3.22/3.61 —
    * enterAt=3 best both times, the old budget-6 entry worst). The fixed
    * budget stays as the outer bound for inputs whose deltas decay
    * geometrically yet never quite converge (they keep passing the ratio
    * test and would otherwise propagate forever). Correctness is
    * entry-point-independent: phase 2 is exact from ANY partial labeling
    * (a component's true minimum is always its own label, so it survives
    * contraction), which Round8OpsSpec pins against union-find and
    * Round15OpsSpec pins specifically across entry rounds. */
  val StarEntryMinRounds = 3
  val StarEntryDecayPct = 10L

  /** r15: phase 2 finishes on the DRIVER when the contracted graph is
    * small (the markov-class rule — driver loops over bounded collected
    * tables; the GraphDense/knn_mmr precedent). Contraction collapses
    * every partial-label class to one node, so by phase-2 entry the
    * contracted edge count is usually a tiny fraction of the dup
    * subgraph; a count gate BOUNDS the collect by construction (two
    * longs per row, ≤ ~1.6 MB at the cap) and anything larger takes the
    * distributed star loop unchanged. Union-find with explicit
    * component-min labeling is exactly the star fixpoint's contract
    * (Round8OpsSpec pins star == union-find; Round15OpsSpec pins the
    * driver and distributed branches equal on the same input). */
  val StarDriverCap = 100000L

  /** Canonical undirected form: (a, b) with a > b, self-loops dropped,
    * deduped — the shape both star steps emit and consume. */
  private def canon(e: DataFrame): DataFrame =
    e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      .filter(col("a") =!= col("b"))
      .distinct()

  /** Large-star: every node connects its STRICTLY LARGER neighbors to the
    * minimum of its closed neighborhood. Operates on the symmetrized edge
    * list; output is canonical (larger → min, and min ≤ node < neighbor).
    * No vertex is lost: each edge's larger endpoint is re-emitted from the
    * smaller side's neighborhood, and the smaller endpoint either is its
    * own neighborhood min (so it stays as a target) or has a smaller
    * neighbor whose neighborhood re-emits it. */
  private def largeStar(e: DataFrame): DataFrame = {
    val sym = e.unionByName(e.select(col("b").as("a"), col("a").as("b")))
    val mins = sym.groupBy(col("a"))
      .agg(least(min(col("b")), first(col("a"))).as("m"))
    sym.join(mins, "a")
      .filter(col("b") > col("a"))
      .select(col("b").as("a"), col("m").as("b"))
      .distinct()
  }

  /** Small-star: every node connects its smaller-or-equal neighbors (and
    * itself) to the minimum of that set. Consumes canonical (a > b) edges,
    * so the group min over b IS the closed-neighborhood min. */
  private def smallStar(e: DataFrame): DataFrame = {
    val mins = e.groupBy(col("a")).agg(min(col("b")).as("m"))
    e.join(mins, "a")
      .select(col("b").as("n"), col("m"))
      .filter(col("n") =!= col("m"))
      .select(col("n").as("a"), col("m").as("b"))
      .unionByName(mins.select(col("a"), col("m").as("b")))
      .distinct()
  }

  /** Labels every vertex incident to an edge with the minimum vertex id
    * reachable from it: input is a DIRECTED edge list (a, b); output is
    * (doc_id, lbl). Vertices with no edges are the caller's business
    * (their label can never change, so keeping the usually-huge
    * singleton majority out of the loop makes each round O(|dup
    * subgraph|), not O(corpus)). */
  def minLabel(directed: DataFrame): DataFrame = minLabelWithRounds(directed)._1

  /** [[minLabel]] plus the total round count (propagation + star) the
    * fixpoint took — the quantity the O(log n) claim is about; ScaleProbe
    * reads it. `starDriverCap` exists so specs/probes can force the
    * distributed phase-2 branch (cap = 0); production uses the default. */
  def minLabelWithRounds(directed: DataFrame): (DataFrame, Int) =
    minLabelWithRounds(directed, StarDriverCap)

  private[graft] def minLabelWithRounds(directed: DataFrame,
                                        starDriverCap: Long): (DataFrame, Int) = {
    val edges = directed
      .unionByName(directed.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val edgeDocs = edges.select(col("a").as("doc_id")).distinct().localCheckpoint()
    // initial labels are a pure projection of the PINNED edgeDocs — no
    // second materialization needed (r14: one Spark job saved per call)
    var labels = edgeDocs.select(col("doc_id"), col("doc_id").as("lbl"))
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var prevDelta: java.math.BigDecimal = null
    var rounds = 0
    var converged = false
    var deepRegime = false
    while (!converged && !deepRegime && rounds < PropRoundBudget) {
      val viaNeighbors = edges.join(labels, edges("b") === labels("doc_id"))
        .select(edges("a").as("doc_id"), labels("lbl"))
      val next = labels.unionByName(viaNeighbors)
        .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      rounds += 1
      val nextSum = labelSum(next)
      val delta = prevSum.subtract(nextSum)
      converged = delta.signum() == 0
      // convergence-aware star entry (see the constants' doc comment): a
      // round that still moved ≥ StarEntryDecayPct% of the previous
      // round's label mass is the deep-diameter regime — stop paying
      // one-hop rounds and let the log-round star phase finish.
      deepRegime = !converged && rounds >= StarEntryMinRounds &&
        prevDelta != null && prevDelta.signum() > 0 &&
        delta.multiply(java.math.BigDecimal.valueOf(100L))
          .compareTo(prevDelta.multiply(
            java.math.BigDecimal.valueOf(StarEntryDecayPct))) >= 0
      prevDelta = delta
      prevSum = nextSum
      labels = next
    }
    if (converged) return (labels, rounds)
    // phase 2: the graph has a component deeper than the budget (or the
    // decay test fired) — contract every edge through the partial labels
    // (a component's true minimum ALWAYS survives contraction: it is its
    // own label), resolve the contracted graph, then compose.
    val la = labels.select(col("doc_id").as("ka"), col("lbl").as("la"))
    val lb = labels.select(col("doc_id").as("kb"), col("lbl").as("lb"))
    val contracted = edges
      .join(la, col("a") === col("ka"))
      .join(lb, col("b") === col("kb"))
      .select(col("la").as("a"), col("lb").as("b"))
    // r15: small contracted graphs resolve on the driver (count-gated
    // collect, see StarDriverCap); larger ones take the distributed
    // log-round star loop exactly as before.
    val cEdges = canon(contracted).localCheckpoint()
    val cCnt = cEdges.count()
    val (roots, starRounds) =
      if (cCnt <= starDriverCap) {
        val spark = directed.sparkSession
        import spark.implicits._
        // collect is ≤ starDriverCap rows of two longs, gated by the count above
        val pairs = cEdges.collect().map(r => (r.getLong(0), r.getLong(1)))
        (unionFindMinLabels(pairs).toDF("doc_id", "lbl"), 0)
      } else starFixpoint(cEdges)
    val rootsR = roots.select(col("doc_id").as("rk"), col("lbl").as("root"))
    val composed = labels.join(rootsR, col("lbl") === col("rk"), "left")
      .select(col("doc_id"), coalesce(col("root"), col("lbl")).as("lbl"))
    (composed, rounds + starRounds)
  }

  /** Driver union-find with explicit component-min labeling — the star
    * fixpoint's exact contract: (node, min node of its component) for
    * every endpoint. `find` is iterative with path compression and unions
    * go by size, so trees stay O(log n) deep and no edge order can
    * overflow the stack: a path fed in order chains an unranked union
    * up to n deep, far past a recursive find's stack at the cap. */
  private[graft] def unionFindMinLabels(edges: Iterable[(Long, Long)]): Seq[(Long, Long)] = {
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    val size = scala.collection.mutable.HashMap.empty[Long, Int].withDefaultValue(1)
    def find(x: Long): Long = {
      var root = parent.getOrElseUpdate(x, x)
      while (parent(root) != root) root = parent(root)
      var n = x
      while (n != root) { val next = parent(n); parent(n) = root; n = next }
      root
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) {
        val (big, small) = if (size(ra) >= size(rb)) (ra, rb) else (rb, ra)
        parent(small) = big
        size(big) += size(small)
      }
    }
    val minOf = parent.keys.toSeq.groupMapReduce(find)(identity)(math.min)
    parent.keys.toSeq.map(n => (n, minOf(find(n))))
  }

  /** True iff the canonical distinct edge set is a disjoint star forest —
    * exactly the common-fixpoint family of large-star/small-star: every
    * `a` endpoint appears once and no node appears on both sides. */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("a").as("node"), lit(1L).as("ia"), lit(0L).as("ib"))
      .unionAll(e.select(col("b").as("node"), lit(0L).as("ia"), lit(1L).as("ib")))
      .groupBy(col("node"))
      .agg(sum(col("ia")).as("na"), sum(col("ib")).as("nb"))
      .filter(col("na") > 1L || (col("na") > 0L && col("nb") > 0L))
      .isEmpty

  /** Alternating large-star/small-star to the common fixpoint; labels
    * every vertex of `directed` (including self-loop-only ones) with its
    * component minimum. O(log n) rounds in component size, independent of
    * diameter. */
  private[graft] def starFixpoint(directed: DataFrame): (DataFrame, Int) = {
    var edges = canon(directed).localCheckpoint()
    var cnt = edges.count()
    var rounds = 0
    var converged = cnt == 0L
    while (!converged) {
      // r14: only `next` is materialized per round — largeStar(edges) runs
      // lazily inside next's plan (one pass over the PINNED edges). The
      // stop test checks whether `next` IS a common fixpoint, directly:
      // the common fixpoints of large-star and small-star are exactly
      // disjoint stars centered at component minima (Kiveris et al. §3),
      // and a canonical distinct edge set is a disjoint star forest iff
      // every `a` appears exactly once (out-degree 1 per non-center) and
      // no node is both an `a` and a `b` (no chains) — ONE aggregate over
      // the pinned frame, replacing the old two-operator identity replay
      // (an extra large-star materialization + two exceptAll probes).
      // Once `next` is a star forest every later round is the identity,
      // so stopping here is unobservable in the labels. The cheap count
      // precheck gates the test: a typical convergence still shrinks the
      // count on its way in, so most rounds pay only the count.
      val next = smallStar(largeStar(edges)).localCheckpoint()
      rounds += 1
      val nextCnt = next.count()
      converged = nextCnt == cnt && isStarForest(next)
      cnt = nextCnt
      edges = next
    }
    // at the fixpoint every component is a star centered at its min id:
    // each non-center carries exactly one (node → center) edge, centers
    // label themselves. The left join picks up degenerate inputs whose
    // only edges were self-loops (canon drops those rows, but the contract
    // still owes the vertex a self label).
    val star = edges.select(col("a").as("doc_id"), col("b").as("lbl"))
      .unionByName(edges.select(col("b").as("doc_id"), col("b").as("lbl")).distinct())
    val docs = directed.select(col("a").as("doc_id"))
      .unionByName(directed.select(col("b").as("doc_id")))
      .distinct()
    val labels = docs.join(star, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("lbl"), col("doc_id")).as("lbl"))
    (labels, rounds)
  }

  /** The pre-r8 one-hop min-label propagation loop, kept as the
    * differential reference for the star form (and as the textbook
    * baseline the probe measures against). O(component diameter) rounds. */
  private[graft] def minLabelPropagation(directed: DataFrame): DataFrame = {
    val edges = directed
      .unionByName(directed.select(col("b").as("a"), col("a").as("b")))
      .localCheckpoint()
    val edgeDocs = edges.select(col("a").as("doc_id")).distinct().localCheckpoint()
    var labels = edgeDocs.select(col("doc_id"), col("doc_id").as("lbl")).localCheckpoint()
    // convergence check: labels are min-propagated, so they only ever
    // DECREASE — Σ lbl is strictly monotone and stalls exactly at the
    // fixpoint. One tiny aggregate per round replaces a prev↔next join +
    // count (halves the per-round job count; at cluster scale the saved
    // pass is a full labels shuffle per iteration). Summed as
    // decimal(38,0): 64-bit id schemes (snowflake-style ~1e18 doc_ids)
    // overflow a Long sum within a handful of rows, which ANSI turns into
    // a mid-loop abort.
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("lbl").cast("decimal(38,0)")),
          lit(0).cast("decimal(38,0)")))
        .head().getDecimal(0)
    var prevSum = labelSum(labels)
    var converged = false
    while (!converged) {
      val viaNeighbors = edges.join(labels, edges("b") === labels("doc_id"))
        .select(edges("a").as("doc_id"), labels("lbl"))
      val next = labels.unionByName(viaNeighbors)
        .groupBy(col("doc_id")).agg(min(col("lbl")).as("lbl"))
        .localCheckpoint()
      val nextSum = labelSum(next)
      converged = nextSum.compareTo(prevSum) == 0
      prevSum = nextSum
      labels = next
    }
    labels
  }
}
