package graft.ext

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

/** Duplicate-cluster resolution: near-dup detectors ([[Dedup]]) emit
  * PAIRS; keeping one canonical document per duplicate group needs the
  * transitive closure — connected components over the pair graph, with
  * each component labeled by its smallest member (the natural canonical
  * choice: stable, order-free).
  *
  * Algorithm: alternating large-star / small-star (Kiveris et al.,
  * "Connected Components in MapReduce and Beyond", SoCC'14). Each round
  * rewires every node's strictly-larger neighbors (large-star) and then
  * its smaller neighbors (small-star) to the minimum of its closed
  * neighborhood; edges only ever move WITHIN a component, and the edge
  * set converges to disjoint stars whose centers are the component
  * minima. Round count is O(log² n) worst case and small in practice —
  * crucially it does NOT depend on graph diameter, which min-label
  * propagation (the round-3 implementation) did: template-heavy corpora
  * produce long chains of pairwise-similar docs, and a diameter-bound
  * loop turns corpus growth into round growth with a hard failure at
  * the cap. A 1000-node path converges in a handful of rounds here
  * (pinned by `ClustersSpec`) where label propagation needed 1000.
  *
  * Scale shape: each round is two keyed aggregations + two equi-joins,
  * all on the node id — ordinary hash shuffles, edge count never grows
  * beyond O(E). One Spark job per round: the round's `localCheckpoint`
  * materializes the new edge set (truncating lineage so round N does
  * not replay rounds 1..N-1) and the convergence signature rides that
  * same job as an [[Observation]] — no separate `isEmpty` probe job.
  * The driver holds only the scalar signature and the loop counter.
  */
object Clusters {

  /** Connected components of the undirected graph given by
    * (`srcCol`, `dstCol`) edges. Output: (`node`, `cluster`) for every
    * node that appears in an edge; `cluster` = min node id reachable.
    *
    * Convergence = two consecutive rounds with identical edge-set
    * signature (count + two independent 32-bit hash sums), confirmed by
    * an exact structural check (the set is disjoint stars: no node is
    * both a leaf and a center, and each leaf has exactly one center) —
    * a hash collision therefore cannot produce a wrong answer, only one
    * wasted round.
    *
    * @throws IllegalStateException if not converged after
    *         `maxIterations` rounds — fail loudly rather than return a
    *         partial closure. The default cap is generous: alternating
    *         star rounds grow with log²(component size), not diameter.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIterations: Int = 25): DataFrame = {
    // Materialized once: the input plan (typically a whole MinHash pair
    // detection) feeds both the node set and the edge set below, and an
    // unmaterialized `raw` would execute it once for each.
    val raw = edges.select(col(srcCol).cast("long").as("a"), col(dstCol).cast("long").as("b"))
      .localCheckpoint(true)
    val allNodes = raw.select(col("a").as("node"))
      .union(raw.select(col("b").as("node")))
      .distinct()
      .localCheckpoint(true)
    // canonical undirected form: u > v, self-loops dropped (their nodes
    // stay in `allNodes` and label themselves at the end)
    var e = raw.filter(col("a") =!= col("b"))
      .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
      .distinct()
      .localCheckpoint(true)

    // r11 note, measured and kept for the record: pinning the star loop
    // to a static plan (AQE off + edge-count-derived shuffle partitions)
    // DOES collapse the per-round job count (q_ext_dedup_keep 49→23
    // jobs, entity_resolution 34→16) but costs MORE wall time (+~1 s
    // per family query, consistent across all 5) — the static planner
    // keeps the node-min joins as sort-merge where AQE's runtime sizes
    // convert them to broadcasts, and the extra sort stages outweigh
    // the saved job-submission overhead. The adaptive loop stays.
    var round = 0
    var prevSig: Option[(Long, Long, Long)] = None
    while (round < maxIterations) {
      val next = smallStar(largeStar(e))
      // The signature aggregates ride the checkpoint's materialization
      // job (sum of 32-bit hash halves: overflow-proof under ANSI for
      // any realistic edge count).
      val obs = Observation(s"cc_round_$round")
      val observed = next.observe(obs,
        count(lit(1L)).as("n"),
        coalesce(sum(shiftrightunsigned(xxhash64(col("u"), col("v")), 32)), lit(0L)).as("h1"),
        coalesce(sum(shiftrightunsigned(xxhash64(lit(77L), col("u"), col("v")), 32)), lit(0L)).as("h2"))
      e = observed.localCheckpoint(true)
      // `get` blocks until the checkpoint action's listener delivers the
      // metrics — the action above has already completed, so this is a
      // rendezvous, not a wait.
      val m = obs.get
      val sig: (Long, Long, Long) =
        (m("n").asInstanceOf[Long], m("h1").asInstanceOf[Long], m("h2").asInstanceOf[Long])
      round += 1
      if (prevSig.contains(sig) && isDisjointStars(e))
        return labelsFrom(allNodes, e)
      prevSig = Some(sig)
    }
    throw new IllegalStateException(
      s"connectedComponents did not converge in $maxIterations rounds")
  }

  /** Large-star: for each node `u`, connect every strictly-larger
    * neighbor to `m = min(N(u) ∪ {u})`. Emitted pairs (v, m) satisfy
    * v > u ≥ m, so the canonical u>v orientation is preserved.
    */
  private def largeStar(cur: DataFrame): DataFrame = {
    val sym = cur.select(col("u"), col("v"))
      .union(cur.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u").as("c"))
      .agg(min(col("v")).as("mn"))
      .select(col("c"), least(col("mn"), col("c")).as("m"))
    // (r11 measured: dropping this distinct — smallStar's min is
    // duplicate-insensitive and its terminal distinct restores set
    // semantics — changed neither the AQE job count nor wall time at
    // gate scale, so the r10 spelling stays: at 100 TB the distinct
    // keeps heavy-duplicate template corpora from pushing >D rows
    // through smallStar's two exchanges.)
    sym.join(mins, sym("u") === mins("c"))
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .distinct()
  }

  /** Small-star: for each node `u` (edges already oriented u > v, so
    * N(u) here is the smaller neighbors), connect every neighbor and
    * `u` itself to `m = min(N(u))`. Emitted pairs keep u > v.
    */
  private def smallStar(cur: DataFrame): DataFrame = {
    val mins = cur.groupBy(col("u").as("c")).agg(min(col("v")).as("m"))
    val rewired = cur.join(mins, cur("u") === mins("c"))
      .filter(col("v") =!= col("m"))
      .select(col("v").as("u"), col("m").as("v"))
    val own = mins.select(col("c").as("u"), col("m").as("v"))
    rewired.union(own).distinct()
  }

  /** Exact fixpoint structure check, run once per convergence
    * candidate: the edge set is a union of disjoint stars iff no node
    * appears both as a leaf (u) and as a center (v), and no leaf has
    * two centers.
    */
  private def isDisjointStars(e: DataFrame): Boolean = {
    val oneCenterPerLeaf =
      e.groupBy("u").agg(count(lit(1)).as("k")).filter(col("k") > 1).isEmpty
    lazy val leafCenterDisjoint =
      e.select(col("u").as("x")).intersect(e.select(col("v").as("x"))).isEmpty
    oneCenterPerLeaf && leafCenterDisjoint
  }

  /** Stars → labels: leaves take their center, centers (and self-loop /
    * edge-less nodes) label themselves.
    */
  private def labelsFrom(allNodes: DataFrame, stars: DataFrame): DataFrame =
    allNodes
      .join(stars.select(col("u").as("node"), col("v").as("ctr")), Seq("node"), "left")
      .select(col("node"), coalesce(col("ctr"), col("node")).as("cluster"))
}
