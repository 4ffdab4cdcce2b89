package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Web-graph quality scoring for corpus curation: link-based authority
  * signals (PageRank, Page et al. 1999) of the kind production pretraining
  * pipelines use to weight or filter crawled pages (e.g. seed-quality
  * propagation in CommonCrawl curation).
  *
  * The rank arithmetic is FIXED-POINT INTEGER on purpose: every rank is a
  * BIGINT number of 1e-12 "mass units", damping is `x * 85 div 100`, and
  * per-edge contributions are `rank div outdeg`. Integer addition is
  * order-independent, so the result is bit-identical across engines,
  * partitionings and retries — the property that lets a DuckDB oracle
  * hash-check the whole iteration, where floating-point PageRank would
  * drift in the last ulp per shuffle order. The quantization error is
  * bounded by one unit per edge per iteration (≤ outdeg · 1e-12), far below
  * any ranking-relevant difference. Dangling-node (sink) mass is DROPPED
  * by default (the classic simplification); `redistributeDangling = true`
  * selects the standard textbook formulation instead — each iteration's
  * dangling mass is shared equally across all nodes (`rank += damping ·
  * (danglingSum div n)`), keeping total mass ~conserved. The dangling sum
  * stays IN-PLAN (a 1-row aggregate broadcast into the update join), so
  * redistribution adds no driver-side action per iteration.
  *
  * Scale shape (100 TB): edges are deduped and hash-partitioned on `src`
  * ONCE and reused by every iteration (a checkpoint pins the layout, so
  * the per-iteration cost is the rank stream's two exchanges — join on src,
  * re-aggregate on dst — the canonical distributed-PageRank shuffle
  * pattern). The only driver-side scalar is the node count. Rank state is
  * never collected or broadcast: at web scale both sides of the iteration
  * join are large, and a broadcast would cap the graph at driver memory.
  */
object GraphOps {

  /** @param edges      directed edge list (duplicates allowed — deduped)
    * @param srcCol     source node id column (integral)
    * @param dstCol     destination node id column (integral)
    * @param iterations fixed iteration count (the cross-engine-checkable
    *                   termination rule; convergence-delta stopping would
    *                   need a per-iteration driver action)
    * @param dampingPct damping factor as an integer percentage (85 = 0.85)
    * @param scale      fixed-point scale: total graph mass in units
    * @param redistributeDangling share each iteration's sink mass equally
    *                   across all nodes (textbook formulation) instead of
    *                   dropping it
    */
  def pageRank(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 10,
      dampingPct: Int = 85,
      scale: Long = 1000000000000L,
      redistributeDangling: Boolean = false): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"pageRank: iterations must be in [1,100], got $iterations")
    require(dampingPct >= 1 && dampingPct <= 99,
      s"pageRank: dampingPct must be in [1,99], got $dampingPct")
    // 85 * mass(scale) must stay inside Long
    require(scale <= Long.MaxValue / 100,
      s"pageRank: scale $scale too large for the damping multiply")

    val e = Materialize(edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .distinct()
      .repartition(col("src")))    // iteration joins probe on src: fix the layout once
    // the one driver scalar (a single long)
    val (nodes, n) = Materialize.by(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node")))
      .distinct())(_.count())
    require(n > 0, "pageRank: empty graph")
    val outdeg = Materialize(e.groupBy("src").agg(count(lit(1)).as("outdeg")))
    // NOTE (r17): pre-folding outdeg into the edge frame (e ⋈ outdeg once,
    // checkpointed) to save the per-round outdeg join MEASURED ~2x SLOWER
    // at sf0.1 — AQE already broadcasts the tiny outdeg side each round,
    // while the prefolded frame's checkpoint re-materialized the whole
    // edge set and its per-round join lost the broadcast shape. Reverted;
    // kept as a warning against "obvious" loop-invariant hoisting here.
    val base = (scale * (100 - dampingPct) / 100) / n   // exact integer, same in the oracle

    var ranks = nodes.withColumn("rank", lit(scale / n))
    for (i <- 1 to iterations) {
      val contrib = e
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .join(outdeg, "src")
        .select(col("dst").as("node"), expr("rank div outdeg").as("c"))
      val summed = contrib.groupBy("node").agg(sum(col("c")).as("csum"))
      val withC = nodes.join(summed, Seq("node"), "left")
      ranks =
        if (!redistributeDangling)
          withC.select(col("node"),
            (lit(base) + expr(s"($dampingPct * coalesce(csum, 0L)) div 100")).as("rank"))
        else {
          // iteration's sink mass: ranks of nodes with no out-edges — a
          // 1-row aggregate (NOT a driver action) broadcast into the
          // update; each node gains damping · (dsum div n) extra units.
          // coalesce covers the no-dangling-nodes case (sum over empty).
          val dangling = ranks.join(outdeg.withColumnRenamed("src", "node"),
              Seq("node"), "left_anti")
            .agg(coalesce(sum(col("rank")), lit(0L)).as("dsum"))
          withC.crossJoin(broadcast(dangling))
            .select(col("node"),
              (lit(base) + expr(
                s"($dampingPct * (coalesce(csum, 0L) + (dsum div $n))) div 100")).as("rank"))
        }
      // bound lineage depth: a 50-iteration plan would re-derive every prior
      // join at action time without a periodic cut
      if (i % 5 == 0 && i < iterations) ranks = Materialize(ranks)
    }
    ranks
  }

  /** Per-node triangle counts on the undirected graph, top-k by count —
    * the clustering-coefficient numerator used to separate organic link
    * neighborhoods from link farms in web-corpus curation.
    *
    * Plan is the canonical distributed triangle count (Suri &
    * Vassilvitskii 2011 / Cohen 2009): orient every undirected edge from
    * its lower-(degree, id) endpoint to the higher one, build wedges by
    * self-joining oriented edges on the wedge apex, and close each wedge
    * with one more equi-join. Degree orientation bounds each node's
    * out-degree by O(sqrt(|E|)), so the wedge relation — the only
    * superlinear intermediate — is minimized; a star hub of degree d
    * contributes 0 wedges as apex instead of d^2. The triangle SET is
    * orientation-independent, so the DuckDB oracle can state the naive
    * id-ordered formulation and still hash-match exactly.
    *
    * Scale shape (100 TB): two shuffle equi-joins + two aggregations, all
    * on node/edge keys; nothing is collected or broadcast (at web scale
    * both join sides are large). Self-loops dropped, duplicate/reverse
    * edges collapsed before any join.
    */
  def triangleTopK(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"triangleTopK: k must be >= 1, got $k")
    val und = Materialize(edges     // deg + orientation + wedge probe all reuse it
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
      .select(least(col("s"), col("d")).as("a"), greatest(col("s"), col("d")).as("b"))
      .distinct())
    val deg = und.select(col("a").as("node")).union(und.select(col("b").as("node")))
      .groupBy("node").agg(count(lit(1)).as("deg"))
    // orient low-(deg, id) -> high-(deg, id); ties impossible on id
    val oriented = Materialize(und
      .join(deg.withColumnRenamed("node", "a").withColumnRenamed("deg", "da"), "a")
      .join(deg.withColumnRenamed("node", "b").withColumnRenamed("deg", "db"), "b")
      .select(
        when(col("da") < col("db") || (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("v")))
          .otherwise(struct(col("b").as("u"), col("a").as("v"))).as("e"))
      .select(col("e.u").as("u"), col("e.v").as("v")))
    val e2 = oriented.select(col("u").as("u2"), col("v").as("w"))
    // wedges at apex u: two out-neighbors v < w (the join emits both orders;
    // the < filter keeps each unordered pair exactly once, no distinct pass)
    val wedges = oriented.join(e2, col("u") === col("u2"))
      .where(col("v") < col("w"))
      .select(col("u"), col("v").as("x"), col("w").as("y"))
    // close the wedge: the x–y edge may be oriented either way
    val closing = oriented.select(
      least(col("u"), col("v")).as("x"), greatest(col("u"), col("v")).as("y"))
    val tris = wedges.join(closing, Seq("x", "y"))
      .select(col("u"), col("x"), col("y"))
    val perNode = tris
      .select(explode(array(col("u"), col("x"), col("y"))).as("node"))
      .groupBy("node").agg(count(lit(1)).as("n_tri"))
    perNode.orderBy(col("n_tri").desc, col("node").asc).limit(k)
  }

  /** Connected components over an undirected edge list — the graph-API
    * face of [[Dedup.connectedComponents]] (min-label propagation with
    * pointer jumping, O(log n) rounds even on path graphs). Nodes are the
    * distinct edge endpoints; the result is `(node, component)` with
    * component = min node id in the component — the same closure that
    * turns near-dup pairs into dedup clusters, exposed for general graphs
    * (entity resolution, link-graph partitioning, corpus lineage).
    *
    * Scale shape (100 TB): every round is an equi-join + min-aggregate on
    * node keys; nothing is collected or broadcast, and pointer jumping
    * bounds rounds by log₂(diameter), not diameter.
    */
  def connectedComponents(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      maxIter: Int = 20): DataFrame = {
    val e = edges
      .select(col(srcCol).cast("long").as("src"), col(dstCol).cast("long").as("dst"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val nodes = e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct()
    Dedup.connectedComponents(nodes, e, maxIter)
  }

  /** Synchronous label propagation (Raghavan et al. 2007, made
    * deterministic): labels start as node ids; each round EVERY node
    * simultaneously adopts the most frequent label among its undirected
    * neighbors, ties broken by the smallest label. The async variant's
    * order-dependence (and the sync variant's oscillation risk on
    * bipartite structure) is neutralized by the fixed iteration count +
    * total tiebreak — the run is a pure function of the edge set, so the
    * oracle can unroll the SAME rounds as CTEs and hash-match exactly
    * (all-integer arithmetic). The community detector for link-farm /
    * boilerplate-cluster discovery where CC is too coarse (everything
    * touching merges) and modularity methods aren't distributable.
    *
    * Scale shape (100 TB): per round one equi-join on dst (neighbor label
    * lookup), one count aggregate, one per-node top-1 window, one left
    * join back — all hash-partitioned on node keys; nothing collected or
    * broadcast; lineage cut every 2 rounds.
    */
  def labelPropagation(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      iterations: Int = 4): DataFrame = {
    require(iterations >= 1 && iterations <= 50,
      s"labelPropagation: iterations must be in [1,50], got $iterations")
    import org.apache.spark.sql.expressions.Window
    val raw = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val und = Materialize(raw.select(col("s").as("src"), col("d").as("dst"))
      .union(raw.select(col("d").as("src"), col("s").as("dst")))
      .distinct()
      .repartition(col("dst")))  // every round probes on dst: fix the layout once
    var labels = und.select(col("src").as("node")).distinct()
      .withColumn("lbl", col("node"))
    val byNode = Window.partitionBy("node").orderBy(col("c").desc, col("lbl").asc)
    for (i <- 1 to iterations) {
      val counts = und.join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"), col("lbl"))
        .agg(count(lit(1)).as("c"))
      val best = counts.withColumn("rn", row_number().over(byNode))
        .where(col("rn") === 1).select(col("node"), col("lbl").as("nl"))
      labels = labels.join(best, Seq("node"), "left")
        .select(col("node"), coalesce(col("nl"), col("lbl")).as("lbl"))
      if (i % 2 == 0 && i < iterations) labels = Materialize(labels)
    }
    labels.select(col("node"), col("lbl").as("label"))
  }

  /** Top-k authorities by (rank desc, node asc) — sort+limit compiles to
    * TakeOrderedAndProject (per-partition top-N, bounded merge). */
  /** k-core decomposition by iterative peeling (Seidman 1983): each round
    * drops every node whose degree WITHIN the surviving subgraph is below
    * `k`; the fixpoint is the maximal subgraph of minimum degree ≥ k — the
    * classic "dense cohesive core" extraction (link-farm and community
    * cores in web-graph curation). Fixed `rounds` keeps the computation a
    * pure function of the edge set (the cross-engine-checkable termination
    * rule, like [[pageRank]]'s fixed iterations); peeling is monotone, so
    * an early fixpoint simply makes later rounds no-ops — the spec pins
    * convergence on the test graph, and all-integer arithmetic makes the
    * unrolled oracle hash-exact.
    *
    * Scale shape: DELTA peeling — one full-degree aggregation up front,
    * then per round one equi-join of the REMOVED frontier (not the whole
    * graph) against the edge layout fixed once, plus a survivor-sized
    * merge; converged rounds peel an empty frontier for free. Returns
    * `(node, degree)` of the surviving core with the final in-core degree.
    */
  def kCore(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      rounds: Int = 8): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    require(rounds >= 1 && rounds <= 50, s"kCore: rounds must be in [1,50], got $rounds")
    val raw = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val undPlan = raw.select(col("s").as("src"), col("d").as("dst"))
      .union(raw.select(col("d").as("src"), col("s").as("dst")))
      .distinct()
      .repartition(col("src"))
    // DELTA peeling: recomputing the surviving subgraph's full degree
    // every round is two O(E) joins per round; but removing a node only
    // changes its NEIGHBORS' degrees, so each round subtracts the
    // removed-frontier's edge counts instead. Candidate generation is
    // frontier-sized (the removed set joins the edge layout fixed once);
    // the survivor merge is one anti-join + left-join per round. Rounds
    // after convergence peel an empty frontier and cost one empty join.
    // Degree sequence is IDENTICAL to the recompute formulation:
    // deg_i(n) = deg_{i-1}(n) − |edges n→removed_i| = degree within the
    // round-i surviving set — so the unrolled oracle is unchanged.
    //
    // Each degree frame's first pass asks whether its removed frontier is
    // empty. An empty frontier is the peeling FIXPOINT: every later round
    // peels the same empty frontier, leaving deg bit-identical — the fixed
    // `rounds` contract is a BOUND, not a cost (r17; the weightedPaths
    // convergence probe applied here).
    def peeled(degree: DataFrame): (DataFrame, Boolean) =
      Materialize.by(degree)(_.where(col("degree") < k).isEmpty)
    // the full-degree aggregate is the edge layout's one first pass
    val (und, first) = Materialize.by(undPlan)(u =>
      peeled(u.groupBy(col("src").as("node")).agg(count(lit(1)).as("degree"))))
    var (deg, fixpoint) = first
    for (_ <- 2 to rounds if !fixpoint) {
      val removed = deg.where(col("degree") < k).select("node")
      val red = und
        .join(removed.withColumnRenamed("node", "src"), "src")
        .groupBy(col("dst").as("node")).agg(count(lit(1)).as("__r"))
      val (next, done) = peeled(deg.join(removed, Seq("node"), "left_anti")
        .join(red, Seq("node"), "left_outer")
        .select(col("node"), (col("degree") - coalesce(col("__r"), lit(0L))).as("degree")))
      deg = next
      fixpoint = done
    }
    deg.where(col("degree") >= k)
  }

  /** Single-source BFS shortest paths over the undirected edge set,
    * bounded at `maxHops` (Bellman-Ford-style level-synchronous BFS —
    * the unweighted special case): round h joins the (h−1)-frontier
    * against the edge list and a min-aggregation keeps each node's first
    * discovery hop. Bounded hops keep the computation a pure function of
    * the edge set (the cross-engine-checkable termination rule shared by
    * [[pageRank]]/[[kCore]]); all-integer distances make the unrolled
    * level-set oracle hash-exact.
    *
    * Scale shape: per round ONE equi-join of the frontier (dist = h−1
    * rows only) against the edge layout fixed once, one frontier-sized
    * distinct, and anti-joins against the PREVIOUS TWO frontiers only —
    * never the accumulated reach. That exclusion is exact, not a
    * heuristic: on an undirected graph any neighbor of a node at
    * distance h−1 has distance in {h−2, h−1, h} (BFS distance to the
    * seed set is 1-Lipschitz along edges), so a discovery not in
    * frontier(h−1) ∪ frontier(h−2) is at distance exactly h. Every
    * exchange therefore carries wavefront-sized data; the settled levels
    * are unioned ONCE at the end with no re-aggregation (each node
    * appears in exactly one level). Per-round shuffle volume is
    * O(|frontier| + edges incident to it), not O(|reach|). Returns
    * `(node, dist)` for every node reached within maxHops.
    */
  def shortestPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      seed: DataFrame,
      maxHops: Int): DataFrame = {
    require(maxHops >= 1 && maxHops <= 20,
      s"shortestPaths: maxHops must be in [1,20], got $maxHops")
    require(seed.columns.toSeq == Seq("node"),
      s"shortestPaths: seed must have exactly one column 'node', got ${seed.columns.mkString(",")}")
    val raw = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"))
      .where(col("s").isNotNull && col("d").isNotNull && col("s") =!= col("d"))
    val und = Materialize(raw.select(col("s").as("src"), col("d").as("dst"))
      .union(raw.select(col("d").as("src"), col("s").as("dst")))
      .distinct()
      .repartition(col("src")))
    var frontier = Materialize(seed.select(col("node").cast("long").as("node")).distinct())
    var prevFrontier: DataFrame = null
    val levels = scala.collection.mutable.ArrayBuffer[DataFrame](
      frontier.withColumn("dist", lit(0L)))
    var exhausted = false
    for (h <- 1 to maxHops if !exhausted) {
      var disc = und
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"))
        .distinct()
        .join(frontier, Seq("node"), "left_anti")
      if (prevFrontier != null)
        disc = disc.join(prevFrontier, Seq("node"), "left_anti")
      // empty frontier = the reachable set is exhausted: every later level
      // is empty and contributes zero rows — skip the dead rounds (r17;
      // the weightedPaths convergence probe)
      val (found, empty) = Materialize.by(disc)(_.isEmpty)
      if (empty) exhausted = true
      else {
        prevFrontier = frontier
        frontier = found
        levels += frontier.withColumn("dist", lit(h.toLong))
      }
    }
    levels.reduce(_.unionByName(_))
  }

  /** Bounded weighted single-source shortest paths (distributed
    * Bellman-Ford, `rounds` relaxation rounds of min-plus) over the
    * undirected weighted edge set — the cost-aware sibling of
    * [[shortestPaths]] (hop counts become additive weights: latency,
    * toll, edit cost). Bounded rounds keep the result a pure function of
    * the edge set (the fixed-round termination rule shared by the whole
    * graph family); all-integer weights make the unrolled min-plus oracle
    * hash-exact. After r rounds every node whose cheapest path uses ≤ r
    * edges carries its final distance — the standard bounded-BF contract.
    *
    * Scale shape, honestly stated: candidate generation each round is
    * FRONTIER-sized (only nodes improved last round join the edge layout,
    * which is fixed once), but unlike unweighted BFS a settled node can
    * be re-improved by a cheaper longer path, so each round must merge
    * improvements back into the full distance map — the per-round merge
    * (anti-join + union + repartition) carries O(|reached|) rows. That is
    * the textbook distributed Bellman-Ford trade: rounds × O(V) merge,
    * never O(V·E); the win over naive BF is that the EXPENSIVE side
    * (edge expansion + min-agg) tracks the wavefront only.
    */
  def weightedPaths(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      weightCol: String,
      seed: DataFrame,
      rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 10,
      s"weightedPaths: rounds must be in [1,10], got $rounds")
    require(seed.columns.toSeq == Seq("node"),
      s"weightedPaths: seed must have exactly one column 'node', got ${seed.columns.mkString(",")}")
    val raw = edges
      .select(col(srcCol).cast("long").as("s"), col(dstCol).cast("long").as("d"),
        col(weightCol).cast("long").as("w"))
      .where(col("s").isNotNull && col("d").isNotNull && col("w").isNotNull &&
        col("s") =!= col("d"))
    // fail loudly on negative weights instead of silently dropping the
    // edge: on an UNDIRECTED graph any negative edge is a negative cycle,
    // so no shortest-path answer exists — a filtered-away edge would just
    // compute distances on a silently different graph. One short-circuit
    // scan (limit-1 probe), same fail-loud contract as the other requires.
    require(raw.where(col("w") < 0).isEmpty,
      "weightedPaths: negative edge weights found — undirected negative " +
        "edges form negative cycles; shortest paths are undefined")
    val und = Materialize(raw.select(col("s").as("src"), col("d").as("dst"), col("w"))
      .unionByName(raw.select(col("d").as("src"), col("s").as("dst"), col("w")))
      .groupBy("src", "dst").agg(min("w").as("w")) // parallel edges: keep cheapest
      .repartition(col("src")))
    var dist = Materialize(seed.select(col("node").cast("long").as("node"), lit(0L).as("dist")))
    var frontier = dist
    var converged = false
    for (r <- 1 to rounds if !converged) {
      val cand = und
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cd"))
        .groupBy("node").agg(min("cd").as("cd")) // frontier-sized min-agg
      // an empty frontier is a fixed point: rounds r+1… would only run
      // empty joins and full-map merges — the `rounds` cap is a BOUND, not
      // a cost
      val (improved, empty) = Materialize.by(cand.join(dist, Seq("node"), "left_outer")
        .where(col("dist").isNull || col("cd") < col("dist"))
        .select(col("node"), col("cd").as("dist")))(_.isEmpty)
      if (empty) converged = true
      else {
        dist = Materialize(dist.join(improved.select("node"), Seq("node"), "left_anti")
          .unionByName(improved))
        frontier = improved
      }
    }
    dist
  }

  def pageRankTopK(
      edges: DataFrame,
      srcCol: String,
      dstCol: String,
      k: Int,
      iterations: Int = 10,
      redistributeDangling: Boolean = false): DataFrame =
    pageRank(edges, srcCol, dstCol, iterations,
      redistributeDangling = redistributeDangling)
      .orderBy(col("rank").desc, col("node").asc)
      .limit(k)
}
