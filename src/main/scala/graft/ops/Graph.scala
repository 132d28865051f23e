package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Minimal distributed graph utilities for the dedup pipeline: near-dup
  * pair generation (SimHash / MinHash / embedding LSH) produces EDGES;
  * deduplication needs GROUPS — every document labeled with one canonical
  * representative per connected component, so "keep one per group" is a
  * simple filter.
  */
object Graph {

  /** Connected components by min-label propagation with pointer doubling:
    * each round applies rep(v) ← min(rep(v), min over neighbors rep(u)),
    * then the shortcut rep(v) ← min(rep(v), rep(rep(v))) — labels are
    * always node ids, so "my representative's representative" is well
    * defined, and the shortcut collapses label chains exponentially:
    * O(log diameter) rounds instead of O(diameter) (the same doubling
    * idea as large-star/small-star). Only nodes that touch an edge
    * iterate — isolated nodes (the vast majority of a mostly-unique
    * corpus) are attached as their own representative at the end, outside
    * the loop, so per-round shuffles move |V(edges)| rows, not |nodes|.
    *
    * Labels are localCheckpoint'ed per round to truncate the growing
    * lineage (the standard Spark iterative-algorithm discipline — state
    * lives on executors, never the driver); convergence is one
    * decimal-exact label-sum aggregate per round (labels are monotone
    * non-increasing, so the sum strictly decreases until the fixpoint).
    * At the fixpoint no edge can lower either endpoint, so labels are
    * constant on every component and equal to its minimum id.
    *
    * Output: (id, group_rep) for EVERY node — isolated nodes map to
    * themselves; group_rep is the component's minimum id.
    */
  def connectedComponents(nodes: DataFrame, idCol: String,
                          edges: DataFrame, aCol: String, bCol: String,
                          maxIters: Int = 20): DataFrame = {
    // Materialize the symmetric edge list ONCE: without this, every
    // propagation round re-evaluates the upstream edge pipeline (e.g. the
    // whole SimHash near-dup query) from scratch.
    val sym = edges.select(col(aCol).as("_src"), col(bCol).as("_dst"))
      .union(edges.select(col(bCol).as("_src"), col(aCol).as("_dst")))
      .localCheckpoint(true)
    def labelSum(l: DataFrame): BigDecimal = {
      val d = l.agg(sum(col("group_rep").cast("decimal(38,0)"))).head().getDecimal(0)
      if (d == null) BigDecimal(0) else BigDecimal(d) // null sum = empty node set
    }
    // Loop state is LAZILY localCheckpoint'ed: the convergence aggregate
    // right below is the first action, so one job per round both
    // materializes the checkpoint (truncating lineage) and returns the
    // label sum — an eager checkpoint would run a separate job per round,
    // doubling the loop's fixed job-scheduling cost for nothing.
    var labels = sym.select(col("_src").as("id")).distinct()
      .select(col("id"), col("id").as("group_rep"))
      .localCheckpoint(false)
    var prevSum = labelSum(labels)
    // prevSum > 0 ⇒ labels nonempty, so the extra isEmpty job only runs in
    // the empty / all-ids-sum-to-zero corner
    var converged = prevSum == 0 && labels.isEmpty
    var i = 0
    // r22 NOTE (measured, kept as-is): a probe-every-2nd-round cadence
    // was tried to halve loop jobs and REGRESSED (q_dedup_groups 27 → 30
    // jobs, 0.60 → 0.87 s warm; q_pipeline_prep 31 → 34, 0.78 → 1.08) —
    // the per-round probe job is what materializes the round, so probes
    // are not marginal cost, and convergence detection lagging by up to
    // two rounds adds whole propagation rounds that dwarf the saved
    // sum-aggregates. The per-round probe stays.
    while (!converged && i < maxIters) {
      // One propagation round as union + min-aggregate: each node's row
      // (v, rep(v)) unions with one contribution (dst, rep(src)) per
      // directed edge, and min per node is exactly
      // rep'(v) = min(rep(v), min over neighbors rep(u)) — the same
      // fixpoint as the join→groupBy→join form but with one fewer
      // exchange and no second join per round (the loop cost is pure
      // fixed job/shuffle overhead at small edge counts).
      val contrib = sym.join(labels, col("_src") === col("id"))
        .select(col("_dst").as("id"), col("group_rep"))
      val stepped = labels.union(contrib)
        .groupBy("id").agg(min("group_rep").as("group_rep"))
      // Pointer doubling: chase one indirection through the just-stepped
      // labels (rep(rep(v))). Labels stay monotone — the representative's
      // label is itself ≥ the component minimum — but label chains halve
      // every round instead of shrinking by one hop. Gated ADAPTIVELY:
      // plain propagation only for the first `plainRounds` rounds, because
      // shallow components (dup clusters of 2-5 docs, the overwhelmingly
      // common case) converge on plain propagation alone and the shortcut
      // join is pure per-round overhead there (round 4 recorded the
      // regression: engaging it from round 2 cost +0.6 s at sf0.1 while
      // saving zero rounds). Only a graph still unconverged after
      // `plainRounds` rounds has chains deep enough for the shortcut to
      // pay; from then on it halves the remaining depth per round, so the
      // worst case stays O(plainRounds + log d).
      val plainRounds = 3
      val next = (if (i < plainRounds) stepped else {
        val reps = stepped.select(col("id").as("_rid"), col("group_rep").as("_rrep"))
        stepped.join(reps, stepped("group_rep") === reps("_rid"), "left")
          .select(stepped("id"),
            least(stepped("group_rep"), coalesce(col("_rrep"), stepped("group_rep"))).as("group_rep"))
      }).localCheckpoint(false)
      val nextSum = labelSum(next)
      labels = next
      converged = nextSum == prevSum
      prevSum = nextSum
      i += 1
    }
    // isolated nodes never entered the loop: attach them as their own rep
    nodes.select(col(idCol).as("id"))
      .join(labels.withColumnRenamed("group_rep", "_rep"), Seq("id"), "left")
      .select(col("id"), coalesce(col("_rep"), col("id")).as("group_rep"))
  }

  /** Fixed-iteration PageRank over a directed edge list — the link-quality
    * prior used to weight web-corpus documents (and the canonical "iterate
    * a join until done" Spark workload). Each round is one join (rank →
    * out-edges) + one aggregate (sum of contributions per target) + one
    * rank update. The out-degree is folded into the EDGE list once before
    * the loop (it is loop-invariant), so each round joins ranks against
    * one prepared table instead of re-joining the degree table every
    * iteration. Lineage is truncated with `localCheckpoint` every 5th
    * round only: the per-round plan is a shallow chain (each stage
    * executes once — nothing is recomputed), so for small fixed iteration
    * counts the eager materialization per round was pure overhead, while
    * unbounded growth at large `iters` still gets cut before planning
    * costs compound (r11; the same cadence reasoning as
    * `connectedComponents`, which keeps per-round truncation because its
    * loop is data-dependent and re-reads state twice per round).
    *
    * Determinism: contributions are summed as exact decimals
    * (Portable.decSum rationale — an IEEE double sum would depend on
    * shuffle arrival order, making ranks unreproducible across cluster
    * sizes), so a fixed iteration count yields bit-stable ranks and the
    * whole computation is oracle-checkable. Nodes with no out-edges
    * contribute nothing (their mass leaks, the classic simplification);
    * callers who need stochastic completeness pass a symmetrized edge
    * list, where dangling nodes cannot exist.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("_src"), col(dstCol).cast("long").as("_dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("_src").as("id")).union(e.select(col("_dst").as("id")))
      .distinct().localCheckpoint(true)
    val nNodes = nodes.count().toDouble
    val outDeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    // r21 (guide §2.4, the labelPropagation layout): HASH-PARTITION the
    // degree-folded edge list on its join key BEFORE the one-time
    // checkpoint (explicit partition count so AQE cannot re-coalesce it
    // into a layout the join sides can't share) — every round then
    // shuffles only the node-sized rank frame into the join, never the
    // edge list; SHUFFLE_HASH keeps the stats-blind post-checkpoint
    // planner off SortMergeJoin (two per-round sorts for nothing).
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions
    val eDeg = e.join(outDeg, Seq("_src"))
      .repartition(nPart, col("_src")).localCheckpoint(true)
    var ranks = nodes.select(col("id"), (lit(1.0) / lit(nNodes)).as("rank"))
    for (i <- 0 until iters) {
      val contrib = eDeg.join(ranks.hint("SHUFFLE_HASH"), eDeg("_src") === ranks("id"))
        .select(col("_dst").as("id"), (col("rank") / col("_deg")).as("_c"))
      val summed = contrib.groupBy("id")
        .agg(sum(col("_c").cast("decimal(28,12)")).cast("double").as("_in"))
      ranks = nodes.join(summed, Seq("id"), "left")
        .select(col("id"),
          (lit((1.0 - damping) / nNodes) +
            lit(damping) * coalesce(col("_in"), lit(0.0))).as("rank"))
      if ((i + 1) % 5 == 0 && i + 1 < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Personalized PageRank: [[pageRank]] with the teleport mass
    * concentrated on a SEED set instead of spread uniformly — the
    * "relevance to these nodes" ranking behind related-item
    * recommendation and seed-expansion labeling (find more documents
    * like this trusted set). Identical loop shape (the degree-folded
    * edge list is loop-invariant, contributions sum in exact decimal),
    * with two changes: ranks initialize to the personalization vector
    * p(v) = 1/|seeds| on seeds (0 elsewhere), and each round adds
    * (1−d)·p(v) instead of (1−d)/N — so mass re-enters only at seeds
    * and rank decays with distance from them. A node unreachable from
    * the seed set within `iters` edges holds rank exactly 0, which
    * keeps fixed-iteration results oracle-checkable.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String, dstCol: String,
                           seeds: DataFrame, seedCol: String,
                           iters: Int, damping: Double = 0.85): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("_src"), col(dstCol).cast("long").as("_dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("_src").as("id")).union(e.select(col("_dst").as("id")))
      .distinct().localCheckpoint(true)
    val outDeg = e.groupBy(col("_src")).agg(count(lit(1)).as("_deg"))
    // r21: same loop-invariant edge layout as pageRank — partitioned on
    // the join key once, so rounds shuffle only the rank frame
    val nPart = edges.sparkSession.sessionState.conf.numShufflePartitions
    val eDeg = e.join(outDeg, Seq("_src"))
      .repartition(nPart, col("_src")).localCheckpoint(true)
    val seedSet = seeds.select(col(seedCol).cast("long").as("id")).distinct()
      .join(nodes, Seq("id"), "left_semi").localCheckpoint(true)
    val nSeeds = seedSet.count().toDouble
    require(nSeeds > 0, "personalizedPageRank needs at least one seed present in the graph")
    val p = nodes.join(seedSet, Seq("id"), "left_semi")
      .select(col("id"), (lit(1.0) / lit(nSeeds)).as("_p"))
    var ranks = nodes.join(p, Seq("id"), "left")
      .select(col("id"), coalesce(col("_p"), lit(0.0)).as("rank"))
    val pFull = ranks.select(col("id"), col("rank").as("_p")).localCheckpoint(true)
    for (i <- 0 until iters) {
      val contrib = eDeg.join(ranks.hint("SHUFFLE_HASH"), eDeg("_src") === ranks("id"))
        .select(col("_dst").as("id"), (col("rank") / col("_deg")).as("_c"))
      val summed = contrib.groupBy("id")
        .agg(sum(col("_c").cast("decimal(28,12)")).cast("double").as("_in"))
      ranks = pFull.join(summed, Seq("id"), "left")
        .select(col("id"),
          (lit(1.0 - damping) * col("_p") +
            lit(damping) * coalesce(col("_in"), lit(0.0))).as("rank"))
      if ((i + 1) % 5 == 0 && i + 1 < iters) ranks = ranks.localCheckpoint(true)
    }
    ranks
  }

  /** Synchronous label-propagation communities (Raghavan et al. 2007),
    * fixed iteration count: every node starts labeled with its own id;
    * each round it adopts the MOST FREQUENT label among its neighbors,
    * ties broken toward the smallest label — both rules exact-integer,
    * so a fixed round count is deterministic in any engine and the whole
    * computation is oracle-checkable (the fixpoint variant is famously
    * order-dependent; the synchronous fixed-round form is the
    * reproducible one). Complements [[connectedComponents]]: CC answers
    * "reachable at all?", LPA answers "densely attached where?" —
    * communities inside one component (the dedup-cluster splitter for
    * chains of borderline near-dup edges). Self-loops are dropped, the
    * same as [[degreeDistribution]] — a node never votes with its own
    * previous label.
    *
    * Scale shape: identical round structure to [[pageRank]] — the
    * symmetrized edge list is loop-invariant, HASH-PARTITIONED ON the
    * join key before its one-time checkpoint (so each round shuffles
    * only the node-sized label frame into the join, never the edge
    * list), and each round is that one equi-join plus ONE aggregation:
    * `mode(label, deterministic = true)` — Spark's most-frequent-value
    * aggregate whose deterministic flag breaks ties toward the LOWEST
    * value, exactly LPA's rule, in a single map-side-combinable pass
    * (the naive count-then-argmax formulation pays a second shuffle per
    * round for the same answer). Lineage truncated every 5th round (the
    * r11 cadence: fixed small iteration counts make per-round eager
    * materialization pure overhead).
    */
  /** `edgesDistinct = true` promises the input is an undirected edge SET
    * with a < b per row (the pair-artifact contract): the symmetrized
    * double cover is then duplicate-free by construction and the
    * per-round vote weights are already correct, so the dedup —
    * a full shuffle of the query's LARGEST frame — is skipped. Leave
    * false for arbitrary edge lists (duplicate edges would double-count
    * votes).
    */
  def labelPropagation(edges: DataFrame, aCol: String, bCol: String,
                       iters: Int, edgesDistinct: Boolean = false): DataFrame = {
    val doubled = edges.select(col(aCol).cast("long").as("_src"), col(bCol).cast("long").as("_dst"))
      .union(edges.select(col(bCol).cast("long").as("_src"), col(aCol).cast("long").as("_dst")))
      .where(col("_src") =!= col("_dst"))
    val sym = (if (edgesDistinct) doubled else doubled.distinct())
      .repartition(col("_dst")).localCheckpoint(true)
    var labels = sym.select(col("_src").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
    for (i <- 0 until iters) {
      labels = sym.join(labels, sym("_dst") === labels("id"))
        .groupBy(col("_src").as("id"))
        .agg(mode(col("community"), deterministic = true).as("community"))
      if ((i + 1) % 5 == 0 && i + 1 < iters) labels = labels.localCheckpoint(true)
    }
    labels
  }

  /** Degree distribution of an undirected edge list — the first graph
    * profile anyone runs (skew → hub detection, feeds the salting /
    * AQE-skew decisions the join playbook documents). Two hash
    * aggregates: distinct-neighbor degree per node, then node count per
    * degree. Edges are symmetrized internally; self-loops dropped.
    */
  def degreeDistribution(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val sym = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
    sym.groupBy("u").agg(count(lit(1)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_nodes"))
  }

  /** Bounded-hop BFS reachability: nodes within `hops` undirected edges of
    * a seed set, labeled with their minimum hop distance. Each hop is one
    * frontier⋈edges join + a min-aggregate — the iterative-join BFS Spark
    * executes well when the frontier is a small fraction of the graph;
    * `hops` is a hard bound, so the plan is statically known (no
    * data-dependent loop) and oracle-expressible.
    */
  def bfsWithinHops(edges: DataFrame, aCol: String, bCol: String,
                    seeds: DataFrame, seedCol: String, hops: Int): DataFrame = {
    val sym = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .distinct().localCheckpoint(true)
    // Lazy checkpoints — same reasoning as ssspWithinHops: a static hop
    // bound needs no per-round action, so the per-hop eager jobs were
    // pure scheduling overhead.
    var reached = seeds.select(col(seedCol).cast("long").as("id"), lit(0).as("hop"))
      .distinct().localCheckpoint(false)
    for (_ <- 1 to hops) {
      // r22: hop carried as reached("hop") + 1 instead of the per-round
      // literal lit(h) — the Bellman-Ford relaxation min(hop(v),
      // min over neighbors hop(u)+1) reaches the identical min-hop
      // fixpoint per round (a node first adjacent to the reached set at
      // round h has min neighbor hop h−1), while the round plans become
      // textually identical so every round after the first reuses the
      // cached generated classes (the ssspWithinHops loop shape, which
      // never had a per-round literal).
      val next = sym.join(reached, sym("u") === reached("id"))
        .select(col("v").as("id"), (col("hop") + lit(1)).as("hop"))
      reached = reached.union(next)
        .groupBy("id").agg(min("hop").as("hop"))
        .localCheckpoint(false)
    }
    reached
  }

  /** Fixed-iteration HITS (Kleinberg hubs-and-authorities) over a directed
    * edge list — the second classic link-analysis prior next to PageRank
    * (C83), natural on bipartite interaction graphs (queries→pages,
    * customers→suppliers) where PageRank's single score conflates the two
    * roles. Each iteration is two join+aggregate passes over the edge
    * list: authority(v) ← Σ over in-edges hub(u), then hub(u) ← Σ over
    * out-edges authority(v), each L1-normalized so scores are a
    * distribution (the usual L2 norm would put a cross-engine sqrt inside
    * the iteration; L1 keeps every step a sum — same fixed point family,
    * and exactly reproducible).
    *
    * Determinism: contribution sums are exact decimals (the C83
    * Portable.decSum rationale — IEEE double sums depend on shuffle
    * arrival order), and each normalization divides two decimal-exact
    * doubles, so a fixed iteration count yields bit-stable scores and the
    * whole computation is oracle-checkable by unrolled chained CTEs.
    * Nodes with no in-edges carry authority 0; nodes with no out-edges
    * carry hub 0 (on a bipartite graph each side holds exactly one
    * nonzero role). Scale shape: the edge list is checkpointed once and
    * reused 2·iters times; per-iteration state is one row per node.
    */
  def hits(edges: DataFrame, srcCol: String, dstCol: String,
           iters: Int): DataFrame = {
    val e = edges.select(col(srcCol).cast("long").as("_src"), col(dstCol).cast("long").as("_dst"))
      .distinct().localCheckpoint(true)
    val nodes = e.select(col("_src").as("id")).union(e.select(col("_dst").as("id")))
      .distinct().localCheckpoint(true)
    def l1normalize(df: DataFrame, c: String): DataFrame = {
      val tot = df.agg(sum(col(c).cast("decimal(28,12)")).cast("double").as("_tot"))
      df.crossJoin(broadcast(tot))
        .select(col("id"), (col(c) / col("_tot")).as(c))
    }
    var hubs = nodes.select(col("id"), lit(1.0).as("hub"))
    var auths = nodes.select(col("id"), lit(0.0).as("auth"))
    // every join below carries a SHUFFLE_HASH hint: the frames are
    // post-checkpoint (stats-blind planner), and without the hint the
    // node⋈scores joins regress to SortMergeJoin — two full sorts per
    // round on node-keyed, well-distributed data (the r17 heavy-tail
    // SMJ-free contract)
    for (i <- 0 until iters) {
      val aRaw = e.join(hubs.hint("SHUFFLE_HASH"), e("_src") === hubs("id"))
        .groupBy(col("_dst").as("id"))
        .agg(sum(col("hub").cast("decimal(28,12)")).cast("double").as("auth"))
      auths = l1normalize(
        nodes.join(aRaw.hint("SHUFFLE_HASH"), Seq("id"), "left")
          .select(col("id"), coalesce(col("auth"), lit(0.0)).as("auth")), "auth")
      val hRaw = e.join(auths.hint("SHUFFLE_HASH"), e("_dst") === auths("id"))
        .groupBy(col("_src").as("id"))
        .agg(sum(col("auth").cast("decimal(28,12)")).cast("double").as("hub"))
      hubs = l1normalize(
        nodes.join(hRaw.hint("SHUFFLE_HASH"), Seq("id"), "left")
          .select(col("id"), coalesce(col("hub"), lit(0.0)).as("hub")), "hub")
      if ((i + 1) % 3 == 0 && i + 1 < iters) {
        auths = auths.localCheckpoint(true)
        hubs = hubs.localCheckpoint(true)
      }
    }
    nodes.join(auths.hint("SHUFFLE_HASH"), Seq("id"))
      .join(hubs.hint("SHUFFLE_HASH"), Seq("id"))
  }

  /** Bounded-hop single-source shortest paths over a WEIGHTED undirected
    * edge list — the C91 BFS generalized from hop counts to additive edge
    * costs (Bellman-Ford relaxation, one round per hop bound). Each round
    * is one frontier⋈edges join producing candidate distances
    * dist(u)+w(u,v), then a min-aggregate folding them into the standing
    * labels — the iterative-join SSSP Spark executes well when `hops`
    * is a small static bound, which also keeps the plan
    * oracle-expressible as unrolled CTEs.
    *
    * Weights must be non-negative integers (longs): integer sums make
    * every path cost exact, so min() ties are engine-independent — a
    * double-weighted variant would need the decimal discipline instead.
    * Output: (id, dist) for every node reachable within `hops` edges of
    * a seed, dist = minimum total weight over all such paths (seeds at
    * 0). State is one row per reached node; the edge list is checkpointed
    * once and reused every round.
    */
  def ssspWithinHops(edges: DataFrame, aCol: String, bCol: String, wCol: String,
                     seeds: DataFrame, seedCol: String, hops: Int): DataFrame = {
    val sym = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"),
        col(wCol).cast("long").as("w"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v"),
        col(wCol).cast("long").as("w")))
      .groupBy("u", "v").agg(min("w").as("w")) // parallel edges: keep the cheapest
      .localCheckpoint(true)
    // LAZY checkpoints: the hop bound is static, so no convergence probe
    // needs per-round materialization — the caller's one action computes
    // the whole chain, each round's RDD caching on first use (a round's
    // state is read twice by the next round: the relax join and the
    // union), while the checkpoint still truncates lineage growth.
    // Eager per-round checkpoints were one scheduled job per hop of pure
    // overhead.
    var dist = seeds.select(col(seedCol).cast("long").as("id"), lit(0L).as("dist"))
      .distinct().localCheckpoint(false)
    for (_ <- 1 to hops) {
      val relaxed = sym.join(dist, sym("u") === dist("id"))
        .select(col("v").as("id"), (col("dist") + col("w")).as("dist"))
      dist = dist.union(relaxed)
        .groupBy("id").agg(min("dist").as("dist"))
        .localCheckpoint(false)
    }
    dist
  }

  /** k-core decomposition: the maximal subgraph in which every node has
    * degree ≥ k, by iterative peeling — drop all nodes of degree < k,
    * recompute degrees in the induced subgraph, repeat until a fixpoint
    * (the order of removals never changes the result, so the bulk
    * round-synchronous peel is exact). The loop is data-dependent like
    * [[connectedComponents]] — each round is one degree aggregate + one
    * semi-join restriction of the edge list, with per-round
    * localCheckpoint truncating lineage and one count() driving the
    * convergence test (the surviving-node count is strictly decreasing
    * until the fixpoint). Peeling can cascade: removing a node can drop a
    * neighbor below k next round, so round counts are graph-dependent —
    * chains peel one link per round (a 23-round example lives in the
    * repeat-trade graph at sf0.1) while dense cores finish in one.
    *
    * Output: (id, deg) for every node in the k-core, deg = its degree
    * INSIDE the core (≥ k by construction). Scale shape: state is the
    * surviving edge list, shrinking monotonically; every step is an
    * equi-join or hash aggregate on node ids — no all-pairs, no
    * driver-side graph.
    */
  def kCore(edges: DataFrame, aCol: String, bCol: String, k: Int,
            maxRounds: Int = 60, localFinishEdges: Long = 1000000L): DataFrame = {
    var sym = edges.select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .where(col("u") =!= col("v"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v"))
        .where(col("u") =!= col("v")))
      .distinct().localCheckpoint(true)
    // ONE job per round: the degree frame is lazily checkpointed and one
    // combined aggregate both materializes it (and the previous round's
    // lazily-checkpointed edge restriction with it) and returns
    // (|alive|, |keep|, Σdeg). keep ⊆ alive and the alive sets shrink
    // monotonically, so equal COUNTS mean equal SETS — nobody peels,
    // fixpoint — and the final round never builds an edge frame it
    // would throw away.
    //
    // LOCAL FINISH: a cascade peels one chain link per round (23 rounds
    // observed on the sf0.1 repeat-trade graph), and each distributed
    // round is ~0.25 s of fixed job/shuffle scheduling whatever the data
    // size — so once the surviving edge list is small (Σdeg = 2|E| ≤
    // `localFinishEdges` rows ≈ tens of MB of longs; the cascade TAIL
    // always is, whatever the corpus was), the peel finishes inside ONE
    // executor task instead of one Spark round per cascade link. Same
    // exact algorithm, same result (spec-proven against the distributed
    // path, which `localFinishEdges = 0` forces); bulk rounds still run
    // distributed while the graph is big, so the operator never holds
    // more than `localFinishEdges` rows in one task's memory.
    var round = 0
    var done = false
    while (!done && round < maxRounds) {
      val deg = sym.groupBy("u").agg(count(lit(1)).as("deg")).localCheckpoint(false)
      val probe = deg.agg(count(lit(1)).as("_alive"),
        count(when(col("deg") >= k, 1)).as("_kept"),
        sum("deg").as("_rows")).head()
      if (probe.getLong(0) == probe.getLong(1)) done = true
      else if (probe.getLong(2) <= localFinishEdges) {
        val s = sym.sparkSession
        import s.implicits._
        return sym.select(col("u"), col("v")).as[(Long, Long)]
          .coalesce(1).mapPartitions { it =>
            val adj = scala.collection.mutable.HashMap
              .empty[Long, scala.collection.mutable.Set[Long]]
            it.foreach { case (u, v) => // rows are already symmetric + distinct
              adj.getOrElseUpdate(u, scala.collection.mutable.Set.empty[Long]) += v
            }
            var alive = adj.keySet.toSet
            var changed = true
            while (changed) {
              val drop = alive.filter(x => adj(x).count(alive) < k)
              changed = drop.nonEmpty
              alive = alive -- drop
            }
            alive.iterator.map(x => (x, adj(x).count(alive).toLong))
          }.toDF("id", "deg")
      } else {
        val keep = deg.where(col("deg") >= k).select(col("u").as("_keep"))
        sym = sym
          .join(keep.withColumnRenamed("_keep", "u"), Seq("u"), "left_semi")
          .join(keep.withColumnRenamed("_keep", "v"), Seq("v"), "left_semi")
          .localCheckpoint(false)
      }
      round += 1
    }
    sym.groupBy(col("u").as("id")).agg(count(lit(1)).as("deg"))
      .where(col("deg") >= k) // guards the maxRounds-truncated corner
  }

  /** Per-node triangle counts via degree-ordered edge orientation — the
    * scale-safe triangle algorithm. Orienting every undirected edge from
    * its lower-(degree, id) endpoint to the higher one makes each node's
    * out-degree O(√m) regardless of hub skew (a hub of degree d only
    * KEEPS out-edges to nodes of degree ≥ d, and there can be at most
    * ~√(2m) such nodes), so the wedge join — the quadratic step — fans
    * out per apex by at most √m instead of by hub degree. Each triangle
    * then has exactly ONE apex with two out-edges, so closing wedges
    * against the canonical (a < b) undirected edge set counts every
    * triangle exactly once — no /6 correction, no duplicate elimination
    * shuffle. Everything is equi-joins + hash aggregates: wedge join on
    * the apex key, closing join on the unordered pair key.
    *
    * Input must be the canonical undirected edge list: a < b, distinct,
    * no self-loops. Output: (node_id, triangles) for every node on at
    * least one triangle.
    *
    * The wedge stream is the BIG intermediate — Θ(Σ C(outdeg, 2)), up to
    * m^1.5 rows on a dense graph — so the closing join should not shuffle
    * it when avoidable: broadcasting the canonical edge list lets wedges
    * probe it in the same stage they are produced, never touching a
    * shuffle. That is the right plan whenever the EDGE LIST fits executor
    * memory — item/co-occurrence graphs at any fact scale, where |V| is a
    * catalog, not the fact table. But the closing side IS the entire
    * oriented edge set, so an unconditional broadcast is an OOM at
    * 100× edge scale (VERDICT r15 item 2) — `broadcastClose = None`
    * (default) therefore picks the strategy BY MEASURED SIZE: the edge
    * count is already known at call time (the same one-row aggregate
    * that decides key packability), and the build side broadcasts only
    * when its estimated bytes (~16 B per packed-long hash-relation row)
    * fit the session's `spark.sql.autoBroadcastJoinThreshold`. Pass
    * `Some(true)`/`Some(false)` to force either plan.
    *
    * Closing-key encoding (r11): when every node id fits an unsigned
    * 32-bit value (checked on the actual data — catalogs and offset-id
    * graphs do; the check is one tiny aggregate over the edge list), the
    * (v, w) pair packs injectively into ONE long (v << 32 | w) and the
    * closing join keys on it — Spark then builds the specialized
    * long-key hash relation instead of the generic row-key one, which
    * measured ~2× on the whole operator (the probe runs once per wedge —
    * the hot loop). Wider ids fall back to the two-column key, same
    * result.
    *
    * NOT lazy (ADVICE r11): calling this runs Spark jobs during plan
    * CONSTRUCTION — the eager localCheckpoint materializing the reused
    * edge list, plus the one-row id-bounds aggregate deciding
    * packability. Compose the returned DataFrame freely, but don't
    * build it somewhere latency-sensitive expecting a free plan.
    */
  def triangleCounts(edges: DataFrame, aCol: String, bCol: String,
                     broadcastClose: Option[Boolean] = None): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
      .localCheckpoint(true) // reused three times: degrees, wedges, closing
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val lowFirst = e
      .join(deg.select(col("id").as("a"), col("deg").as("_da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("_db")), Seq("b"))
      .select(
        when(col("_da") < col("_db") ||
             (col("_da") === col("_db") && col("a") < col("b")),
          struct(col("a").as("src"), col("b").as("dst")))
          .otherwise(struct(col("b").as("src"), col("a").as("dst"))).as("o"))
      .select(col("o.src").as("src"), col("o.dst").as("dst"))
    // Wedges at each apex: unordered out-neighbor pairs (v < w keeps one
    // representative per pair — the closing edge key is unordered anyway).
    // SHUFFLE_HASH beats Spark's default sort-merge here ~2.5× measured
    // (r11): SMJ pays two full sorts of the oriented edge list before
    // emitting a single wedge, while SHJ builds a per-partition hash map
    // over |E|/nPartitions rows — which scales (grow partitions with the
    // edge list) and is bounded per key by the O(√m) oriented out-degree.
    val o1 = lowFirst.hint("SHUFFLE_HASH").as("o1")
    val o2 = lowFirst.hint("SHUFFLE_HASH").as("o2")
    val wedges = o1.join(o2, col("o1.src") === col("o2.src") &&
        col("o1.dst") < col("o2.dst"))
      .select(col("o1.src").as("u"),
        least(col("o1.dst"), col("o2.dst")).as("v"),
        greatest(col("o1.dst"), col("o2.dst")).as("w"))
    // v << 32 | w is injective only for ids in [0, 2^32); the bounds
    // check runs on the checkpointed edge list (one tiny agg job) and
    // doubles as the closing-side size probe for the broadcast decision.
    val bounds = e.agg(min(least(col("a"), col("b"))).as("_lo"),
      max(greatest(col("a"), col("b"))).as("_hi"),
      count(lit(1)).as("_n")).head()
    val packable = !bounds.isNullAt(0) &&
      bounds.getLong(0) >= 0L && bounds.getLong(1) < (1L << 32)
    val doBroadcast = broadcastClose.getOrElse {
      // ~16 B per row of the specialized long-key hash relation (8 B key
      // + bookkeeping) on the packable path; the two-column fallback
      // builds a wider generic-row relation — ~32 B/row (ADVICE r16).
      // The DEFAULT session threshold is not the cap here: it guards
      // Catalyst's size ESTIMATES, which err huge, while this row count
      // is MEASURED, the relation is compact, and avoiding the broadcast
      // costs a full shuffle of the Θ(m^1.5) wedge stream (r16: the
      // 10 MB default flipped sf0.1's 19 MB edge list to shuffle for a
      // 1.7× slowdown) — so a session still on the default gets the
      // 128 MB measured-size cap (GB-scale edge lists still shuffle).
      // A threshold the session EXPLICITLY moved off the default is
      // honored exactly, in both directions (ADVICE r16: lowering it
      // used to be silently overridden back up), and -1 (broadcast
      // disabled) forces the shuffle path as before. The one ambiguity —
      // explicitly setting the exact default value — reads as default.
      val t = broadcastThresholdBytes(e.sparkSession)
      val cap = if (t == 10485760L) math.max(t, 128L << 20) else t
      val rowBytes = if (packable) 16L else 32L
      t >= 0 && bounds.getLong(2) * rowBytes <= cap
    }
    val tri =
      if (packable) {
        val wk = wedges.withColumn("_vw", shiftleft(col("v"), 32).bitwiseOR(col("w")))
        val closing = e.select(shiftleft(col("a"), 32).bitwiseOR(col("b")).as("_vw"))
        wk.join(if (doBroadcast) broadcast(closing) else closing.hint("SHUFFLE_HASH"),
          Seq("_vw"))
      } else {
        val closing = e.select(col("a").as("v"), col("b").as("w"))
        wedges.join(if (doBroadcast) broadcast(closing) else closing.hint("SHUFFLE_HASH"),
          Seq("v", "w"))
      }
    tri.select(explode(array(col("u"), col("v"), col("w"))).as("node_id"))
      .groupBy("node_id").agg(count(lit(1)).as("triangles"))
  }

  /** Per-node local clustering coefficient c(v) = 2·T(v) / (deg(v)·(deg(v)−1))
    * for every node of degree ≥ 2 — the closed-wedge fraction that
    * separates community-embedded nodes (c → 1) from pure connectors
    * (c → 0) on the same canonical edge list as [[triangleCounts]]
    * (a < b, distinct, no self-loops; same eager-jobs caveat). The graph-
    * level average of c is the standard small-world diagnostic; keeping
    * the per-node rows feeds hub triage directly.
    *
    * T(v) and deg(v) are exact integer counts and the coefficient is ONE
    * fixed-shape double division, so rows hash-check. Cost beyond the
    * triangle kernel is one degree aggregate and a node-keyed left join
    * (triangle-free nodes carry T = 0).
    */
  /** Truncated (k-)betweenness, path length ≤ 3: for every unordered
    * pair (s, t) at distance 2 or 3, each interior vertex of a shortest
    * s–t path collects (paths through it)/(total shortest s–t paths) —
    * Brandes' pair-dependency δ restricted to short paths, the standard
    * bounded variant (length-1 pairs have no interior; at social/near-dup
    * diameters ≤3 captures most of the exact score while keeping the
    * computation three self-joins instead of an all-sources BFS).
    *
    * Exactness: path counts are exact integers; each distance class
    * contributes Σ (through_v / σ_st) — summed as DECIMAL(28,12) of the
    * per-pair division, the one fixed double op, so rows hash-check.
    *
    * Scale shape: candidate 2-paths are one edge self-join (fan-out
    * bounded by degree like the triangle wedge join), 3-paths one more;
    * both anti-join against the shorter-distance pair sets so only true
    * shortest paths count. All equi-joins + hash aggregates on payload-
    * free key pairs. Input contract: canonical undirected edges (a < b,
    * distinct, no self-loops).
    */
  def truncatedBetweenness(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val sym = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true)
    // unordered dist-1 pairs (the exclusion set for d=2 candidates)
    val p1 = sym.where(col("u") < col("v")).select(col("u").as("s"), col("v").as("t"))
    // 2-paths s–v–t, s < t, excluding adjacent pairs → d(s,t) = 2 exactly
    val paths2 = sym.select(col("u").as("s"), col("v").as("mid"))
      .join(sym.select(col("u").as("mid"), col("v").as("t")), Seq("mid"))
      .where(col("s") < col("t"))
      .join(p1, Seq("s", "t"), "left_anti")
      .localCheckpoint(true) // reused: σ₂ aggregate, δ₂ rollup, d3 exclusion
    val sigma2 = paths2.groupBy("s", "t").agg(count(lit(1)).as("_sigma"))
    val p2 = sigma2.select("s", "t")
    // 3-paths s–v–w–t, s < t, vertices distinct, excluding d ≤ 2 pairs
    val paths3 = sym.select(col("u").as("s"), col("v").as("v1"))
      .join(sym.select(col("u").as("v1"), col("v").as("v2")), Seq("v1"))
      .where(col("v2") =!= col("s"))
      .join(sym.select(col("u").as("v2"), col("v").as("t")), Seq("v2"))
      .where(col("s") < col("t") && col("v1") =!= col("t"))
      .join(p1, Seq("s", "t"), "left_anti")
      .join(p2, Seq("s", "t"), "left_anti")
      .localCheckpoint(true) // reused: σ₃ aggregate + two interior rollups
    val sigma3 = paths3.groupBy("s", "t").agg(count(lit(1)).as("_sigma"))
    // per-pair dependency: through_v / σ, decimal-summed per vertex
    val dep2 = paths2.join(sigma2, Seq("s", "t"))
      .select(col("mid").as("node_id"),
        (lit(1.0) / col("_sigma").cast("double")).as("_d"))
    val dep3 = paths3.join(sigma3, Seq("s", "t"))
      .select(explode(array(col("v1"), col("v2"))).as("node_id"),
        (lit(1.0) / col("_sigma").cast("double")).as("_d"))
    dep2.unionByName(dep3)
      .groupBy("node_id")
      .agg(Portable.pround(Portable.decSum(col("_d"), 12), 6).as("betweenness"),
        count(lit(1)).as("n_path_slots"))
  }

  /** Bounded-hop harmonic centrality: H(v) = Σ_{u≠v, d(u,v)≤maxHops} 1/d
    * — the centrality that handles disconnected graphs gracefully
    * (unreachable nodes contribute 0 instead of poisoning an average,
    * closeness's classic failure). Computed by layered BFS with visited-
    * set exclusion, so each (src, node) pair carries its MINIMUM
    * distance by construction; per-distance counts then collapse to ONE
    * exact division — the numerator Σ count_d·(L/d) with L = lcm(1..H)
    * is an exact integer, so the score is bit-portable (no 1/3
    * accumulation drift).
    *
    * Input contract and scale shape follow [[triangleCounts]]: canonical
    * undirected edges (a < b, distinct, no self-loops — symmetrized
    * internally); each hop is one equi-join + one anti-join + a distinct
    * on (src, node) keys — frontier-sized, payload-free. maxHops bounds
    * the fan-out; H=3 on a near-dup graph touches components only.
    */
  def harmonicCentrality(edges: DataFrame, aCol: String, bCol: String,
                         maxHops: Int = 3): DataFrame = {
    require(maxHops >= 1 && maxHops <= 6, s"maxHops must be in [1, 6] (got $maxHops)")
    val sym = edges
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))
      .union(edges.select(col(bCol).cast("long").as("u"), col(aCol).cast("long").as("v")))
      .where(col("u") =!= col("v"))
      .distinct()
      .localCheckpoint(true) // reused every hop
    var visited = sym.select(col("u").as("src"), col("v").as("node"))
      .withColumn("dist", lit(1))
    var frontier = visited
    for (h <- 2 to maxHops) {
      val step = frontier.select(col("src"), col("node").as("u"))
        .join(sym, Seq("u"))
        .select(col("src"), col("v").as("node"))
        .where(col("src") =!= col("node"))
        .distinct()
        .join(visited.select("src", "node"), Seq("src", "node"), "left_anti")
        .withColumn("dist", lit(h))
        .localCheckpoint(false) // cut the per-hop lineage growth
      visited = visited.unionByName(step)
      frontier = step
    }
    def lcm(a: Long, b: Long): Long = a / gcd(a, b) * b
    def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)
    val l = (1L to maxHops.toLong).foldLeft(1L)(lcm)
    val numer = (1 to maxHops).map(d =>
      sum(when(col("dist") === d, lit(l / d)).otherwise(lit(0L)))).reduce(_ + _)
    visited.groupBy(col("src").as("node_id"))
      .agg(count(lit(1)).as("n_reached"), numer.as("_numer"))
      .select(col("node_id"), col("n_reached"),
        Portable.pround(col("_numer").cast("double") / l.toDouble, 6).as("harmonic"))
  }

  /** Session broadcast threshold in bytes (spark.sql.autoBroadcastJoinThreshold,
    * byte-suffixed forms included; -1 or unparsable → broadcast disabled).
    */
  private def broadcastThresholdBytes(s: org.apache.spark.sql.SparkSession): Long =
    try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      s.conf.get("spark.sql.autoBroadcastJoinThreshold", "10485760"))
    catch { case _: Exception => -1L }

  def clusteringCoefficients(edges: DataFrame, aCol: String, bCol: String,
                             broadcastClose: Option[Boolean] = None): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val tri = triangleCounts(edges, aCol, bCol, broadcastClose)
      .select(col("node_id").as("id"), col("triangles"))
    deg.where(col("degree") >= 2)
      .join(tri, Seq("id"), "left")
      .select(col("id").as("node_id"), col("degree"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        round((lit(2) * coalesce(col("triangles"), lit(0L))).cast("double") /
          (col("degree") * (col("degree") - 1)).cast("double"), 6).as("clustering"))
  }

  /** Rich-club coefficient φ(k) = 2·E_k / (N_k·(N_k−1)) for each degree
    * threshold in `ks`: the edge density among nodes of degree > k — the
    * direct answer to "do the hubs form their own clique?" that
    * assortativity (C149) only gives in correlation form. N_k, E_k are
    * exact counts; one double division per threshold; thresholds with
    * fewer than two qualifying nodes return NULL (undefined, not 0).
    *
    * Scale shape: degrees join onto the edge list once; the edge and
    * node streams each fan out by the |ks| CATALOG (broadcast literal
    * frame) and reduce in one hash aggregate — no per-threshold rescan.
    */
  def richClub(edges: DataFrame, aCol: String, bCol: String,
               ks: Seq[Int]): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))
    val ksDf = ks.map(_.toLong).toDF("k")
    val nk = deg.crossJoin(broadcast(ksDf))
      .where(col("deg") > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_nodes"))
    val ek = e
      .join(deg.select(col("id").as("a"), col("deg").as("_da")), Seq("a"))
      .join(deg.select(col("id").as("b"), col("deg").as("_db")), Seq("b"))
      .crossJoin(broadcast(ksDf))
      .where(least(col("_da"), col("_db")) > col("k"))
      .groupBy("k").agg(count(lit(1)).as("n_edges"))
    ksDf
      .join(nk, Seq("k"), "left")
      .join(ek, Seq("k"), "left")
      .select(col("k"),
        coalesce(col("n_nodes"), lit(0L)).as("n_nodes"),
        coalesce(col("n_edges"), lit(0L)).as("n_edges"))
      .withColumn("phi",
        when(col("n_nodes") >= 2,
          round((lit(2) * col("n_edges")).cast("double") /
            (col("n_nodes") * (col("n_nodes") - 1)).cast("double"), 6)))
  }

  /** Degree assortativity of an undirected graph — Newman's r: the
    * Pearson correlation of endpoint degrees over the directed double
    * cover (each edge in both orientations). Positive = hubs link hubs
    * (social-style), negative = hubs link leaves (infrastructure-style);
    * the one-scalar wiring summary that decides whether degree-targeted
    * sampling or skew salting will pay off.
    *
    * By symmetry of the double cover Σx = Σy and Σx² = Σy², so
    * r = (n·Σxy − (Σx)²) / (n·Σx² − (Σx)²) with every sum an exact
    * integer (decimal-summed — degree products overflow long at hub
    * scale) and ONE double division at the end: the row hash-checks.
    * Shape: one degree aggregate + two node-keyed joins onto the edge
    * list — no iteration, nothing collected. Returns NULL on a degree-
    * regular graph (zero variance: r is undefined, not 0).
    */
  def degreeAssortativity(edges: DataFrame, aCol: String, bCol: String): DataFrame = {
    val e = edges.select(col(aCol).cast("long").as("a"), col(bCol).cast("long").as("b"))
    val deg = e.select(col("a").as("id")).union(e.select(col("b").as("id")))
      .groupBy("id").agg(count(lit(1)).as("degree"))
    val dir = e.select(col("a").as("u"), col("b").as("v"))
      .union(e.select(col("b").as("u"), col("a").as("v")))
    val joined = dir
      .join(deg.select(col("id").as("u"), col("degree").as("_du")), Seq("u"))
      .join(deg.select(col("id").as("v"), col("degree").as("_dv")), Seq("v"))
    val agg = joined.agg(count(lit(1)).as("_n"),
      // decimal, not long: over the directed double cover Σx = Σ deg(v)²,
      // the same magnitude as _sxx — a plain (non-ANSI) long sum would
      // wrap silently at hub scale while the other moments stay exact.
      sum(col("_du").cast("decimal(20,0)")).as("_sx"),
      sum(col("_du").cast("decimal(20,0)") * col("_dv")).as("_sxy"),
      sum(col("_du").cast("decimal(20,0)") * col("_du")).as("_sxx"))
    val num = col("_n").cast("decimal(38,0)") * col("_sxy") -
      col("_sx").cast("decimal(38,0)") * col("_sx")
    val den = col("_n").cast("decimal(38,0)") * col("_sxx") -
      col("_sx").cast("decimal(38,0)") * col("_sx")
    agg.select((col("_n") / 2).cast("long").as("n_edges"),
      when(den =!= lit(0),
          Portable.pround(num.cast("double") / den.cast("double"), 6))
        .as("assortativity"))
  }

  /** Adamic-Adar link prediction over a bipartite affiliation graph
    * (Adamic & Adar 2003): left-side node pairs scored by their shared
    * right-side neighbors, each neighbor weighted 1/ln(degree) — a rare
    * shared affiliation says more than a popular one (the same
    * inverse-frequency instinct as IDF). Top `topK` non-trivial pairs
    * out: (id_a, id_b, n_common, score), id_a < id_b.
    *
    * A shared neighbor has degree ≥ 2 by construction, so ln(degree) ≥
    * ln 2 > 0 — no guard needed. Per-pair terms decimal-sum (order-
    * independent); ordering ties on the exact summed score break by ids.
    *
    * Scale shape: wedge enumeration through each right-side node is the
    * only quadratic step — Σ_z deg(z)², which the CALLER bounds by
    * feeding a degree-bounded affiliation graph (e.g. the repeat-trade
    * projection, whose per-supplier degree is a behavioral constant, not
    * a corpus-scale one; the same contract as basketPairs' basket-size
    * bound). The wedge self-join is an equi-join on the right key, the
    * degree table joins in by the same key (one partitioning reused),
    * and the pair aggregation is a hash agg on (id_a, id_b); final top-k
    * is TakeOrderedAndProject, never a global sort.
    */
  /** Deterministic "random" walks — the DeepWalk/node2vec corpus
    * generator (Perozzi et al. 2014) with the randomness replaced by a
    * portable hash: from each seed, one walk of `steps` hops where the
    * next node is the neighbor minimizing hash32(seed, step, neighbor)
    * (ties toward the smaller node id). Every engine replays the exact
    * same walks — the reproducibility every embedding-training pipeline
    * wants from its walk corpus anyway (a seeded PRNG, made portable),
    * and what makes the operator oracle-checkable hop by hop.
    *
    * Output: (seed, step, node), step 0 = the seed itself. A walk stops
    * early only if its current node has no neighbors (impossible for
    * seeds drawn from a symmetrized edge list).
    *
    * Scale shape: the frontier is seed-set-sized and BROADCAST into the
    * loop-invariant symmetrized edge list each hop (the edge list is
    * scanned, never shuffled; contrast pageRank, whose frontier is the
    * whole node set) — per-hop cost is one broadcast-join scan + a
    * seed-keyed argmin aggregate, and `steps` is a small fixed constant.
    */
  def deterministicWalks(edges: DataFrame, aCol: String, bCol: String,
                         seeds: DataFrame, seedCol: String, steps: Int,
                         edgesDistinct: Boolean = false): DataFrame = {
    val doubled = edges.select(col(aCol).cast("long").as("_src"), col(bCol).cast("long").as("_dst"))
      .union(edges.select(col(bCol).cast("long").as("_src"), col(aCol).cast("long").as("_dst")))
      .where(col("_src") =!= col("_dst"))
    // edgesDistinct: duplicate edges don't change an ARGMIN (unlike LPA's
    // vote counts), but the dedup still wastes a full shuffle when the
    // input is already a unique a<b pair set — same contract as
    // labelPropagation.
    val sym = (if (edgesDistinct) doubled else doubled.distinct())
      .localCheckpoint(false)
    // r22 NOTE (measured, kept as-is): carrying the step as a frontier
    // COLUMN (the bfsWithinHops hop-as-column move) was tried to make
    // round plans codegen-cache-identical and REGRESSED — summed task
    // time 6.95 → 9.74 s, warm wall 1.01 → 1.63 s at sf0.1. Unlike
    // bfs's integer hop, the step here feeds the HASH KEY STRING:
    // lit(t).cast("string") constant-folds to a literal per round, while
    // (step+1).cast("string") re-formats a long per EDGE ROW inside the
    // hottest expression — the per-row cost dwarfs the saved per-round
    // compile. The per-round literal stays.
    var frontier = seeds.select(col(seedCol).cast("long").as("seed"))
      .distinct().select(col("seed"), col("seed").as("node"))
    var out = frontier.select(col("seed"), lit(0L).as("step"), col("node"))
    for (t <- 1 to steps) {
      val key = concat(col("seed").cast("string"), lit("_"), lit(t).cast("string"),
        lit("_"), col("_dst").cast("string"))
      frontier = sym.join(broadcast(frontier), sym("_src") === frontier("node"))
        .groupBy("seed")
        .agg(min(struct(Portable.hash32(key).as("_h"), col("_dst").as("_v"))).as("_n"))
        .select(col("seed"), col("_n._v").as("node"))
        // r21: LAZY checkpoint per step — the final union reads step t's
        // frontier from TWO branches (its own output row and step t+1's
        // input), so without a truncation point the t-th branch re-ran
        // the entire 1..t join chain: measured 47 s of summed task time
        // at sf0.1 for the 4-step walk vs ~3 s with the cache (the
        // bfs/sssp lazy-checkpoint contract; no extra job — the RDD
        // caches on first use)
        .localCheckpoint(false)
      out = out.unionByName(frontier.select(col("seed"), lit(t.toLong).as("step"), col("node")))
    }
    out
  }

  def adamicAdarBipartite(edges: DataFrame, leftCol: String, rightCol: String,
                          topK: Int): DataFrame = {
    val e = edges.select(col(leftCol).cast("long").as("_l"),
      col(rightCol).cast("long").as("_r")).distinct()
    val deg = e.groupBy("_r").agg(count(lit(1)).as("_d"))
    val annotated = e.join(deg, Seq("_r"))
    val wedges = annotated.select(col("_r"), col("_l").as("id_a"), col("_d"))
      .join(annotated.select(col("_r"), col("_l").as("id_b")), Seq("_r"))
      .where(col("id_a") < col("id_b"))
    wedges.groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("n_common"),
        Portable.decSum(lit(1.0) / log(col("_d").cast("double")), 12).as("_score"))
      .orderBy(col("_score").desc, col("id_a").asc, col("id_b").asc).limit(topK)
      .select(col("id_a"), col("id_b"), col("n_common"),
        round(col("_score"), 6).as("score"))
  }

  /** k-truss peel of an undirected edge list (Cohen 2008): repeatedly
    * drop every edge in fewer than k−2 triangles until none drops — the
    * cohesive-core detector STRONGER than [[kCore]] (a k-core can be a
    * star; a k-truss edge must share k−2 common neighbors, so trusses
    * are triangle-dense near-cliques). On a near-dup graph this is the
    * dedup-audit reading: the 3-truss keeps exactly the edges inside
    * genuine copy CLUSTERS and drops incidental pairwise matches.
    * Returns surviving edges with their support in the surviving graph.
    *
    * Per round, support comes from closing-edge attribution: each
    * triangle {a,b,c} yields one wedge per middle vertex, and the tri
    * row (wa, wb, thru) credits ONLY its closing edge (wa, wb) — so
    * every triangle credits each of its edges exactly once, no
    * overcount, no dedup. The wedge join is Σdeg² on the CURRENT
    * (shrinking) graph — bounded by near-dup cluster width on the
    * intended input (the C171 wedge-bound argument); per-round
    * localCheckpoint truncates lineage (the kCore loop contract), and
    * equal edge counts mean equal sets (peeling is monotone), so the
    * fixpoint test is one count per round.
    */
  def kTruss(edges: DataFrame, aCol: String, bCol: String, k: Int,
             maxRounds: Int = 30): DataFrame = {
    require(k >= 3, "k-truss needs k >= 3")
    def support(e: DataFrame): DataFrame = {
      val sym = e.select(col("a").as("u"), col("b").as("w"))
        .union(e.select(col("b").as("u"), col("a").as("w")))
      sym.as("x").join(sym.as("y"),
          col("x.u") === col("y.u") && col("x.w") < col("y.w"))
        .select(col("x.w").as("wa"), col("y.w").as("wb"))
        .join(e, col("wa") === col("a") && col("wb") === col("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("support"))
    }
    var e = edges
      .select(least(col(aCol), col(bCol)).cast("long").as("a"),
        greatest(col(aCol), col(bCol)).cast("long").as("b"))
      .where(col("a") =!= col("b")).distinct().localCheckpoint(true)
    var nEdges = e.count()
    var round = 0
    var done = nEdges == 0
    while (!done && round < maxRounds) {
      val kept = e.join(support(e).where(col("support") >= k - 2),
          Seq("a", "b"), "left_semi")
        .localCheckpoint(false)
      val nKept = kept.count()
      if (nKept == nEdges) done = true
      else { e = kept; nEdges = nKept }
      round += 1
    }
    e.join(support(e), Seq("a", "b"), "left")
      .na.fill(0L, Seq("support"))
      .select(col("a").as("id_a"), col("b").as("id_b"), col("support"))
      .orderBy("id_a", "id_b")
  }

  /** Newman modularity of a node labeling over an undirected edge list
    * (Newman & Girvan 2004): per community c, Q_c = e_c/m − (d_c/2m)²
    * where e_c = intra-community edges, d_c = degree sum, m = total
    * edges; ΣQ_c is the partition's modularity. The quality gate for any
    * community assignment — run it over labelPropagation's output, or
    * (the dedup-audit reading) over metadata labels on a near-dup graph:
    * "do crawl-source / language labels explain the duplication
    * structure, or does copying cross them?" Q_c near its d_c/2m-driven
    * maximum = duplication stays inside the label; Q ≈ 0 = the label is
    * irrelevant to who copies whom.
    *
    * All inputs to the formula are exact integer counts aggregated
    * distributively (e_c and d_c via hash aggs after node-keyed label
    * joins, never a collect); the two divisions and one multiply are the
    * only floating steps, in a fixed shape both engines evaluate
    * identically. Self-loops are dropped (the degreeDistribution
    * contract); nodes labeled NULL drop out of both e_c and d_c.
    */
  /** `edgesDistinct = true` promises the input is an undirected edge SET
    * with a < b per row (the near-dup-pair / pair-artifact contract) —
    * the canonicalize+dedup pass, a full shuffle of the largest frame,
    * is then skipped (the labelPropagation convention, ADVICE r15).
    * Leave false for arbitrary edge lists: a duplicated edge row, or the
    * same undirected edge listed both as (a,b) and (b,a), would
    * otherwise double-count in e_in, deg_sum AND m, skewing Q_c.
    */
  def modularity(edges: DataFrame, aCol: String, bCol: String,
                 labels: DataFrame, idCol: String, labelCol: String,
                 edgesDistinct: Boolean = false): DataFrame = {
    val raw = edges
      .select(least(col(aCol).cast("long"), col(bCol).cast("long")).as("_a"),
        greatest(col(aCol).cast("long"), col(bCol).cast("long")).as("_b"))
      .where(col("_a") =!= col("_b"))
    val e = if (edgesDistinct) raw else raw.distinct()
    val lab = labels.select(col(idCol).cast("long").as("_id"), col(labelCol).as("_c"))
      .where(col(labelCol).isNotNull)
    val tagged = e
      .join(lab.select(col("_id").as("_a"), col("_c").as("_ca")), Seq("_a"))
      .join(lab.select(col("_id").as("_b"), col("_c").as("_cb")), Seq("_b"))
    val m = tagged.agg(count(lit(1)).as("_m"))
    val degSum = tagged.select(col("_ca").as("community"))
      .union(tagged.select(col("_cb").as("community")))
      .groupBy("community").agg(count(lit(1)).as("deg_sum"))
    val intra = tagged.where(col("_ca") === col("_cb"))
      .groupBy(col("_ca").as("community")).agg(count(lit(1)).as("e_in"))
    degSum.join(intra, Seq("community"), "left")
      .na.fill(0L, Seq("e_in"))
      .crossJoin(broadcast(m))
      .select(col("community"), col("e_in"), col("deg_sum"), col("_m").as("m_edges"),
        Portable.pround(
          col("e_in").cast("double") / col("_m").cast("double") -
            (col("deg_sum").cast("double") / (col("_m") * 2).cast("double")) *
            (col("deg_sum").cast("double") / (col("_m") * 2).cast("double")), 9)
          .as("q_c"))
      .orderBy("community")
  }
}
