package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Link-graph analysis over an edge list — the curation signal family the
  * web-corpus pipelines derive from hyperlink structure (OPIC / PageRank
  * style centrality: CommonCrawl ranks hosts this way, and quality-filter
  * recipes use the score as a keep/drop prior; Page et al. 1999, "The
  * PageRank citation ranking"). The engine-side contract mirrors
  * [[Components]]: the graph is an ordinary DataFrame of (src, dst[, w])
  * rows, every iteration is one equi-join + one grouped sum keyed on node
  * id, and every round loop runs on [[Fixpoint]] (one checkpoint per
  * round, so the driver loop stays O(1) in plan size); the incremental
  * stores keep their edges and state in an [[EdgeStore]].
  *
  * Scale shape: state is one (id, rank) row per node — the HOST/domain
  * graph of a 100 TB crawl is millions of rows, not billions — while the
  * edge list stays partitioned on `src` across every round, so each
  * iteration re-shuffles only the rank table. Fixed ITERATION COUNT rather
  * than convergence detection keeps the result a pure function of the
  * input (cross-engine reproducible, so the oracle can unroll the same
  * rounds), and avoids a per-round driver round-trip on the changed-count.
  */
object Graph {

  /** PageRank over the directed multigraph `edges` (`srcCol`, `dstCol`
    * castable to long; optional `weightCol` — parallel edges coalesce by
    * summing weights, unweighted edges count 1.0 each). Returns one row per
    * node appearing as src or dst: (id, rank), ranks summing to 1.
    *
    * Per round, with damping d over N nodes:
    *   rank'(v) = (1-d)/N + d·(Σ_{u→v} rank(u)·w(u→v)/outw(u) + dang/N)
    * where `dang` is the total rank parked on dangling nodes (no
    * out-edges) — redistributed uniformly, the standard stochastic-matrix
    * completion, so Σ rank' = 1 exactly (up to float error) every round.
    *
    * The dangling mass and N ride the plan as a 1-row cross join (the
    * [[Sampling.temperatureTake]] scalar-total move) — no per-iteration
    * driver collect; the only driver scalar is the single upfront node
    * count.
    */
  def pageRank(edges: DataFrame, srcCol: String, dstCol: String,
               weightCol: Option[String] = None,
               iterations: Int = 10, damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val e = weightedEdges(edges, srcCol, dstCol, weightCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val nodes = nodesOf(e).persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val n = nodes.count() // the one driver scalar: a single long
      require(n > 0, "pageRank needs at least one edge")
      powerIterate("pageRank", e, nodes, _ / n, iterations, damping)
    } finally { e.unpersist(false); nodes.unpersist(false) }
  }

  /** The canonical weighted edge frame (src, dst, w): null endpoints
    * dropped, parallel edges coalesced by summing weights (1.0 each when
    * unweighted). */
  private def weightedEdges(edges: DataFrame, srcCol: String,
                            dstCol: String,
                            weightCol: Option[String]): DataFrame = {
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull)
      .groupBy("src", "dst").agg(sum("w").as("w"))
  }

  /** Every node of a (src, dst) frame, as `id`. */
  private def nodesOf(e: DataFrame): DataFrame =
    e.select(col("src").as("id"))
      .union(e.select(col("dst").as("id"))).distinct()

  /** Transition probability per edge of a (src, dst, w) frame. */
  private def transOf(e: DataFrame): DataFrame =
    e.groupBy("src").agg(sum("w").as("__ow"))
      .join(e, "src")
      .select(col("src"), col("dst"), (col("w") / col("__ow")).as("p"))

  /** The power iteration shared by [[pageRank]] and
    * [[personalizedPageRank]]: `iterations` rounds of
    * `rank' = t(1−d) + d·(Pᵀ rank + t(dang))` over the persisted node
    * frame, where `teleport` (t) spreads a mass over the teleport set and
    * `dang` is the rank parked on dangling nodes. Round 0 is
    * `t(1)`, a column over the persisted node table: it needs no
    * checkpoint action (round 1's two readers re-scan the cache). The
    * transition rows stay partitioned on src for every round's rank join;
    * the dangling mass rides as a 1-row cross join, so no round collects
    * to the driver.
    */
  private def powerIterate(loop: String, e: DataFrame, nodes: DataFrame,
                           teleport: Column => Column, iterations: Int,
                           damping: Double): DataFrame = {
    val trans = transOf(e).persist(StorageLevel.MEMORY_AND_DISK)
    val srcs = e.select("src").distinct()
      .persist(StorageLevel.MEMORY_AND_DISK)
    val init = nodes.select(col("*"), teleport(lit(1.0)).as("rank"))
    try Fixpoint.iterate(loop, init, iterations) { ranks =>
      val dang = ranks.join(srcs, col("id") === col("src"), "left_anti")
        .agg(coalesce(sum("rank"), lit(0.0)).as("__dang"))
      val contrib = trans
        .join(ranks.select(col("id").as("src"), col("rank")), "src")
        .groupBy("dst").agg(sum(col("rank") * col("p")).as("__c"))
      nodes
        .join(contrib, col("id") === col("dst"), "left")
        .crossJoin(dang)
        .select(nodes.columns.map(col).toSeq :+
          (teleport(lit(1.0 - damping)) + lit(damping) *
            (coalesce(col("__c"), lit(0.0)) + teleport(col("__dang"))))
            .as("rank"): _*)
    } finally { trans.unpersist(false); srcs.unpersist(false) }
  }

  /** Personalized PageRank: random walks that TELEPORT to a seed set
    * instead of everywhere — relevance w.r.t. trusted anchors (seed a
    * crawl's curated domains and PPR ranks the rest of the link graph by
    * proximity-with-authority; seed one entity and the top ranks are its
    * graph neighborhood, the candidate generator behind related-item
    * and hard-negative mining).
    *
    * Update per round, with `s = |seeds ∩ nodes|` and dangling mass
    * redistributed to the seeds (the teleport distribution, as in
    * uniform [[pageRank]] it goes to 1/n):
    * `r' = (1−d)·e_S + d·(Pᵀ r + dang·e_S)` where `e_S = 1/s` on seeds,
    * 0 elsewhere; `r0 = e_S`. Mass is conserved at 1 every round, so
    * ranks are comparable across seed sets.
    *
    * Same shuffle shape and loop discipline as [[pageRank]]: edge/
    * transition frames persisted once, one src-keyed join + dst-keyed
    * aggregate per round ([[powerIterate]]), dangling mass as a 1-row
    * broadcast crossJoin. Seeds are a DataFrame (`idCol`), joined not collected —
    * a seed set can be millions of curated domains. Seeds outside the
    * graph are ignored (they can neither receive nor emit mass);
    * at least one seed must be a graph node.
    */
  def personalizedPageRank(edges: DataFrame, srcCol: String,
                           dstCol: String, seeds: DataFrame,
                           seedIdCol: String,
                           weightCol: Option[String] = None,
                           iterations: Int = 10,
                           damping: Double = 0.85): DataFrame = {
    require(iterations >= 1 && iterations <= 100,
      s"iterations must be in [1, 100], got $iterations")
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    val e = weightedEdges(edges, srcCol, dstCol, weightCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedIds = seeds
      .select(col(seedIdCol).cast("long").as("id")).distinct()
    val nodes = nodesOf(e)
      .join(seedIds.select(col("id"), lit(1).as("__seed")), Seq("id"),
        "left")
      .select(col("id"), (col("__seed") === 1).as("is_seed"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      // the one driver scalar: the in-graph seed count
      val s = nodes.where(col("is_seed")).count()
      require(s > 0, "personalizedPageRank needs >= 1 seed inside the graph")
      // e_S: init, teleport and dangling redistribution stay consistent
      powerIterate("personalizedPageRank", e, nodes,
          of => when(col("is_seed"), of / s).otherwise(lit(0.0)),
          iterations, damping)
        .select(col("id"), col("rank").as("ppr"))
    } finally { e.unpersist(false); nodes.unpersist(false) }
  }

  /** LOCAL personalized PageRank by frontier-bounded forward push
    * (Andersen–Chung–Lang, "Local Graph Partitioning using PageRank
    * Vectors", FOCS 2006 — the batch-synchronous form): the
    * "related docs for THIS doc" serve. [[personalizedPageRank]] runs
    * `iterations` FULL-GRAPH rounds per seed set — right for batch
    * scoring every node, wrong at 100 TB for a point query whose answer
    * lives in one neighborhood. Push touches only nodes holding
    * residual mass: per round, every node with `r(u) ≥ eps·deg(u)`
    * settles `(1−d)·r(u)` into its estimate and forwards `d·r(u)`
    * along its transition row (dangling mass → the seed distribution,
    * exactly the global form's chain), so total work tracks the seed's
    * neighborhood at tolerance `eps`, not the graph.
    *
    * Same chain, so the estimates are COMPARABLE to the global form's:
    * `p(v) ≤ ppr(v)` pointwise and `Σ|ppr − p| ≤ Σ r` (the ACL
    * invariant `ppr = p + Σᵤ r(u)·pprᵤ` with unit mass per pprᵤ) —
    * both machine-enforced: the law in `GraphSpec`, the L1 bound by
    * the `q_ppr_local_gap` twin, each priced by the RETURNED residual
    * (every row carries its `resid`, so the caller can see exactly how
    * much mass is still unsettled and where).
    *
    * Loop discipline as the other iterative operators: the edge frame
    * and the seed set persisted once, each round one [[Fixpoint]]
    * checkpoint of the (estimate, residual) pair; the only driver scalar
    * is the seed count.
    */
  def localPersonalizedPageRank(edges: DataFrame, srcCol: String,
                                dstCol: String, seeds: DataFrame,
                                seedIdCol: String,
                                weightCol: Option[String] = None,
                                damping: Double = 0.85,
                                eps: Double = 1e-4,
                                maxRounds: Int = 200): DataFrame = {
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    require(eps > 0.0, s"eps must be positive, got $eps")
    require(maxRounds >= 1, s"maxRounds must be >= 1, got $maxRounds")
    val e = weightedEdges(edges, srcCol, dstCol, weightCol)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val seedsInGraph = seeds
      .select(col(seedIdCol).cast("long").as("id")).distinct()
      .join(nodesOf(e), Seq("id"), "left_semi")
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val s = seedsInGraph.count()
      require(s > 0,
        "localPersonalizedPageRank needs >= 1 seed inside the graph")
      push(e, seedsInGraph, s, seedMass(seedsInGraph, s), damping, eps,
          maxRounds)
        .select(col("id"), col("p").as("ppr"), col("r").as("resid"))
    } finally { e.unpersist(false); seedsInGraph.unpersist(false) }
  }

  /** The push state that starts every from-scratch push: r = e_S. */
  private def seedMass(seeds: DataFrame, s: Long): DataFrame =
    seeds.select(col("id"), lit(0.0).as("p"), lit(1.0 / s).as("r"))

  /** The batch-synchronous ACL forward push over the (src, dst, w) edges
    * `all`, from an (id, p, r) state — shared by
    * [[localPersonalizedPageRank]] (fresh push, residuals non-negative)
    * and the push stores' delta bodies (residuals SIGNED: an edge batch
    * can reveal that stored estimates over-allocated mass, and the
    * correction injects negative residual). Signed push is the same
    * linear identity — settling moves (1−d)·r into the estimate whatever
    * r's sign, and each push strictly removes (1−d)·|r| ≥ (1−d)·eps from
    * Σ|r|, so the loop terminates; `Σ|ppr − p| ≤ Σ|r|` (the pricing
    * bound) holds by linearity of `ppr = p + Σᵤ r(u)·pprᵤ`. Pointwise
    * `p ≤ ppr` holds only for non-negative residuals (the fresh path) — a
    * delta push can transiently overshoot, priced by |resid|.
    *
    * Push threshold: |r(u)| ≥ eps·deg(u) (dangling nodes at deg 1),
    * computed INTO each round's state as the `__push` column, the loop's
    * active column: [[Fixpoint]] counts it on the round's own checkpoint
    * job, and the initial state is probed as round 0.
    */
  private def push(all: DataFrame, seeds: DataFrame, s: Long,
                   init: DataFrame, damping: Double, eps: Double,
                   maxRounds: Int): DataFrame = {
    val trans = transOf(all).persist(StorageLevel.MEMORY_AND_DISK)
    // out-degree per node (distinct neighbors)
    val degs = all.groupBy("src").agg(count(lit(1)).as("__deg"))
      .select(col("src").as("id"), col("__deg"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    def pushFlagged(df: DataFrame): DataFrame =
      df.join(degs, Seq("id"), "left")
        .select(col("id"), col("p"), col("r"),
          (abs(col("r")) >= lit(eps) *
            greatest(coalesce(col("__deg"), lit(1L))
              .cast("double"), lit(1.0))).as("__push"))
    try Fixpoint.iterate(s"forward push at eps=$eps", pushFlagged(init),
        maxRounds, Some("__push")) { state =>
      val active = state.where(col("__push"))
      // settled mass stays put; pushed residual zeroes out
      val settled = state.select(col("id"),
        when(col("__push"), col("p") + lit(1.0 - damping) * col("r"))
          .otherwise(col("p")).as("p"),
        when(col("__push"), lit(0.0)).otherwise(col("r")).as("r"))
      // d·r along the transition rows of pushing nodes
      val viaEdges = active
        .select(col("id").as("src"), col("r"))
        .join(trans, "src")
        .select(col("dst").as("id"),
          (lit(damping) * col("r") * col("p")).as("__dr"))
      // pushing nodes with NO out-edges forward their d·r to the seed
      // distribution (1 row → broadcast crossJoin, the global form's
      // dangling discipline)
      val dangMass = active
        .join(degs, Seq("id"), "left_anti")
        .agg(coalesce(sum("r"), lit(0.0)).as("__dang"))
      val toSeeds = seeds.crossJoin(broadcast(dangMass))
        .select(col("id"),
          (lit(damping) * col("__dang") / s).as("__dr"))
      val incoming = viaEdges.union(toSeeds)
        .groupBy("id").agg(sum("__dr").as("__dr"))
      pushFlagged(
        settled.join(incoming, Seq("id"), "full_outer")
          .select(col("id"),
            coalesce(col("p"), lit(0.0)).as("p"),
            (coalesce(col("r"), lit(0.0)) +
              coalesce(col("__dr"), lit(0.0))).as("r")))
    } finally { trans.unpersist(false); degs.unpersist(false) }
  }

  /** The delta body of both push stores: the stored (id, p, r) with an
    * edge batch's correction injected (the derivation is on
    * [[updateLocalPprStore]]), drained by [[push]] over the merged
    * edges. `teleport` maps the batch's formerly-dangling sources
    * (src, __pu) to the correction rows (id, dp, dr) of the teleport
    * side, which is the one place the two stores differ. Returns the
    * pushed (id, p, r), a checkpoint.
    */
  private def pushDelta(d: EdgeStore.Delta, seeds: DataFrame, s: Long,
                        damping: Double, eps: Double, maxRounds: Int)
                       (teleport: DataFrame => DataFrame): DataFrame = {
    val ratio = damping / (1.0 - damping)
    // sources whose transition row changes, with their mass
    val chg = d.added.groupBy("src").agg(sum("w").as("__wadd"))
      .join(d.old.groupBy("src").agg(sum("w").as("__wold")),
        Seq("src"), "left")
      .join(d.state.select(col("id").as("src"), col("p").as("__pu")),
        Seq("src"), "left")
      .select(col("src"),
        coalesce(col("__wold"), lit(0.0)).as("__wold"),
        col("__wadd"),
        coalesce(col("__pu"), lit(0.0)).as("__pu"))
      .where(col("__pu") =!= 0.0)
      .localCheckpoint(true)
    try {
      val hadOut = chg.where(col("__wold") > 0)
      val wasDang = chg.where(col("__wold") === 0)
      val adjSelf = hadOut.select(col("src").as("id"),
        (col("__pu") * col("__wadd") / col("__wold")).as("dp"),
        (-col("__pu") * col("__wadd") /
          (lit(1.0 - damping) * col("__wold"))).as("dr"))
      val adjNew = d.added.join(hadOut, Seq("src"))
        .select(col("dst").as("id"), lit(0.0).as("dp"),
          (lit(ratio) * col("__pu") * col("w") / col("__wold")).as("dr"))
      val adjDangNew = d.added.join(wasDang, Seq("src"))
        .select(col("dst").as("id"), lit(0.0).as("dp"),
          (lit(ratio) * col("__pu") * col("w") / col("__wadd")).as("dr"))
      val adj = adjSelf.unionAll(adjNew).unionAll(adjDangNew)
        .unionAll(teleport(wasDang))
        .groupBy("id").agg(sum("dp").as("dp"), sum("dr").as("dr"))
      val init = d.state.join(adj, Seq("id"), "full_outer")
        .select(col("id"),
          (coalesce(col("p"), lit(0.0)) +
            coalesce(col("dp"), lit(0.0))).as("p"),
          (coalesce(col("r"), lit(0.0)) +
            coalesce(col("dr"), lit(0.0))).as("r"))
      push(d.all, seeds, s, init, damping, eps, maxRounds)
        .select("id", "p", "r")
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(chg)
  }

  /** INCREMENTALLY-maintained local PPR — the delta engine for a link
    * graph that GROWS: rank state is kept as the forward-push pair
    * (estimate `p`, residual `r`) and an edge-batch append INJECTS
    * RESIDUAL exactly where the stored estimates now mis-allocate mass,
    * then drains it with the same [[push]] — work tracks the
    * batch's blast radius at tolerance `eps`, not the graph, where the
    * full [[personalizedPageRank]] re-pays whole-graph rounds per day.
    *
    * The correction (Ohsaka–Maehara–Kawarabayashi, "Efficient PageRank
    * Tracking in Evolving Networks", KDD 2015 — re-derived for weighted
    * transitions from the push invariant
    * `r = e_S − (1/α)(I − (1−α)Pᵀ)p`, α = 1−damping): for a source `u`
    * gaining edges (old out-weight W > 0, added weight ΔW, new edge
    * (u,w) of weight ŵ):
    *
    *  - `p(u) ← p(u)·(W+ΔW)/W` (the scale that cancels every old-edge
    *    term, keeping the update O(new edges), not O(deg u)),
    *  - `r(u) −= p(u)·ΔW / (α·W)`,
    *  - `r(w) += (d/α)·p(u)·ŵ/W` per new edge;
    *
    * a formerly-DANGLING source (W = 0) had the seed distribution as
    * its effective transition row (the push's dangling rule), so its
    * correction moves that mass instead: `r(w) += (d/α)·p(u)·ŵ/ΔW` per
    * new edge and `r(t) −= (d/α)·p(u)/s` per seed. Sources with
    * `p(u) = 0` (outside the settled neighborhood) need no correction —
    * the delta cost tracks the seeds' neighborhood. Residuals go SIGNED
    * here; [[push]] drains |r| and every row still prices itself
    * (`Σ|ppr − p| ≤ Σ|r|` by linearity — the `q_ppr_incremental_gap`
    * floor).
    *
    * Store: an [[EdgeStore]] of (src, dst, w) edges and an (id, p, r)
    * state pinned to its damping, whose crash contract, re-sent-edge rule
    * and heal apply here. Beside it, `seeds/` holds the seed set ∩ the
    * store's first graph, PINNED: the teleport distribution is part of
    * the state's identity, so later-arriving seeds don't enter it.
    *
    * Returns the updated (id, ppr, resid) — [[readLocalPprState]] serves
    * it later without recomputation.
    */
  def updateLocalPprStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String, newEdges: DataFrame,
                          srcCol: String, dstCol: String,
                          seeds: DataFrame, seedIdCol: String,
                          weightCol: Option[String] = None,
                          damping: Double = 0.85, eps: Double = 1e-4,
                          maxRounds: Int = 200): DataFrame = {
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    require(eps > 0.0, s"eps must be positive, got $eps")
    val batch = weightedEdges(newEdges, srcCol, dstCol, weightCol)
    val edgesPath = s"$storePath/edges"
    val seedsPath = s"$storePath/seeds"
    val noSeeds = "updateLocalPprStore needs >= 1 seed inside the graph"
    if (!new java.io.File(seedsPath).exists()) {
      // pin against the stored graph, or the batch at creation (a crash
      // before the pin landed re-pins from the same inputs)
      val graph =
        if (new java.io.File(edgesPath).exists()) spark.read.parquet(edgesPath)
        else batch
      val pin = seeds.select(col(seedIdCol).cast("long").as("id"))
        .distinct().join(nodesOf(graph), Seq("id"), "left_semi")
        .localCheckpoint(true)
      try {
        require(!pin.isEmpty, noSeeds)
        pin.write.mode("overwrite").parquet(seedsPath)
      } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(pin)
    }
    val pinned = spark.read.parquet(seedsPath)
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val s = pinned.count()
      require(s > 0, noSeeds)
      val ratio = damping / (1.0 - damping)
      EdgeStore.update(spark, storePath, batch, Seq("src", "dst"),
          pins = Map("damping" -> damping.toString))(
        all => push(all, pinned, s, seedMass(pinned, s), damping, eps,
          maxRounds).select("id", "p", "r"),
        d => pushDelta(d, pinned, s, damping, eps, maxRounds) { wasDang =>
          // a formerly-dangling source's seed-distribution row withdrawn
          val dangMass = wasDang
            .agg(coalesce(sum("__pu"), lit(0.0)).as("__m"))
          pinned.crossJoin(broadcast(dangMass))
            .select(col("id"), lit(0.0).as("dp"),
              (-lit(ratio) * col("__m") / s).as("dr"))
        })._1
        .select(col("id"), col("p").as("ppr"), col("r").as("resid"))
    } finally pinned.unpersist(false)
  }

  /** The stored (id, ppr, resid) of an incremental local-PPR store. */
  def readLocalPprState(spark: org.apache.spark.sql.SparkSession,
                        storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/state")
      .select(col("id"), col("p").as("ppr"), col("r").as("resid"))

  /** Uniform-teleport PageRank by forward push — [[pageRank]]'s answer
    * through the ACL machinery: seeds = EVERY node, so the teleport
    * distribution is 1/n everywhere and dangling mass routes uniformly,
    * exactly the power iteration's stochastic completion. Converges to
    * the same stationary vector the power iteration approaches; the
    * returned `resid` prices the remaining gap per row
    * (`Σ|rank − p| ≤ Σ|r|`). This is also [[updatePageRankStore]]'s
    * from-scratch reference — the `q_pagerank_incremental_gap` floor
    * compares the store against it.
    */
  def pageRankPush(edges: DataFrame, srcCol: String, dstCol: String,
                   weightCol: Option[String] = None,
                   damping: Double = 0.85, eps: Double = 1e-4,
                   maxRounds: Int = 200): DataFrame = {
    val nodes = edges
      .select(col(srcCol).cast("long").as("id"))
      .union(edges.select(col(dstCol).cast("long").as("id")))
      .where(col("id").isNotNull).distinct()
    localPersonalizedPageRank(edges, srcCol, dstCol, nodes, "id",
      weightCol, damping, eps, maxRounds)
  }

  /** INCREMENTALLY-maintained FULL-GRAPH PageRank — the uniform-teleport
    * twin of [[updateLocalPprStore]], closing the gap that the seeded
    * store left: [[pageRank]] re-pays whole-graph rounds per edge batch,
    * while this store folds a batch in work tracking the batch's blast
    * radius plus one O(n) residual bump.
    *
    * The complication uniform teleport adds over the pinned-seed store:
    * the teleport distribution is 1/n over the CURRENT node set, so a
    * batch that introduces new nodes changes e itself and the dangling
    * routing row of every still-dangling node. From the push invariant
    * `r = e − (1/α)(I − (1−α)Pᵀ)p` (α = 1−d, ratio = d/α), holding the
    * scaled p fixed, the batch injects:
    *
    *  - per source u gaining edges with old out-weight W > 0:
    *    `p(u) ← p(u)·(W+ΔW)/W`, `r(u) −= p(u)·ΔW/(α·W)`,
    *    `r(w) += ratio·p(u)·ŵ/W` per new edge (u,w) — unchanged from
    *    the seeded store (the scale cancels every old-edge term);
    *  - per formerly-DANGLING source (W = 0) with mass D_g = Σp(u):
    *    `r(w) += ratio·p(u)·ŵ/ΔW` per new edge, and the old uniform
    *    routing row is withdrawn: `r(v) −= ratio·D_g/n_old` for every
    *    old node v;
    *  - the TELEPORT + STILL-DANGLING shift, zero when no new nodes
    *    arrive: with D_s = Σp(u) over nodes dangling before AND after,
    *    every old node gets `r += (1 + ratio·D_s)·(1/n_new − 1/n_old)`
    *    and every new node gets `r += (1 + ratio·D_s)/n_new` — the
    *    e-change and the re-aimed uniform dangling rows, folded (both
    *    are uniform over the same sets).
    *
    * Residuals go signed; [[push]] drains |r| ≥ eps·deg and the
    * sub-threshold remainder is priced by the returned `resid`
    * (`‖rank − p‖₁ ≤ Σ|r|` by linearity). Mass check: Σp + Σr = 1
    * exactly (up to float) at every commit — spec-asserted.
    *
    * Store: an [[EdgeStore]] of (src, dst, w) edges and an (id, p, r)
    * state pinned to its damping, as [[updateLocalPprStore]]'s but with
    * no seeds pin (the teleport set IS the node set); its full body is a
    * [[pageRankPush]] over the merged edges.
    *
    * Returns the updated (id, rank, resid); [[readPageRankState]]
    * serves it later without recomputation.
    */
  def updatePageRankStore(spark: org.apache.spark.sql.SparkSession,
                          storePath: String, newEdges: DataFrame,
                          srcCol: String, dstCol: String,
                          weightCol: Option[String] = None,
                          damping: Double = 0.85, eps: Double = 1e-4,
                          maxRounds: Int = 200): DataFrame = {
    require(damping > 0.0 && damping < 1.0,
      s"damping must be in (0, 1), got $damping")
    require(eps > 0.0, s"eps must be positive, got $eps")
    import org.apache.spark.sql.GraftBridge.unpersistCheckpoint
    val ratio = damping / (1.0 - damping)
    def full(all: DataFrame): DataFrame = {
      val nodes = nodesOf(all).localCheckpoint(true)
      try {
        val n = nodes.count()
        require(n > 0, "updatePageRankStore needs >= 1 edge")
        push(all, nodes, n, seedMass(nodes, n), damping, eps, maxRounds)
          .select("id", "p", "r")
      } finally unpersistCheckpoint(nodes)
    }
    def delta(d: EdgeStore.Delta): DataFrame = {
      val nodesOld = nodesOf(d.old).localCheckpoint(true)
      val nodesAll = nodesOf(d.all).localCheckpoint(true)
      try {
        val nOld = nodesOld.count()
        val nAll = nodesAll.count()
        pushDelta(d, nodesAll, nAll, damping, eps, maxRounds) { wasDang =>
          // the two bounded scalars of the uniform corrections: mass on
          // sources that STOP being dangling (their old uniform row is
          // withdrawn) and mass on nodes dangling before AND after
          // (their uniform row re-aims at the grown node set)
          val dGain = wasDang
            .agg(coalesce(sum("__pu"), lit(0.0))).head().getDouble(0)
          val dStill = d.state.where(col("p") =!= 0.0)
            .join(d.all.select("src").distinct(),
              col("id") === col("src"), "left_anti")
            .agg(coalesce(sum("p"), lit(0.0))).head().getDouble(0)
          val kOld = (1.0 + ratio * dStill) * (1.0 / nAll - 1.0 / nOld) -
            ratio * dGain / nOld
          val kNew = (1.0 + ratio * dStill) / nAll
          nodesOld.select(col("id"), lit(0.0).as("dp"), lit(kOld).as("dr"))
            .unionAll(nodesAll.join(nodesOld, Seq("id"), "left_anti")
              .select(col("id"), lit(0.0).as("dp"), lit(kNew).as("dr")))
        }
      } finally {
        unpersistCheckpoint(nodesOld)
        unpersistCheckpoint(nodesAll)
      }
    }
    EdgeStore.update(spark, storePath,
        weightedEdges(newEdges, srcCol, dstCol, weightCol),
        Seq("src", "dst"), pins = Map("damping" -> damping.toString))(
        full, delta)._1
      .select(col("id"), col("p").as("rank"), col("r").as("resid"))
  }

  /** The stored (id, rank, resid) of an incremental PageRank store. */
  def readPageRankState(spark: org.apache.spark.sql.SparkSession,
                        storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/state")
      .select(col("id"), col("p").as("rank"), col("r").as("resid"))

  /** Degree/strength summary per node of the directed multigraph:
    * (id, out_deg, in_deg, out_w, in_w) — distinct-neighbor degrees and
    * summed edge weights, zero-filled for one-sided nodes. One grouped agg
    * per direction + one full-outer merge, all keyed on node id.
    */
  def degrees(edges: DataFrame, srcCol: String, dstCol: String,
              weightCol: Option[String] = None): DataFrame = {
    val w = weightCol.map(col(_).cast("double")).getOrElse(lit(1.0))
    val e = edges
      .select(col(srcCol).cast("long").as("src"),
        col(dstCol).cast("long").as("dst"), w.as("w"))
      .where(col("src").isNotNull && col("dst").isNotNull)
    val out = e.groupBy(col("src").as("id"))
      .agg(count_distinct(col("dst")).as("out_deg"), sum("w").as("out_w"))
    val in = e.groupBy(col("dst").as("id"))
      .agg(count_distinct(col("src")).as("in_deg"), sum("w").as("in_w"))
    out.join(in, Seq("id"), "full_outer")
      .select(col("id"),
        coalesce(col("out_deg"), lit(0L)).as("out_deg"),
        coalesce(col("in_deg"), lit(0L)).as("in_deg"),
        coalesce(col("out_w"), lit(0.0)).as("out_w"),
        coalesce(col("in_w"), lit(0.0)).as("in_w"))
  }

  /** Canonical simple-edge form: (lo < hi), self-loops out, distinct. */
  private def canonicalEdges(edges: DataFrame, srcCol: String,
                             dstCol: String): DataFrame =
    edges
      .select(col(srcCol).cast("long").as("a"),
        col(dstCol).cast("long").as("b"))
      .where(col("a").isNotNull && col("b").isNotNull &&
        col("a") =!= col("b"))
      .select(least(col("a"), col("b")).as("lo"),
        greatest(col("a"), col("b")).as("hi"))
      .distinct()

  /** Exact triangle count + global clustering coefficient of the
    * UNDIRECTED simple graph under `edges` (direction and multiplicity
    * dropped; self-loops ignored). One row `(nodes, edges, wedges,
    * triangles, global_clustering)` with clustering = 3·triangles /
    * wedges (wedges = Σ_v C(deg v, 2); null when wedge-free).
    *
    * Scale shape — the DEGREE-ORIENTATION trick (Chiba–Nishizeki;
    * "compact-forward"): each simple edge is oriented from its
    * lower-(degree, id) endpoint to the higher, so every triangle is
    * generated exactly once AND the oriented out-degree is O(√m) on any
    * graph — the wedge join below fans out Σ outdeg(v)² = O(m^1.5)
    * worst-case instead of the Σ deg(v)² a naive orientation pays,
    * which on a power-law graph (the shape web/co-occurrence graphs
    * take) is the difference between a hub node contributing C(10⁶, 2)
    * candidate wedges and C(√m, 2). Three shuffles total: the simple-
    * edge distinct, the wedge self-join on the pivot, and the closing
    * semi-join on (lo, hi) — all key-partitioned equi-joins, no
    * cartesian anywhere.
    */
  /** Simple-graph degrees of the canonical edge set. */
  private def degreesOf(e: DataFrame): DataFrame =
    e.select(col("lo").as("id"))
      .unionAll(e.select(col("hi").as("id")))
      .groupBy("id").agg(count(lit(1)).as("deg"))

  /** Degree-orientation of the canonical edge set: each edge from its
    * lower-(degree, id) endpoint `s` to the higher `d` — the shared
    * machinery of [[triangles]] and [[localClustering]]. */
  private def orientedOf(e: DataFrame, deg: DataFrame): DataFrame =
    e.join(deg.withColumnRenamed("id", "lo")
        .withColumnRenamed("deg", "dlo"), Seq("lo"))
      .join(deg.withColumnRenamed("id", "hi")
        .withColumnRenamed("deg", "dhi"), Seq("hi"))
      .select(
        when(col("dlo") < col("dhi") ||
            (col("dlo") === col("dhi") && col("lo") < col("hi")),
          struct(col("lo").as("s"), col("hi").as("d")))
          .otherwise(struct(col("hi").as("s"), col("lo").as("d")))
          .as("e"))
      .select(col("e.s").as("s"), col("e.d").as("d"))

  /** Closed wedges of the canonical edge set as (s, lo, hi) triangle
    * rows, each triangle exactly once (pivot s = its lowest-(deg, id)
    * corner; the e1.d < e2.d join condition yields the closing side in
    * canonical order). */
  private def closedWedges(e: DataFrame, oriented: DataFrame): DataFrame =
    oriented.as("e1")
      .join(oriented.as("e2"), col("e1.s") === col("e2.s") &&
        col("e1.d") < col("e2.d"))
      .select(col("e1.s").as("s"), col("e1.d").as("lo"),
        col("e2.d").as("hi"))
      .join(e, Seq("lo", "hi"), "left_semi")

  def triangles(edges: DataFrame, srcCol: String, dstCol: String)
      : DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = degreesOf(e)
    val tri = closedWedges(e, orientedOf(e, deg))
    val counts = tri.agg(count(lit(1)).as("triangles"))
    val base = e.agg(count(lit(1)).as("edges"))
    val degStats = deg.agg(count(lit(1)).as("nodes"),
      sum(col("deg") * (col("deg") - 1) / 2).as("wedges"))
    base.crossJoin(degStats).crossJoin(counts)
      .select(col("nodes"), col("edges"),
        col("wedges").cast("long").as("wedges"), col("triangles"),
        when(col("wedges") > 0,
          lit(3.0) * col("triangles") / col("wedges"))
          .as("global_clustering"))
  }

  /** Per-node triangle participation + LOCAL clustering coefficient —
    * the node-granular companion of [[triangles]]: for every node of
    * degree ≥ 2, `(id, deg, triangles, local_clustering)` with
    * coefficient = triangles(v) / C(deg v, 2) ∈ [0, 1] ("how much of a
    * clique is this node's neighborhood" — the community-core vs
    * bridge-hub signal curation priors read). Same degree-oriented
    * wedge join as the census; each closed wedge credits its THREE
    * corners via one explode + grouped count, so the per-node pass
    * costs one extra narrow aggregation over the O(triangles) closed
    * rows. Triangle-free nodes serve an explicit 0 / 0.0 (a bridge is
    * an answer, not an absence); degree-1 and isolated nodes are
    * excluded (no wedge to close — their coefficient is undefined).
    */
  def localClustering(edges: DataFrame, srcCol: String,
                      dstCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = degreesOf(e)
    val closed = closedWedges(e, orientedOf(e, deg))
    val perNode = closed
      .select(explode(array(col("s"), col("lo"), col("hi"))).as("id"))
      .groupBy("id").agg(count(lit(1)).as("triangles"))
    deg.where(col("deg") >= 2)
      .join(perNode, Seq("id"), "left")
      .select(col("id"), col("deg"),
        coalesce(col("triangles"), lit(0L)).as("triangles"),
        (coalesce(col("triangles"), lit(0L)) /
          (col("deg") * (col("deg") - 1) / lit(2.0)))
          .as("local_clustering"))
  }

  /** Coreness (k-core number) per node: the largest k such that the
    * node survives in the maximal subgraph of minimum degree k — the
    * graph-degeneracy signal separating deeply-embedded community cores
    * from peel-away periphery (spam farms and boilerplate mirrors sit
    * in dense cores; one-off pages peel at k = 1).
    *
    * Algorithm: the neighbor H-INDEX iteration (Lü et al., "The
    * H-index of a network node", Nature Communications 2016): start
    * c_v = deg(v); each round set c_v to the H-index of its neighbors'
    * current values (the largest h with ≥ h neighbors valued ≥ h);
    * the sequence is monotonically non-increasing and its fixpoint is
    * EXACTLY the coreness. Spark shape: one value-join + one per-node
    * window per round (c is monotone per node, so rounds are
    * idempotent to replay), each round one [[Fixpoint]] checkpoint.
    * Convergence is certified, not assumed: iteration stops when a
    * round changes nothing, and [[graft.ExtQueries]]'s `q_kcore_gap`
    * twin re-checks the fixpoint property over the final assignment
    * (c_v = H(neighbor c) everywhere — the exactness theorem's
    * condition) as a machine-enforced floor. Isolated nodes never
    * appear (no edges → no rows), degree-only nodes settle at their
    * true coreness in round one where possible.
    */
  def coreness(edges: DataFrame, srcCol: String, dstCol: String,
               maxRounds: Int = 0): DataFrame = {
    require(maxRounds >= 0, s"maxRounds=$maxRounds")
    val e = canonicalEdges(edges, srcCol, dstCol)
      .localCheckpoint(true)
    try {
      val sym = e.select(col("lo").as("id"), col("hi").as("nb"))
        .unionAll(e.select(col("hi").as("id"), col("lo").as("nb")))
      val deg = degreesOf(e).withColumnRenamed("deg", "c")
      // Round bound: peeling propagates ONE HOP per round, so the round
      // count is bounded by the graph's diameter — which on a perfectly
      // legitimate chain/ring graph is Θ(nodes), not a constant. The
      // auto default (maxRounds = 0) therefore scales with the node
      // count: max(200, #nodes) rounds can never hit the bound on a real
      // graph (the H sequence strictly decreases somewhere every
      // non-converged round, and values are bounded by n), while still
      // bounding a would-be-infinite loop if the monotonicity argument
      // were ever violated by a bug. Pass an explicit maxRounds only to
      // CAP latency on graphs whose diameter you know.
      val roundBound =
        if (maxRounds > 0) maxRounds
        else math.max(200L, deg.count()).min(Int.MaxValue.toLong).toInt
      // H-index of neighbor values: rank neighbors by value desc,
      // h = max over neighbors of min(value, rank)
      val w = Window.partitionBy("id").orderBy(col("nbc").desc, col("nb"))
      Fixpoint.iterate("coreness", deg, roundBound, Some("changed")) { c =>
        sym
          .join(c.select(col("id").as("nb"), col("c").as("nbc")), Seq("nb"))
          .withColumn("__rk", row_number().over(w))
          .groupBy("id")
          .agg(max(least(col("nbc"), col("__rk"))).as("c"))
          .join(c.select(col("id"), col("c").as("__prev")), Seq("id"))
          .select(col("id"), col("c"), (col("c") =!= col("__prev"))
            .as("changed"))
      }.select(col("id"), col("c").as("coreness"))
    } finally org.apache.spark.sql.GraftBridge.unpersistCheckpoint(e)
  }

  /** Link-prediction scores for NON-edges — the "which pairs are one
    * step from connecting" question behind related-item candidates and
    * graph-based hard-negative mining: every node pair sharing ≥
    * `minCommon` neighbors but NOT already adjacent, scored by common
    * neighbors, neighborhood Jaccard (common / |N(a) ∪ N(b)|) and
    * Adamic–Adar (Σ_w 1/ln(deg w) — rare shared neighbors weigh more
    * than hub co-membership, Adamic & Adar 2003). Exact and all-SQL, so
    * query rows carry full oracles.
    *
    * Cost is the UNORIENTED wedge join — Σ_w C(deg w, 2) rows, the
    * irreducible size of the common-neighbor evidence itself (every
    * scored pair must surface each shared neighbor once; the census's
    * degree-orientation trick doesn't apply because the output here IS
    * the per-pair aggregation, not a global count). `minCommon` prunes
    * after the pair aggregation; on hub-heavy graphs cap or pre-filter
    * pivot degrees if the evidence stream must be bounded.
    */
  def linkScores(edges: DataFrame, srcCol: String, dstCol: String,
                 minCommon: Long = 1L): DataFrame = {
    require(minCommon >= 1, s"minCommon=$minCommon")
    val e = canonicalEdges(edges, srcCol, dstCol)
    val deg = degreesOf(e)
    val sym = e.select(col("lo").as("w"), col("hi").as("n"))
      .unionAll(e.select(col("hi").as("w"), col("lo").as("n")))
    // each shared neighbor w of a candidate pair (x < y) is one wedge
    val wedges = sym.as("n1")
      .join(sym.as("n2"), col("n1.w") === col("n2.w") &&
        col("n1.n") < col("n2.n"))
      .select(col("n1.w").as("w"), col("n1.n").as("lo"),
        col("n2.n").as("hi"))
    val scored = wedges
      // pivot degree for the Adamic-Adar weight; a pivot has >= 2
      // neighbors by construction so ln(deg) > 0
      .join(deg.withColumnRenamed("id", "w")
        .withColumnRenamed("deg", "wdeg"), Seq("w"))
      .groupBy("lo", "hi")
      .agg(count(lit(1)).as("common_neighbors"),
        sum(lit(1.0) / log(col("wdeg"))).as("adamic_adar"))
      .where(col("common_neighbors") >= minCommon)
      // NON-edges only: an existing edge is a fact, not a prediction
      .join(e, Seq("lo", "hi"), "left_anti")
    scored
      .join(deg.withColumnRenamed("id", "lo")
        .withColumnRenamed("deg", "dlo"), Seq("lo"))
      .join(deg.withColumnRenamed("id", "hi")
        .withColumnRenamed("deg", "dhi"), Seq("hi"))
      .select(col("lo").as("a"), col("hi").as("b"),
        col("common_neighbors"),
        (col("common_neighbors") /
          (col("dlo") + col("dhi") - col("common_neighbors"))
          .cast("double")).as("jaccard"),
        col("adamic_adar"))
  }

  /** Incrementally-maintained triangle census — the batch-arrival form
    * of [[triangles]]: a store at `storePath` holds the canonical edge
    * set (`edges/`) plus one census row (`census/`), and each
    * [[updateTriangleCensus]] call folds a batch of new edges in for
    * O(m + |Δ|·deg) work (three node-keyed equi-joins of the NEW edges
    * against the store) instead of the O(m^1.5) wedge join a recount
    * pays — the [[Components.updateLabelStore]] discipline applied to
    * triangle counting.
    *
    * Correctness of the delta: a triangle gaining j ∈ {1,2,3} new edges
    * is counted j times by A (per-new-edge common-neighbor closures),
    * C(j,2) times by B (two-new-edge wedges closed in the full set) and
    * C(j,3) times by C (pure-new triangles); j − C(j,2) + C(j,3) = 1
    * for every j, so `A − B + C` counts each new triangle exactly once
    * (inclusion–exclusion over new-edge membership). Re-sent edges
    * dedupe against the store first, so replaying a batch is a no-op.
    *
    * Store: an [[EdgeStore]] of (lo, hi) edges whose state directory is
    * `census/`; its crash contract applies, and the full body is a
    * [[triangles]] recount of the merged edges. The returned row carries
    * a `mode` column (`incremental` / `recount` / `noop`) so callers and
    * tests can see which path ran; [[readTriangleCensus]] serves the
    * stored row without it.
    */
  def updateTriangleCensus(spark: org.apache.spark.sql.SparkSession,
                           storePath: String, newEdges: DataFrame,
                           srcCol: String, dstCol: String): DataFrame = {
    import spark.implicits._
    // nodes/edges/wedges from one degree scan of the merged set — O(m),
    // no joins; triangles is the only component worth maintaining
    def census(full: DataFrame, tri: Long): DataFrame = {
      val st = full.agg(count(lit(1)).as("edges"))
        .crossJoin(degreesOf(full).agg(count(lit(1)).as("nodes"),
          sum(col("deg") * (col("deg") - 1) / 2).as("wedges")))
        .head()
      val (nEdges, nNodes, wedges) = (st.getLong(0), st.getLong(1),
        if (st.isNullAt(2)) 0.0 else st.getDouble(2))
      Seq((nNodes, nEdges, wedges.toLong, tri,
          if (wedges > 0) Some(3.0 * tri / wedges) else None))
        .toDF("nodes", "edges", "wedges", "triangles", "global_clustering")
    }
    def trianglesOf(df: DataFrame): Long =
      df.select("triangles").head().getLong(0)
    def sym(f: DataFrame): DataFrame =
      f.select(col("lo").as("a"), col("hi").as("b"))
        .unionAll(f.select(col("hi").as("a"), col("lo").as("b")))
    val (st, mode) = EdgeStore.update(spark, storePath,
        canonicalEdges(newEdges, srcCol, dstCol), Seq("lo", "hi"),
        stateDir = "census")(
      all => census(all, trianglesOf(triangles(all, "lo", "hi"))),
      d => {
        // A: per new edge (lo, hi), its common neighbors in the merged
        // set — w adjacent to lo, with (w, hi) closing
        val a = d.added.as("d")
          .join(sym(d.all).as("n"), col("n.a") === col("d.lo") &&
            col("n.b") =!= col("d.hi"))
          .select(least(col("n.b"), col("d.hi")).as("lo"),
            greatest(col("n.b"), col("d.hi")).as("hi"))
          .join(d.all, Seq("lo", "hi"), "left_semi")
          .count()
        // B: wedges made of TWO new edges, closed by any merged edge
        val dsym = sym(d.added)
        val b = dsym.as("d1")
          .join(dsym.as("d2"), col("d1.a") === col("d2.a") &&
            col("d1.b") < col("d2.b"))
          .select(col("d1.b").as("lo"), col("d2.b").as("hi"))
          .join(d.all, Seq("lo", "hi"), "left_semi")
          .count()
        // C: triangles made of three new edges
        val c = trianglesOf(triangles(d.added, "lo", "hi"))
        census(d.all, trianglesOf(d.state) + (a - b + c))
      })
    st.withColumn("mode", lit(if (mode == "full") "recount" else mode))
  }

  /** The stored census row of an incremental triangle store. */
  def readTriangleCensus(spark: org.apache.spark.sql.SparkSession,
                         censusOrStorePath: String): DataFrame = {
    val p =
      if (new java.io.File(censusOrStorePath, "census").exists())
        s"$censusOrStorePath/census"
      else censusOrStorePath
    spark.read.parquet(p)
  }

  /** Community detection by synchronous LABEL PROPAGATION (Raghavan,
    * Albert & Kumara 2007) over the undirected simple graph: every node
    * starts in its own community and each round adopts the most frequent
    * label among its neighbors AND itself, ties to the smallest label —
    * both choices deterministic (the paper's random tie-break and
    * visit order are what make vanilla LPA unstable run-to-run; fixed
    * tie-break + synchronous rounds give the same partition every run on
    * the same data). Including the node's own label damps the 2-cycle
    * oscillation synchronous LPA is known for on bipartite-ish
    * structure; convergence is "no label changed", bounded by
    * `maxIters` (LPA converges in few rounds on modular graphs — near-
    * diameter rounds only on structureless ones, where any answer is as
    * good).
    *
    * Scale shape = [[graft.operators.Components.connectedComponents]]'s:
    * per round one equi-join (labels into edge endpoints), one
    * (id, label) count aggregate and one per-id argmax — all
    * key-partitioned shuffles, no cartesian; each round is one
    * [[Fixpoint]] checkpoint, probed on its `changed` column. Returns
    * (id, community) with community = the surviving shared label.
    */
  def labelPropagation(edges: DataFrame, srcCol: String, dstCol: String,
                       maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be positive, got $maxIters")
    val e = canonicalEdges(edges, srcCol, dstCol).localCheckpoint(true)
    val sym = e.unionAll(e.select(col("hi").as("lo"), col("lo").as("hi")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val init = sym.select(col("lo").as("id")).distinct()
      .select(col("id"), col("id").as("community"))
    try Fixpoint.iterate("labelPropagation", init, maxIters,
        Some("changed"), mustConverge = false) { labels =>
      // neighbor labels + the node's own (self-vote, the oscillation
      // damper)
      val votes = sym
        .join(labels.select(col("id").as("hi"),
          col("community").as("vote")), "hi")
        .select(col("lo").as("id"), col("vote"))
        .unionAll(labels.select(col("id"), col("community").as("vote")))
      revote(votes, labels).select(col("id"), col("community"),
        col("__new").isNotNull.as("changed"))
    }.select("id", "community")
    finally {
      sym.unpersist(false)
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(e)
    }
  }

  /** One synchronous LPA vote over (id, vote) rows: the most frequent
    * label wins, the smallest on ties. Returns `labels` with `__new`, the
    * winning label where it differs from the node's `community` (null
    * elsewhere). */
  private def revote(votes: DataFrame, labels: DataFrame): DataFrame = {
    val moved = votes
      .groupBy("id", "vote").agg(count(lit(1)).as("n"))
      .groupBy("id")
      .agg(max(struct(col("n"), (-col("vote")).as("nv"))).as("best"))
      .select(col("id"), (-col("best.nv")).as("__new"))
      .join(labels.select(col("id"), col("community").as("__old")),
        Seq("id"))
      .where(col("__new") =!= col("__old"))
      .select("id", "__new")
    labels.join(moved, Seq("id"), "left")
      .select(col("id"), coalesce(col("__new"), col("community"))
        .as("community"), col("__new"))
  }

  /** INCREMENTALLY-maintained LPA communities — the store discipline of
    * [[updatePageRankStore]] applied to [[labelPropagation]]: every
    * sibling graph operator (components, triangles, local PPR, full
    * PageRank) folds an edge batch at its blast radius, while the
    * from-scratch LPA re-propagates the whole graph per run. Here the
    * stored partition is a CONVERGED synchronous-LPA fixed point (no
    * node's argmax vote differs from its label), and an edge batch can
    * only break that fixed point where the batch changed a
    * neighborhood — so the delta pass seeds the stored labels (new
    * nodes start as their own community, LPA's initial state), puts
    * ONLY the batch's endpoints on the frontier, and each round
    * re-votes just the frontier's closed neighborhood: nodes whose
    * label flips become the next frontier, untouched regions never
    * re-vote (their neighbors' labels are unchanged, so their argmax is
    * unchanged — the fixed-point argument, not a heuristic). Same
    * deterministic tie-break (most frequent label among neighbors AND
    * self, smallest label on ties) as the full verb, so a converged
    * incremental state is itself a synchronous-LPA fixed point of the
    * merged graph.
    *
    * LPA fixed points are not unique — the incremental result can be a
    * DIFFERENT partition than from-scratch LPA on the merged graph
    * (both are valid fixed points); quality is priced by
    * [[modularity]], which is how the `q_communities_incremental_gap`
    * floor machine-checks the store (incremental Q within tolerance of
    * from-scratch Q). Seeding sensitivity, stated plainly: the store
    * matches from-scratch quality when batches arrive as GROWTH (new
    * nodes with their internal structure plus edges into the old
    * region — how a corpus link graph actually accretes); a batch
    * sequence that delivers a uniformly random EDGE sample of a denser
    * graph first seeds the store with the sparsified subgraph's
    * fragments, which are locally stable under any label dynamics —
    * re-running from scratch (delete `state/`) is the remedy there,
    * not a finer delta pass. If the stored state was cut off by `maxIters`
    * before converging, the delta pass still only improves it around
    * the batch (never worse than stored), matching the full verb's own
    * `maxIters` stance.
    *
    * Cost shape per batch: each round scans the persisted symmetric
    * edge frame once with a BROADCAST semi-join against the (bounded)
    * candidate set — no shuffle of the edge set, and the vote aggregate
    * is over the frontier's incident edges only; rounds track how far
    * the batch's influence actually travels. Store: an [[EdgeStore]] of
    * (lo, hi) edges and an (id, community) state; its crash contract
    * and re-sent-edge rule apply, and its full body is a
    * [[labelPropagation]] over the merged edges.
    *
    * Returns the updated (id, community);
    * [[readCommunityState]] serves it later without recomputation.
    */
  def updateCommunityStore(spark: org.apache.spark.sql.SparkSession,
                           storePath: String, newEdges: DataFrame,
                           srcCol: String, dstCol: String,
                           maxIters: Int = 20): DataFrame = {
    require(maxIters >= 1, s"maxIters must be positive, got $maxIters")
    def full(all: DataFrame): DataFrame = {
      require(!all.isEmpty, "updateCommunityStore needs >= 1 edge")
      labelPropagation(all, "lo", "hi", maxIters)
    }
    def delta(d: EdgeStore.Delta): DataFrame = {
      val sym = d.all
        .unionAll(d.all.select(col("hi").as("lo"), col("lo").as("hi")))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // blast radius: only the batch's endpoints saw their neighborhood
      // change — everything else is still at the stored fixed point;
      // new nodes start as their own community
      val frontier = d.added.select(col("lo").as("id"))
        .unionAll(d.added.select(col("hi").as("id"))).distinct()
        .select(col("id"), lit(true).as("__f"))
      val init = sym.select(col("lo").as("id")).distinct()
        .join(d.state, Seq("id"), "left")
        .join(frontier, Seq("id"), "left")
        .select(col("id"),
          coalesce(col("community"), col("id")).as("community"),
          coalesce(col("__f"), lit(false)).as("changed"))
      try Fixpoint.iterate("community frontier", init, maxIters,
          Some("changed"), mustConverge = false) { labels =>
        // the only argmaxes that can move: the frontier (the nodes the
        // last round relabeled) and its neighbors
        val front = labels.where(col("changed")).select("id")
        val cand = front.unionAll(
            sym.join(broadcast(front.select(col("id").as("hi"))), "hi")
              .select(col("lo").as("id")))
          .distinct()
        val votes = sym
          .join(broadcast(cand.select(col("id").as("lo"))), Seq("lo"),
            "left_semi")
          .join(labels.select(col("id").as("hi"),
            col("community").as("vote")), "hi")
          .select(col("lo").as("id"), col("vote"))
          .unionAll(labels.join(broadcast(cand), Seq("id"), "left_semi")
            .select(col("id"), col("community").as("vote")))
        revote(votes, labels.select("id", "community"))
          .select(col("id"), col("community"),
            col("__new").isNotNull.as("changed"))
      }.select("id", "community")
      finally sym.unpersist(false)
    }
    EdgeStore.update(spark, storePath,
      canonicalEdges(newEdges, srcCol, dstCol), Seq("lo", "hi"))(
      full, delta)._1
  }

  /** The stored (id, community) of an incremental LPA store. */
  def readCommunityState(spark: org.apache.spark.sql.SparkSession,
                         storePath: String): DataFrame =
    spark.read.parquet(s"$storePath/state")
      .select(col("id"), col("community"))

  /** Newman MODULARITY of a node partition over the undirected simple
    * graph: Q = Σ_c [ e_c/m − (d_c/2m)² ] with m simple edges, e_c
    * intra-community edges and d_c the community's degree sum — the
    * standard "is this partition better than chance" score (Q ≈ 0 for
    * random/trivial partitions, 0.3+ for real community structure), the
    * machine-checkable floor for [[labelPropagation]]'s otherwise
    * engine-specific labels. One row (communities, edges, intra_edges,
    * modularity). Cost: two broadcast-or-hash joins of the edge set
    * against the labels and two bounded aggregates.
    */
  def modularity(edges: DataFrame, srcCol: String, dstCol: String,
                 labels: DataFrame, idCol: String,
                 communityCol: String): DataFrame = {
    val e = canonicalEdges(edges, srcCol, dstCol)
    val l = labels.select(col(idCol).cast("long").as("__id"),
      col(communityCol).cast("long").as("__c"))
    val tagged = e
      .join(l.select(col("__id").as("lo"), col("__c").as("__clo")), "lo")
      .join(l.select(col("__id").as("hi"), col("__c").as("__chi")), "hi")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // d_c = Σ degrees in c, from the edge side (each simple edge
      // contributes 1 to each endpoint's community)
      val degByC = tagged.select(col("__clo").as("c"))
        .unionAll(tagged.select(col("__chi").as("c")))
        .groupBy("c").agg(count(lit(1)).cast("double").as("dc"))
      val intraByC = tagged.where(col("__clo") === col("__chi"))
        .groupBy(col("__clo").as("c"))
        .agg(count(lit(1)).cast("double").as("ec"))
      val m = tagged.count().toDouble
      degByC.join(intraByC, Seq("c"), "left")
        .select(col("c"), coalesce(col("ec"), lit(0.0)).as("ec"),
          col("dc"))
        .agg(count(lit(1)).as("communities"),
          sum(col("ec")).as("intra"),
          sum(col("ec") / m - (col("dc") / (2 * m)) *
            (col("dc") / (2 * m))).as("q"))
        .select(col("communities"), lit(m.toLong).as("edges"),
          col("intra").cast("long").as("intra_edges"),
          round(col("q"), 6).as("modularity"))
    } finally tagged.unpersist(false)
  }
}
