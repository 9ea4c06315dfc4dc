package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.Graph

class GraphSpec extends AnyFunSuite with SparkFixture {
  import spark.implicits._

  // A → B, B → A, B → C; C is DANGLING (no out-edges)
  private def triangle =
    Seq((1L, 2L), (2L, 1L), (2L, 3L)).toDF("src", "dst")

  test("pageRank: one hand-computed round, dangling mass redistributed, " +
      "ranks sum to 1") {
    // round 1 from uniform 1/3, d = 0.85, dangling mass = rank(C) = 1/3:
    //   base = 0.15/3 + 0.85·(1/9)           (dangling share 1/3 / 3)
    //   A: base + 0.85·(1/3 · 1/2)           (B → A at p = 1/2)
    //   B: base + 0.85·(1/3 · 1)             (A → B at p = 1)
    //   C: base + 0.85·(1/3 · 1/2)           (B → C at p = 1/2)
    val got = Graph.pageRank(triangle, "src", "dst", iterations = 1)
      .orderBy("id").as[(Long, Double)].collect().toSeq
    val base = 0.15 / 3 + 0.85 * (1.0 / 3 / 3)
    def close(a: Double, b: Double) = math.abs(a - b) < 1e-12
    assert(got.map(_._1) === Seq(1L, 2L, 3L))
    assert(close(got(0)._2, base + 0.85 * (1.0 / 3 / 2)))
    assert(close(got(1)._2, base + 0.85 * (1.0 / 3)))
    assert(close(got(2)._2, base + 0.85 * (1.0 / 3 / 2)))
    assert(close(got.map(_._2).sum, 1.0))
  }

  test("observedOrEmpty: an observation whose plan never executes times " +
      "out to empty (the explicit-scan fallback path)") {
    val obs = new org.apache.spark.sql.Observation
    // observe() attached but no action ever runs — the listener never
    // delivers; the bounded wait must return empty instead of blocking
    triangle.observe(obs, expr("bit_xor(xxhash64(src, dst))").as("__sig"))
    val t0 = System.nanoTime()
    val got = org.apache.spark.sql.GraftBridge.observedOrEmpty(obs, 100L)
    assert(got.isEmpty)
    assert((System.nanoTime() - t0) / 1e6 < 3000) // bounded, not forever
  }

  test("pageRank: probability mass is conserved across many rounds and " +
      "the hub outranks the spokes") {
    // star with back-edges: 1..4 → 5, 5 → 1 (so 5 is a hub, 2..4 get only
    // the teleport share)
    val star = Seq((1L, 5L), (2L, 5L), (3L, 5L), (4L, 5L), (5L, 1L))
      .toDF("src", "dst")
    val r = Graph.pageRank(star, "src", "dst", iterations = 20)
      .as[(Long, Double)].collect().toMap
    assert(math.abs(r.values.sum - 1.0) < 1e-9)
    assert(r(5L) > r(1L) && r(1L) > r(2L))
    assert(math.abs(r(2L) - r(3L)) < 1e-12) // symmetric spokes tie
  }

  test("pageRank: parallel edges coalesce — duplicated edge rows equal an " +
      "explicit weight column") {
    val dup = Seq((1L, 2L), (1L, 2L), (1L, 3L), (2L, 1L), (3L, 1L))
      .toDF("src", "dst")
    val weighted = Seq((1L, 2L, 2.0), (1L, 3L, 1.0), (2L, 1L, 1.0),
      (3L, 1L, 1.0)).toDF("src", "dst", "w")
    val a = Graph.pageRank(dup, "src", "dst", iterations = 7)
      .as[(Long, Double)].collect().toMap
    val b = Graph.pageRank(weighted, "src", "dst", Some("w"), iterations = 7)
      .as[(Long, Double)].collect().toMap
    assert(a.keySet === b.keySet)
    a.foreach { case (k, v) => assert(math.abs(v - b(k)) < 1e-12) }
  }

  test("degrees: distinct-neighbor degrees vs summed multi-edge weights, " +
      "zero-filled for one-sided nodes") {
    val got = Graph.degrees(triangle.union(Seq((1L, 2L)).toDF("src", "dst")),
        "src", "dst")
      .orderBy("id").as[(Long, Long, Long, Double, Double)].collect().toSeq
    assert(got === Seq(
      (1L, 1L, 1L, 2.0, 1.0),   // two 1→2 edges: out_deg 1, out_w 2
      (2L, 2L, 1L, 2.0, 2.0),
      (3L, 0L, 1L, 0.0, 1.0)))  // dangling: zero out side
  }

  test("pageRank: guardrails — empty edges, bad damping") {
    intercept[IllegalArgumentException] {
      Graph.pageRank(triangle, "src", "dst", damping = 1.0)
    }
    intercept[IllegalArgumentException] {
      Graph.pageRank(triangle.where("src < 0"), "src", "dst")
    }
  }

  test("triangles: exact census on hand-computed graphs — K4, a hub star " +
      "(zero triangles despite max wedges), direction/multiplicity/" +
      "self-loops dropped") {
    def census(edges: Seq[(Long, Long)]): (Long, Long, Long, Long) = {
      val r = Graph.triangles(edges.toDF("src", "dst"), "src", "dst")
        .collect().head
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    }
    // K4: 4 nodes, 6 edges, C(3,2)*4 = 12 wedges, 4 triangles,
    // clustering = 3*4/12 = 1.0
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(census(k4) === ((4L, 6L, 12L, 4L)))
    val k4c = Graph.triangles(k4.toDF("src", "dst"), "src", "dst")
      .collect().head.getDouble(4)
    assert(math.abs(k4c - 1.0) < 1e-12)
    // star: hub 0 to 10 spokes — 45 wedges, 0 triangles (the case the
    // degree orientation exists for: the hub pivots nothing because
    // every edge orients spoke -> hub)
    val star = (1L to 10L).map(i => (0L, i))
    assert(census(star) === ((11L, 10L, 45L, 0L)))
    // direction + duplicates + self-loops are graph noise, not edges
    val noisy = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (2L, 3L), (3L, 2L))
    assert(census(noisy) === ((3L, 3L, 3L, 1L)))
    // hub-heavy graph: triangle (1,2,3) plus hub 1 fanned to 50 leaves;
    // count stays exactly 1 — wedge fan-out at the hub never invents one
    val hubbed = Seq((1L, 2L), (2L, 3L), (1L, 3L)) ++
      (10L to 59L).map(i => (1L, i))
    assert(census(hubbed)._4 === 1L)
  }

  test("localClustering: hand-computed coefficients — K4 all-1.0, a " +
      "star hub is an explicit 0, degree-1 nodes are excluded, and a " +
      "triangle with a tail mixes correctly") {
    def byId(edges: Seq[(Long, Long)]): Map[Long, (Long, Long, Double)] =
      Graph.localClustering(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    val k4r = byId(k4)
    assert(k4r.size === 4)
    k4r.values.foreach { case (deg, tri, c) =>
      assert(deg === 3L && tri === 3L && math.abs(c - 1.0) < 1e-12)
    }
    // star: hub has 45 wedges, zero triangles — a bridge is an answer
    val star = (1L to 10L).map(i => (0L, i))
    val starR = byId(star)
    assert(starR.keySet === Set(0L), "spokes (deg 1) are excluded")
    assert(starR(0L) === ((10L, 0L, 0.0)))
    // triangle {1,2,3} with tail 3-4: nodes 1,2 coefficient 1.0;
    // node 3 has deg 3 (3 wedges, 1 triangle) -> 1/3; node 4 excluded
    val tail = Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L))
    val tailR = byId(tail)
    assert(tailR(1L)._3 === 1.0 && tailR(2L)._3 === 1.0)
    assert(math.abs(tailR(3L)._3 - 1.0 / 3.0) < 1e-12)
    assert(!tailR.contains(4L))
  }

  test("linkScores: 4-cycle diagonals score common=2 with full " +
      "neighborhood Jaccard, existing edges are never predicted, " +
      "Adamic-Adar favors rare shared neighbors") {
    // cycle 1-2-3-4-1: non-edges (1,3) and (2,4), each sharing both
    // cycle neighbors; all degrees 2 so AA = 2/ln 2
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    val r = Graph.linkScores(cyc.toDF("src", "dst"), "src", "dst")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        ((x.getLong(2), x.getDouble(3), x.getDouble(4)))).toMap
    assert(r.keySet === Set((1L, 3L), (2L, 4L)))
    r.values.foreach { case (c, j, aa) =>
      assert(c === 2L && math.abs(j - 1.0) < 1e-12 &&
        math.abs(aa - 2.0 / math.log(2.0)) < 1e-12)
    }
    // K4 is complete: nothing left to predict
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(Graph.linkScores(k4.toDF("src", "dst"), "src", "dst")
      .isEmpty)
    // hub vs rare evidence: x and y share hub h (deg 5) and rare w
    // (deg 2); z and y share ONLY the hub — AA must rank (x,y) above
    // (y,z) even at equal... here common differs too, so check AA values
    val g = Seq((10L, 1L), (10L, 2L), (10L, 3L), (10L, 4L), (10L, 5L),
      (11L, 1L), (11L, 2L))
    val rr = Graph.linkScores(g.toDF("src", "dst"), "src", "dst")
      .collect().map(x => (x.getLong(0), x.getLong(1)) ->
        x.getDouble(4)).toMap
    // (1,2) share hub 10 (deg 5) AND rare 11 (deg 2): AA = 1/ln5 + 1/ln2
    assert(math.abs(rr((1L, 2L)) -
      (1.0 / math.log(5.0) + 1.0 / math.log(2.0))) < 1e-12)
    // (1,3) share only the hub: AA = 1/ln5 — the rare co-neighbor is
    // worth more than the hub co-membership
    assert(math.abs(rr((1L, 3L)) - 1.0 / math.log(5.0)) < 1e-12)
    assert(rr((1L, 2L)) > rr((1L, 3L)))
  }

  test("personalized PageRank: hand-computed two-node chain, mass " +
      "conservation, locality (seed side outranks the far side on a " +
      "barbell), out-of-graph seeds ignored, no in-graph seed fails") {
    def ppr(edges: Seq[(Long, Long)], seeds: Seq[Long],
            iters: Int): Map[Long, Double] =
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          seeds.toDF("id"), "id", iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // chain 1 -> 2, seed {1}, one round, d = 0.85:
    //   node 1 (seed, no in-edges): 0.15/1 + 0.85*(0 + dang/1); dang = 0
    //     (node 2 holds 0 at r0 and is the only dangling node) = 0.15
    //   node 2: 0.85 * (r0(1) * 1.0) = 0.85
    val chain = ppr(Seq((1L, 2L)), Seq(1L), iters = 1)
    assert(math.abs(chain(1L) - 0.15) < 1e-12)
    assert(math.abs(chain(2L) - 0.85) < 1e-12)
    // mass conservation: sums to 1 every round (dangling mass recycled)
    val rnd = new scala.util.Random(41)
    val edges = (for {
      a <- 1L to 15L; b <- 1L to 15L
      if a != b && rnd.nextDouble() < 0.15
    } yield (a, b)).toSeq
    val m = ppr(edges, Seq(1L, 2L, 3L), iters = 7)
    assert(math.abs(m.values.sum - 1.0) < 1e-9)
    // locality on a barbell: two 3-cliques bridged by one edge — seeding
    // clique A must rank every A node above every B node
    val cliqueA = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L))
    val cliqueB = Seq((11L, 12L), (12L, 11L), (12L, 13L), (13L, 12L),
      (11L, 13L), (13L, 11L))
    val barbell = cliqueA ++ cliqueB ++ Seq((3L, 11L), (11L, 3L))
    val bb = ppr(barbell, Seq(1L), iters = 10)
    assert(Seq(1L, 2L, 3L).map(bb).min > Seq(11L, 12L, 13L).map(bb).max)
    // out-of-graph seeds are ignored; all-out-of-graph fails loudly
    val withGhost = ppr(Seq((1L, 2L)), Seq(1L, 999L), iters = 1)
    assert(math.abs(withGhost(1L) - 0.15) < 1e-12)
    intercept[IllegalArgumentException] {
      ppr(Seq((1L, 2L)), Seq(999L), iters = 1)
    }
  }

  test("local (forward-push) PPR: the ACL invariant vs the global form " +
      "— pointwise lower bound and L1 gap within the returned residual " +
      "— on random graphs with dangling nodes; work stays in the seed " +
      "neighborhood on a disconnected graph; eps guardrails") {
    def push(edges: Seq[(Long, Long)], seeds: Seq[Long], eps: Double)
        : Map[Long, (Double, Double)] =
      Graph.localPersonalizedPageRank(edges.toDF("src", "dst"),
          "src", "dst", seeds.toDF("id"), "id", eps = eps)
        .collect()
        .map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    def full(edges: Seq[(Long, Long)], seeds: Seq[Long], iters: Int)
        : Map[Long, Double] =
      Graph.personalizedPageRank(edges.toDF("src", "dst"), "src", "dst",
          seeds.toDF("id"), "id", iterations = iters)
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val rnd = new scala.util.Random(43)
    // multi-seed set (the single-seed algebra is the s=1 case of the
    // same chain — the disconnected-clique check below exercises it)
    for (seed <- Seq(Seq(1L, 2L, 3L))) {
      // random digraph with guaranteed dangling nodes (no out-edges from
      // 14, 15): the dangling→seed routing must match the global chain
      val edges = (for {
        a <- 1L to 13L; b <- 1L to 15L
        if a != b && rnd.nextDouble() < 0.2
      } yield (a, b)).toSeq
      val p = push(edges, seed, eps = 1e-5)
      val f = full(edges, seed, iters = 80) // d^80 ~ 2e-6 truncation
      val residSum = p.values.map(_._2).sum
      val ids = (p.keySet ++ f.keySet).toSeq
      val l1 = ids.map(id =>
        math.abs(f.getOrElse(id, 0.0) - p.get(id).map(_._1).getOrElse(0.0)))
        .sum
      assert(l1 <= residSum + 1e-4, s"L1 $l1 vs resid $residSum")
      // p is a pointwise LOWER bound (modulo the full form's truncation)
      ids.foreach { id =>
        assert(p.get(id).map(_._1).getOrElse(0.0)
          <= f.getOrElse(id, 0.0) + 1e-4)
      }
      // estimate+residual mass is conserved at 1
      assert(math.abs(p.values.map(t => t._1 + t._2).sum - 1.0) < 1e-9)
    }
    // locality: on two disconnected cliques, seeding one must leave the
    // other untouched — no row at all for the far component
    val cliqueA = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L), (1L, 3L),
      (3L, 1L))
    val cliqueB = Seq((11L, 12L), (12L, 11L))
    val loc = push(cliqueA ++ cliqueB, Seq(1L), eps = 1e-7)
    assert(loc.keySet === Set(1L, 2L, 3L))
    intercept[IllegalArgumentException] {
      push(Seq((1L, 2L)), Seq(999L), eps = 1e-4) // no in-graph seed
    }
    intercept[IllegalArgumentException] {
      Graph.localPersonalizedPageRank(Seq((1L, 2L)).toDF("src", "dst"),
        "src", "dst", Seq(1L).toDF("id"), "id", eps = 0.0)
    }
  }

  test("incremental local PPR (delta push): batched updates land within " +
      "the residual bound of a from-scratch push — including a source " +
      "that gains its FIRST out-edges (formerly dangling) and a source " +
      "whose out-weight grows; replaying a batch is a no-op; a lost " +
      "state heals to the fresh answer") {
    import graft.operators.Graph
    val store = java.nio.file.Files.createTempDirectory("ppr_store")
      .resolve("st").toString
    // batch 1: a ring over 1..8 plus spokes into 9 (9 stays DANGLING),
    // seeds {1, 5}
    val b1 = ((1L to 8L).map(i => (i, i % 8 + 1)) ++
      Seq((2L, 9L), (6L, 9L))).toDF("src", "dst")
    // batch 2: 9 gains its first out-edges (the wasDangling branch),
    // 1 gains an extra out-edge (the hadOut branch), plus a brand-new
    // pair between nodes the state never touched deeply
    val b2 = Seq((9L, 1L), (9L, 5L), (1L, 6L), (7L, 3L))
      .toDF("src", "dst")
    val seeds = Seq(1L, 5L).toDF("id")
    val eps = 1e-5
    Graph.updateLocalPprStore(spark, store, b1, "src", "dst", seeds,
      "id", eps = eps)
    val inc = Graph.updateLocalPprStore(spark, store, b2, "src", "dst",
        seeds, "id", eps = eps)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val full = ((1L to 8L).map(i => (i, i % 8 + 1)) ++
      Seq((2L, 9L), (6L, 9L), (9L, 1L), (9L, 5L), (1L, 6L), (7L, 3L)))
      .toDF("src", "dst")
    val fs = Graph.localPersonalizedPageRank(full, "src", "dst", seeds,
        "id", eps = eps)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val ids = (inc.keySet ++ fs.keySet).toSeq
    val l1 = ids.map(id => math.abs(
      inc.get(id).map(_._1).getOrElse(0.0) -
        fs.get(id).map(_._1).getOrElse(0.0))).sum
    val bound = inc.values.map(t => math.abs(t._2)).sum +
      fs.values.map(t => math.abs(t._2)).sum
    assert(l1 <= bound + 1e-9, s"L1 $l1 vs residual bound $bound")
    // the bound is also TIGHT enough to mean something at this eps
    assert(l1 < 0.05, s"delta push drifted: L1 $l1")
    // replaying batch 2 is a no-op: same state back
    val replay = Graph.updateLocalPprStore(spark, store, b2, "src",
        "dst", seeds, "id", eps = eps)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(replay === inc)
    // damping drift fails loudly
    intercept[IllegalArgumentException] {
      Graph.updateLocalPprStore(spark, store,
        Seq((3L, 9L)).toDF("src", "dst"), seeds = seeds,
        srcCol = "src", dstCol = "dst", seedIdCol = "id",
        damping = 0.5, eps = eps)
    }
    // crash heal: state lost (edges intact) → the next update re-pushes
    // from scratch over the merged edges and lands within bound of fs
    graft.sources.Compaction.rm(new java.io.File(s"$store/state"))
    val healed = Graph.updateLocalPprStore(spark, store,
        b2, "src", "dst", seeds, "id", eps = eps) // re-sent pairs dedupe
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val l1h = (healed.keySet ++ fs.keySet).toSeq.map(id => math.abs(
      healed.get(id).map(_._1).getOrElse(0.0) -
        fs.get(id).map(_._1).getOrElse(0.0))).sum
    assert(l1h <= healed.values.map(t => math.abs(t._2)).sum +
      fs.values.map(t => math.abs(t._2)).sum + 1e-9)
  }

  test("incremental local PPR: edges AHEAD of state (a crash between the " +
      "edges append and the state install — the only window the " +
      "edges-first write order can leave) heals to the full-union " +
      "answer; the crashed batch's edges are never dropped") {
    import graft.operators.Graph
    val store = java.nio.file.Files.createTempDirectory("ppr_crash")
      .resolve("st").toString
    val seeds = Seq(1L).toDF("id")
    val eps = 1e-5
    val b1 = (1L to 6L).map(i => (i, i % 6 + 1)).toDF("src", "dst")
    Graph.updateLocalPprStore(spark, store, b1, "src", "dst", seeds,
      "id", eps = eps)
    // simulate the crash: batch 2's canonical rows reach the edge store
    // but the state install never runs
    val b2 = Seq((2L, 5L), (6L, 3L))
    b2.map { case (s0, d0) => (s0, d0, 1.0) }.toDF("src", "dst", "w")
      .write.mode("append").parquet(s"$store/edges")
    // the NEXT delivery is a DIFFERENT batch — under the old
    // state-first order this was the silent-loss window; now the
    // signature mismatch (state covers neither disk nor disk ∪ delta)
    // full-heals over everything delivered
    val b3 = Seq((4L, 1L)).toDF("src", "dst")
    val healed = Graph.updateLocalPprStore(spark, store, b3, "src",
        "dst", seeds, "id", eps = eps)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val fresh = Graph.localPersonalizedPageRank(
        ((1L to 6L).map(i => (i, i % 6 + 1)) ++ b2 ++ Seq((4L, 1L)))
          .toDF("src", "dst"),
        "src", "dst", seeds, "id", eps = eps)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(healed.keySet === fresh.keySet)
    healed.keySet.foreach { id =>
      assert(math.abs(healed(id)._1 - fresh(id)._1) < 1e-9,
        s"node $id: healed ${healed(id)._1} vs fresh ${fresh(id)._1}")
    }
    // and the edge store holds the union — nothing dropped
    assert(spark.read.parquet(s"$store/edges").count() === 9L)
  }

  test("incremental full-graph PageRank (uniform teleport): batched " +
      "updates land within the residual bound of a from-scratch push — " +
      "including NEW NODES (the teleport re-aim), a formerly-dangling " +
      "source, and a growing source; mass is conserved; replay is a " +
      "no-op; push equals the power iteration on a hand graph") {
    import graft.operators.Graph
    // anchor: the uniform push and the power iteration approximate the
    // same stationary vector (triangle + a dangler)
    val tri = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 4L)).toDF("src", "dst")
    val push = Graph.pageRankPush(tri, "src", "dst", eps = 1e-7)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val power = Graph.pageRank(tri, "src", "dst", iterations = 60)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val pushResid = push.values.map(t => math.abs(t._2)).sum
    power.foreach { case (id, rank) =>
      assert(math.abs(push(id)._1 - rank) <= pushResid + 1e-6,
        s"node $id: push ${push(id)._1} vs power $rank")
    }
    // the store: ring 1..8 with spokes into dangling 9
    val store = java.nio.file.Files.createTempDirectory("pr_store")
      .resolve("st").toString
    val b1 = ((1L to 8L).map(i => (i, i % 8 + 1)) ++
      Seq((2L, 9L), (6L, 9L))).toDF("src", "dst")
    val s1 = Graph.updatePageRankStore(spark, store, b1, "src", "dst",
        eps = 1e-5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    def mass(m: Map[Long, (Double, Double)]): Double =
      m.values.map(t => t._1 + t._2).sum
    assert(math.abs(mass(s1) - 1.0) < 1e-9,
      s"mass after batch 1: ${mass(s1)}")
    // batch 2: 9 gains its first out-edges (wasDangling), 1 grows
    // (hadOut), and nodes 10/11 are NEW — n changes, so every old
    // node's teleport shifts and still-dangling mass re-aims
    val b2 = Seq((9L, 1L), (9L, 5L), (1L, 6L), (3L, 10L), (10L, 11L),
      (11L, 10L)).toDF("src", "dst")
    val inc = Graph.updatePageRankStore(spark, store, b2, "src", "dst",
        eps = 1e-5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(inc.keySet === (1L to 11L).toSet, "state must cover new nodes")
    assert(math.abs(mass(inc) - 1.0) < 1e-9,
      s"mass after batch 2: ${mass(inc)}")
    val full = ((1L to 8L).map(i => (i, i % 8 + 1)) ++
      Seq((2L, 9L), (6L, 9L), (9L, 1L), (9L, 5L), (1L, 6L), (3L, 10L),
        (10L, 11L), (11L, 10L))).toDF("src", "dst")
    val fs = Graph.pageRankPush(full, "src", "dst", eps = 1e-5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val l1 = (inc.keySet ++ fs.keySet).toSeq.map(id => math.abs(
      inc.get(id).map(_._1).getOrElse(0.0) -
        fs.get(id).map(_._1).getOrElse(0.0))).sum
    val bound = inc.values.map(t => math.abs(t._2)).sum +
      fs.values.map(t => math.abs(t._2)).sum
    assert(l1 <= bound + 1e-9, s"L1 $l1 vs residual bound $bound")
    assert(l1 < 0.05, s"delta push drifted: L1 $l1")
    // replay of batch 2 is a no-op
    val replay = Graph.updatePageRankStore(spark, store, b2, "src",
        "dst", eps = 1e-5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(replay === inc)
    // served without recomputation
    assert(Graph.readPageRankState(spark, store)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap === inc)
    // damping pin
    intercept[IllegalArgumentException] {
      Graph.updatePageRankStore(spark, store,
        Seq((3L, 9L)).toDF("src", "dst"), "src", "dst", damping = 0.5,
        eps = 1e-5)
    }
    // edges-ahead-of-state crash heals without dropping the batch
    Seq((5L, 9L, 1.0)).toDF("src", "dst", "w")
      .write.mode("append").parquet(s"$store/edges")
    val healed = Graph.updatePageRankStore(spark, store,
        Seq((7L, 2L)).toDF("src", "dst"), "src", "dst", eps = 1e-5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    val freshAll = Graph.pageRankPush(
        full.unionAll(Seq((5L, 9L), (7L, 2L)).toDF("src", "dst")),
        "src", "dst", eps = 1e-5)
      .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getDouble(2)))
      .toMap
    assert(healed.keySet === freshAll.keySet)
    healed.keySet.foreach { id =>
      assert(math.abs(healed(id)._1 - freshAll(id)._1) < 1e-9,
        s"node $id: healed ${healed(id)._1} vs fresh ${freshAll(id)._1}")
    }
  }

  test("coreness: hand cases (K4=3, cycle=2, star=1) and a randomized " +
      "law — the H-index fixpoint equals brute-force min-degree peeling") {
    def served(edges: Seq[(Long, Long)]): Map[Long, Long] =
      Graph.coreness(edges.toDF("src", "dst"), "src", "dst")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // brute peel: repeatedly remove a min-degree node; coreness = the
    // running max of the min degree at removal time
    def brute(edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val simple = edges.filter(e => e._1 != e._2)
        .map(e => (math.min(e._1, e._2), math.max(e._1, e._2))).distinct
      val adj = scala.collection.mutable.Map[Long,
        scala.collection.mutable.Set[Long]]()
      simple.foreach { case (a, b) =>
        adj.getOrElseUpdate(a, scala.collection.mutable.Set()) += b
        adj.getOrElseUpdate(b, scala.collection.mutable.Set()) += a
      }
      val core = scala.collection.mutable.Map[Long, Long]()
      var k = 0L
      while (adj.nonEmpty) {
        val v = adj.minBy { case (id, ns) => (ns.size, id) }._1
        k = math.max(k, adj(v).size.toLong)
        core(v) = k
        adj(v).foreach(u => adj(u) -= v)
        adj -= v
      }
      core.toMap
    }
    val k4 = for (i <- 1L to 4L; j <- (i + 1) to 4L) yield (i, j)
    assert(served(k4) === (1L to 4L).map(_ -> 3L).toMap)
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L))
    assert(served(cyc) === (1L to 4L).map(_ -> 2L).toMap)
    val star = (1L to 6L).map(i => (0L, i))
    assert(served(star) === ((0L to 6L).map(_ -> 1L).toMap))
    val rnd = new scala.util.Random(19)
    (1 to 3).foreach { trial =>
      val edges = (for {
        a <- 1L to 20L; b <- (a + 1) to 20L
        if rnd.nextDouble() < 0.2 + 0.1 * trial
      } yield (a, b)).toSeq
      assert(served(edges) === brute(edges),
        s"trial $trial diverged from brute peeling")
    }
    // round-bound contract: peeling propagates one hop per round, so a
    // legitimate long path needs ~diameter/2 rounds — an explicit cap
    // below that fails LOUDLY (no silent wrong answer), and the auto
    // bound (maxRounds = 0 → max(200, nodes)) converges on any graph
    val path = (1L until 12L).map(i => (i, i + 1))
    val capped = intercept[IllegalStateException] {
      Graph.coreness(path.toDF("src", "dst"), "src", "dst", maxRounds = 2)
        .collect()
    }
    assert(capped.getMessage.contains("coreness did not converge"))
    assert(served(path) === (1L to 12L).map(_ -> 1L).toMap)
  }

  test("incremental triangle census: randomized law — batched folds " +
      "equal the one-shot recount; replay is a noop; a stale census " +
      "(crash between edges append and census swap) heals by recount") {
    import java.nio.file.Files
    val rnd = new scala.util.Random(7)
    (1 to 3).foreach { trial =>
      val store = Files.createTempDirectory(s"tri_store_$trial")
        .resolve("s").toString
      val n = 24
      val edges = (for {
        a <- 1L to n; b <- (a + 1) to n
        if rnd.nextDouble() < 0.18
      } yield (a, b)) ++ Seq((3L, 2L), (2L, 3L), (5L, 5L)) // noise
      val shuffled = rnd.shuffle(edges)
      val batches = shuffled.grouped(math.max(1, shuffled.size / 3)).toSeq
      var last: org.apache.spark.sql.Row = null
      batches.foreach { b =>
        last = Graph.updateTriangleCensus(spark, store,
          b.toDF("src", "dst"), "src", "dst").collect().head
      }
      val oneShot = Graph.triangles(shuffled.toDF("src", "dst"),
        "src", "dst").collect().head
      Seq("nodes", "edges", "wedges", "triangles").foreach { c =>
        assert(last.getLong(last.fieldIndex(c)) ===
          oneShot.getLong(oneShot.fieldIndex(c)),
          s"trial $trial: $c diverged from the one-shot recount")
      }
      // replaying the last batch changes nothing
      val replay = Graph.updateTriangleCensus(spark, store,
        batches.last.toDF("src", "dst"), "src", "dst").collect().head
      assert(replay.getString(replay.fieldIndex("mode")) === "noop")
      assert(replay.getLong(replay.fieldIndex("triangles")) ===
        last.getLong(last.fieldIndex("triangles")))
      // simulate the crash window: edges land without the census swap
      val extra = Seq((100L, 101L), (100L, 102L), (101L, 102L))
      extra.toDF("lo", "hi").write.mode("append")
        .parquet(s"$store/edges")
      val healed = Graph.updateTriangleCensus(spark, store,
        Seq((100L, 103L)).toDF("src", "dst"), "src", "dst")
        .collect().head
      assert(healed.getString(healed.fieldIndex("mode")) === "recount",
        "a stale census must heal by recount, not compound")
      val expect = Graph.triangles(
        (shuffled ++ extra ++ Seq((100L, 103L))).toDF("src", "dst"),
        "src", "dst").collect().head
      assert(healed.getLong(healed.fieldIndex("triangles")) ===
        expect.getLong(expect.fieldIndex("triangles")))
    }
  }

  test("retention: hand-computed cohort matrix — first day cohorts, " +
      "duplicate events collapse, offsets beyond the horizon drop") {
    import java.sql.Timestamp
    def ts(day: Int, h: Int = 9) =
      Timestamp.valueOf(f"2024-01-$day%02d $h%02d:00:00")
    // u1: days 1,2,9 (offset 8 beyond a 7-day horizon — dropped)
    // u2: days 1,2 with a duplicate on day 2 (collapses)
    // u3: day 2 only (its own cohort)
    val events = Seq(
      (1L, ts(1)), (1L, ts(2)), (1L, ts(9)),
      (2L, ts(1)), (2L, ts(2, 8)), (2L, ts(2, 20)),
      (3L, ts(2))).toDF("user_id", "ts")
    val r = graft.operators.Funnel.retention(events, "user_id", "ts", 7)
      .collect().map(x => (x.getDate(0).toString, x.getInt(1),
        x.getLong(2))).toSeq
    assert(r === Seq(
      ("2024-01-01", 0, 2L), ("2024-01-01", 1, 2L),
      ("2024-01-02", 0, 1L)))
  }

  test("labelPropagation: two bridged cliques resolve to exactly their " +
      "two communities, deterministically; modularity matches the " +
      "hand-computed value and zeroes on the trivial partition") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val edges = (clique(1L to 5L) ++ clique(11L to 15L) :+ ((5L, 11L)))
      .toDF("src", "dst")
    val part = Graph.labelPropagation(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert((1L to 5L).map(part).toSet.size === 1, part)
    assert((11L to 15L).map(part).toSet.size === 1, part)
    assert(part(1L) !== part(11L), part)
    // deterministic: same partition on a re-run (the fixed tie-break —
    // vanilla LPA's random tie-break is exactly what this forbids)
    val again = Graph.labelPropagation(edges, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(again === part)
    // modularity, by hand: m = 21, e_c = 10 each, d_c = 21 each
    //   Q = 2·(10/21 − (21/42)²) = 0.452381
    val labels = part.toSeq.toDF("id", "community")
    val q = Graph.modularity(edges, "src", "dst", labels,
      "id", "community").collect().head
    assert(q.getLong(0) === 2L)       // communities
    assert(q.getLong(1) === 21L)      // simple edges
    assert(q.getLong(2) === 20L)      // intra
    assert(math.abs(q.getDouble(3) - 0.452381) < 1e-6)
    // the trivial one-community partition scores exactly 0
    val trivial = part.keys.map(k => (k, 0L)).toSeq.toDF("id", "community")
    val q0 = Graph.modularity(edges, "src", "dst", trivial,
      "id", "community").collect().head
    assert(math.abs(q0.getDouble(3)) < 1e-12)
    // direction and multiplicity are dropped like every graph op here
    val noisy = edges.unionAll(edges.select(col("dst").as("src"),
      col("src").as("dst")))
    val qn = Graph.modularity(noisy, "src", "dst", labels,
      "id", "community").collect().head
    assert(qn.getLong(1) === 21L && math.abs(
      qn.getDouble(3) - q.getDouble(3)) < 1e-12)
  }

  test("updateCommunityStore: creation matches from-scratch LPA, a " +
      "strengthened bridge batch MERGES two communities through the " +
      "frontier pass, re-sent batches no-op, edges-ahead-of-state heals") {
    import spark.implicits._
    def clique(ids: Seq[Long]) =
      for (a <- ids; b <- ids if a < b) yield (a, b)
    val store = java.nio.file.Files.createTempDirectory("lpa_store")
      .resolve("st").toString
    // day 1: a 5-clique and a detached pair
    val b1 = (clique(1L to 5L) :+ ((11L, 12L))).toDF("src", "dst")
    val m1 = Graph.updateCommunityStore(spark, store, b1, "src", "dst")
      .as[(Long, Long)].collect().toMap
    val fs1 = Graph.labelPropagation(b1, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(m1 === fs1, "creation must equal the from-scratch partition")
    assert((1L to 5L).forall(m1(_) == 1L) && m1(11L) === 11L &&
      m1(12L) === 11L)
    // day 2: node 11 gains three edges into the clique — its
    // neighborhood now votes 1 (×3) over 11 (pair + self, ×2), and the
    // flip propagates to 12 on the next frontier round: the two
    // communities MERGE, reached from the stored fixed point by
    // re-voting only the blast radius
    val b2 = Seq((3L, 11L), (4L, 11L), (5L, 11L)).toDF("src", "dst")
    val m2 = Graph.updateCommunityStore(spark, store, b2, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(((1L to 5L) ++ Seq(11L, 12L)).forall(m2(_) == 1L), m2)
    // the store serves the same partition without recomputation
    assert(Graph.readCommunityState(spark, store)
      .as[(Long, Long)].collect().toMap === m2)
    // the merged state is a fixed point of the merged graph: a full
    // from-scratch LPA finds one community too (same modularity class)
    val all = b1.unionAll(b2)
    val qInc = Graph.modularity(all, "src", "dst",
      m2.toSeq.toDF("id", "community"), "id", "community")
      .select("modularity").as[Double].head()
    val qFs = Graph.modularity(all, "src", "dst",
      Graph.labelPropagation(all, "src", "dst"), "id", "community")
      .select("modularity").as[Double].head()
    assert(qInc >= qFs - 1e-9, s"$qInc vs $qFs")
    // re-sent batch: pure no-op (the census's re-sent rule)
    val m3 = Graph.updateCommunityStore(spark, store, b2, "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(m3 === m2)
    // edges AHEAD of state (crash between the edges append and the
    // state install): the next update heals with a full propagation
    // over everything delivered
    Seq((21L, 22L)).toDF("lo", "hi").write.mode("append")
      .parquet(s"$store/edges")
    val m4 = Graph.updateCommunityStore(spark, store,
        Seq((22L, 23L)).toDF("src", "dst"), "src", "dst")
      .as[(Long, Long)].collect().toMap
    assert(Seq(21L, 22L, 23L).forall(m4(_) == 21L), m4)
    assert(m4(11L) === 1L, "healed state keeps the merged community")
    // empty store creation is refused loudly
    val e = intercept[IllegalArgumentException] {
      Graph.updateCommunityStore(spark,
        java.nio.file.Files.createTempDirectory("lpa_e").resolve("x")
          .toString,
        b1.where(lit(false)), "src", "dst")
    }
    assert(e.getMessage.contains("edge"))
  }

  test("store results stay readable: a result held from a call that " +
      "changes nothing survives the next update's swap of the state, for " +
      "the local-PPR, PageRank and community stores") {
    import graft.operators.Graph
    val ring = (1L to 6L).map(i => (i, i % 6 + 1)).toDF("src", "dst")
    val more = Seq((2L, 5L), (6L, 3L)).toDF("src", "dst")
    val seeds = Seq(1L).toDF("id")
    val stores: Seq[(String, (String, org.apache.spark.sql.DataFrame) =>
        org.apache.spark.sql.DataFrame)] = Seq(
      "ppr" -> ((st, b) => Graph.updateLocalPprStore(spark, st, b, "src",
        "dst", seeds, "id", eps = 1e-3)),
      "pagerank" -> ((st, b) => Graph.updatePageRankStore(spark, st, b,
        "src", "dst", eps = 1e-3)),
      "community" -> ((st, b) => Graph.updateCommunityStore(spark, st, b,
        "src", "dst")))
    stores.foreach { case (name, update) =>
      val st = java.nio.file.Files.createTempDirectory(s"held_$name")
        .resolve("st").toString
      val first = update(st, ring).collect().toSet
      val held = update(st, ring) // a replay: nothing changes
      update(st, more)
      assert(held.collect().toSet === first, s"$name: held no-op result")
    }
  }

  test("Fixpoint: stops on the first round with no changed row, throws " +
      "IllegalStateException naming the loop at the bound, leaves only " +
      "the returned round persisted, and gives the same rounds when the " +
      "observation is skipped") {
    import graft.operators.Fixpoint
    // each round moves v one step toward 0: v = 3 needs 3 changing rounds
    // and a 4th that changes nothing
    val init = Seq((1L, 3L), (2L, 1L), (3L, 0L)).toDF("id", "v")
    def run(maxRounds: Int, waitMs: Long): (Map[Long, Long], Int) = {
      var steps = 0
      val out = Fixpoint.iterate("countdown", init, maxRounds,
          Some("changed"), waitMs = waitMs) { st =>
        steps += 1
        st.select(col("id"), greatest(col("v") - 1, lit(0L)).as("v"),
          (col("v") > 0).as("changed"))
      }
      val got = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      org.apache.spark.sql.GraftBridge.unpersistCheckpoint(out)
      (got, steps)
    }
    // RDDs persisted since `before` (the cleaner may drop older ones)
    def added(before: collection.Set[Int]) =
      spark.sparkContext.getPersistentRDDs.keySet -- before
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val (observed, rounds) = run(10, 3000L)
    assert(observed === Map(1L -> 0L, 2L -> 0L, 3L -> 0L))
    assert(rounds === 4)
    assert(added(before).isEmpty, "a round's checkpoint leaked")
    // the fallback scan settles on the same round
    assert(run(10, 0L) === (observed, rounds))
    // only the returned round stays persisted
    val out = Fixpoint.iterate("countdown", init, 10, Some("changed")) { st =>
      st.select(col("id"), greatest(col("v") - 1, lit(0L)).as("v"),
        (col("v") > 0).as("changed"))
    }
    assert(added(before).size === 1)
    org.apache.spark.sql.GraftBridge.unpersistCheckpoint(out)
    // the bound: a loop that must converge fails loudly, naming itself,
    // and releases its last round
    val e = intercept[IllegalStateException](run(2, 3000L))
    assert(e.getMessage.contains("countdown did not converge in 2 rounds"))
    assert(added(before).isEmpty)
    // a fixed-round loop (no active column) runs exactly maxRounds
    var fixed = 0
    val f = Fixpoint.iterate("fixed", init, 3) { st => fixed += 1; st }
    assert(fixed === 3 && f.count() === 3L)
    org.apache.spark.sql.GraftBridge.unpersistCheckpoint(f)
  }
}
