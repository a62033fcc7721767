package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class GraphSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pageRank: a symmetric 2-cycle is the exact fixpoint 0.5/0.5") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 5)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1L -> 0.5, 2L -> 0.5))
  }

  test("pageRank: hub of a bidirectional star outranks the leaves; mass conserved") {
    val leaves = (1L to 4L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 10)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(leaves.forall(l => out(0L) > out(l)))
    assert(leaves.map(out).toSet.size === 1, "leaves are symmetric")
    // bidirectional graph has no sinks → total rank mass stays ~1
    assert(math.abs(out.values.sum - 1.0) < 1e-8)
  }

  test("pageRank: a sink keeps only its teleport inflow share (documented leak)") {
    // 1 → 2, nothing out of 2: node 1 gets only teleport (1−d)/N
    val edges = Seq((1L, 2L)).toDF("src", "dst")
    val out = Graph.pageRank(edges, "src", "dst", iters = 8, damping = 0.85)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(out(1L) - 0.15 / 2) < 1e-9)
    assert(out(2L) > out(1L))
    assert(out.values.sum < 1.0) // sink mass leaks — the simplified variant
  }

  test("pageRank: tol mode stops at a fixpoint (one more round moves < tol)") {
    val leaves = (1L to 4L)
    val edges = (leaves.map(l => (0L, l)) ++ leaves.map(l => (l, 0L)))
      .toDF("src", "dst")
    val tol = 1e-7
    val out = Graph.pageRank(edges, "src", "dst", iters = 100, tol = tol)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    // the returned ranks ARE a fixpoint under tol: re-applying one exact
    // update step moves every rank by less than tol
    val d = 0.85; val n = 5.0
    def step(pr: Map[Long, Double]): Map[Long, Double] = {
      val outDeg = Map(0L -> 4.0) ++ leaves.map(_ -> 1.0).toMap
      val inbound = Map(0L -> leaves.map(l => pr(l) / outDeg(l)).sum) ++
        leaves.map(l => l -> pr(0L) / outDeg(0L)).toMap
      pr.keys.map(v => v ->
        BigDecimal((1 - d) / n + d * inbound(v))
          .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    }
    val next = step(out)
    assert(out.keys.forall(v => math.abs(next(v) - out(v)) < tol),
      "tol-mode result must be a fixpoint under tol")
    // and it agrees with a LONG fixed-iteration run. The star's error
    // decays as 0.28·0.85^N (eigenvalue ±d of the 2-periodic hub↔leaf
    // map), so the fixed run needs N≈120 (error ~1e-9) to sit closer to
    // the fixpoint than the tol-mode stop (~tol/1.85 ≈ 5.4e-8); at N=60
    // the FIXED run is still ~1.6e-5 away and would dominate the bound.
    val fixed = Graph.pageRank(edges, "src", "dst", iters = 120)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out.keys.forall(v => math.abs(fixed(v) - out(v)) < 12 * tol))
  }

  test("pageRank: tol mode converges on the 2-cycle in far fewer than cap " +
      "rounds (no over-iteration) and leaks no blocks") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val before = sc.getPersistentRDDs.keySet.toSet
    // the symmetric 2-cycle is the exact fixpoint after round 1 → the
    // probe must stop the loop immediately; a 1000-round cap that ran to
    // the cap would take minutes, so plain completion asserts early-stop
    val out = Graph.pageRank(edges, "src", "dst", iters = 1000, tol = 1e-9)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(out === Map(1L -> 0.5, 2L -> 0.5))
    graft.CacheScope.release()
    assert((sc.getPersistentRDDs.keySet.toSet -- before).isEmpty,
      "convergence mode must drop every checkpoint block it pinned")
  }

  test("pageRank: layout-independent (per-iteration rounding)") {
    val edges = (0 until 300)
      .map(i => (i.toLong % 40, (i.toLong * 7 + 3) % 40)).toDF("src", "dst")
    val once = Graph.pageRank(edges, "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val again = Graph.pageRank(edges.repartition(13), "src", "dst", iters = 4)
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(once === again)
  }

  test("pageRank: no persisted blocks leak past CacheScope.release") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 2L)).toDF("src", "dst")
    Graph.pageRank(edges, "src", "dst", iters = 3).collect()
    graft.CacheScope.release()
    assert(sc.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${sc.getPersistentRDDs.keys}")
  }

  test("iterative operators: no persisted blocks leak past CacheScope.release") {
    val sc = spark.sparkContext
    // a 2-cycle feeding a path: several rounds in every operator below
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 4L), (4L, 5L))
      .toDF("src", "dst")
    val ops: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      // iters = 5 crosses the every-4th-round rank cut
      "pageRank" -> (() => Graph.pageRank(edges, "src", "dst", iters = 5)),
      "pageRank(tol)" ->
        (() => Graph.pageRank(edges, "src", "dst", iters = 6, tol = 1e-12)),
      "hits" -> (() => Graph.hits(edges, "src", "dst", iters = 3)),
      "kCore" -> (() => Graph.kCore(edges, "src", "dst", k = 2)),
      "labelPropagation" ->
        (() => Graph.labelPropagation(edges, "src", "dst", iters = 3)),
      "connectedComponents" ->
        (() => Dedup.connectedComponents(edges, "src", "dst")))
    for ((name, op) <- ops) {
      val before = sc.getPersistentRDDs.keySet.toSet
      op().collect()
      graft.CacheScope.release()
      val leaked = sc.getPersistentRDDs.keySet.toSet -- before
      assert(leaked.isEmpty, s"$name leaked blocks: $leaked")
    }
  }

  private def tri(edges: Seq[(Long, Long)]): (Long, Long) = {
    val r = Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst")
      .collect().head
    graft.CacheScope.release()
    (r.getAs[Long]("n_edges"), r.getAs[Long]("n_triangles"))
  }

  test("triangleCount: K4 has 4 triangles, a star has none") {
    assert(tri(Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L)))
      === ((6L, 4L)))
    assert(tri(Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L))) === ((4L, 0L)))
  }

  test("triangleCount: direction, duplicates, and self-loops normalize away") {
    // one triangle written messily: reversed edges, dups, a self-loop,
    // plus a pendant edge that closes nothing
    val edges = Seq((1L, 2L), (2L, 1L), (2L, 3L), (3L, 1L), (1L, 1L),
      (3L, 2L), (3L, 4L))
    assert(tri(edges) === ((4L, 1L)))
  }

  test("triangleCount: two triangles sharing an edge count separately") {
    assert(tri(Seq((1L, 2L), (2L, 3L), (1L, 3L), (2L, 4L), (3L, 4L)))
      === ((5L, 2L)))
  }

  test("kCore: peels the pendant chain, keeps the clique; degrees are " +
      "within-core") {
    // K4 (1-4) + a tail 4-5-6: the 3-core is exactly the K4
    val edges = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val out = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k = 3)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    graft.CacheScope.release()
    assert(out === Map(1L -> 3L, 2L -> 3L, 3L -> 3L, 4L -> 3L))
  }

  test("kCore: cascading peel (removing one node drags the next below k)") {
    // path 1-2-3-4: 2-core is empty — each peel exposes the next end
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L))
    val out = Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k = 2)
    assert(out.count() === 0L)
    graft.CacheScope.release()
    // cycle 1-2-3-1: every node IS the 2-core
    val cyc = Seq((1L, 2L), (2L, 3L), (3L, 1L))
    val out2 = Graph.kCore(cyc.toDF("src", "dst"), "src", "dst", k = 2)
      .collect().map(_.getLong(0)).toSet
    graft.CacheScope.release()
    assert(out2 === Set(1L, 2L, 3L))
  }

  test("kCore: non-convergence inside maxIters fails loudly; no block leak") {
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
    intercept[IllegalStateException] {
      Graph.kCore(edges.toDF("src", "dst"), "src", "dst", k = 2, maxIters = 1)
    }
    graft.CacheScope.release()
    assert(sc.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${sc.getPersistentRDDs.keys}")
  }

  test("triangleCount: hub-heavy graph matches and the plan has no window/sort") {
    // wheel: hub 0 to 10 rim nodes + rim cycle → 10 triangles
    val rim = (1L to 10L)
    val edges = rim.map(i => (0L, i)) ++ rim.map(i => (i, i % 10 + 1))
    assert(tri(edges) === ((20L, 10L)))
    val plan = Graph.triangleCount(edges.toDF("src", "dst"), "src", "dst")
      .queryExecution.executedPlan.toString
    graft.CacheScope.release()
    assert(!plan.contains("Window"), s"no window expected:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"equi-joins only:\n$plan")
  }

  test("link prediction: square graph scores both diagonals, drops edges") {
    // cycle 1-2-3-4-1: the two diagonals are the only candidates, each
    // with both off-path nodes as common neighbors
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (1L, 4L)).toDF("src", "dst")
    val out = Graph.linkPrediction(edges, "src", "dst")
      .collect().map(r => (r.getAs[Long]("node_a"), r.getAs[Long]("node_b")) -> r)
      .toMap
    assert(out.keySet === Set((1L, 3L), (2L, 4L)))
    val d = out((1L, 3L))
    assert(d.getAs[Long]("common_n") === 2L)
    assert(d.getAs[Double]("jaccard") === 1.0) // identical neighborhoods
    val lnTwo = BigDecimal(math.log(2.0))
      .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(d.getAs[Double]("adamic_adar") - 2.0 / lnTwo) < 1e-12)
  }

  test("assortativity: a star is perfectly disassortative, a cycle is degree-regular") {
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L)).toDF("src", "dst")
    val s = Graph.assortativity(star, "src", "dst").collect().head
    assert(s.getAs[Long]("n_edges") === 3L)
    assert(s.getAs[Double]("assortativity") === -1.0)
    val cycle = Seq((1L, 2L), (2L, 3L), (3L, 1L)).toDF("src", "dst")
    val c = Graph.assortativity(cycle, "src", "dst").collect().head
    assert(c.isNullAt(c.fieldIndex("assortativity"))) // zero degree variance
  }

  test("localClustering: clique corners score 1, pendant and path nodes 0") {
    // triangle {1,2,3} with a pendant 4 on node 3
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("src", "dst")
    val out = Graph.localClustering(edges, "src", "dst")
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    graft.CacheScope.release()
    assert(out(1L).getAs[Double]("lcc") === 1.0)
    assert(out(2L).getAs[Double]("lcc") === 1.0)
    // node 3: degree 3, one triangle → 2·1/(3·2) = 1/3
    assert(out(3L).getAs[Long]("degree") === 3L)
    assert(out(3L).getAs[Long]("triangles") === 1L)
    assert(out(3L).getAs[Double]("lcc") === 2.0 * 1.0 / 6.0)
    // pendant: degree 1 → convention 0, not NULL
    assert(out(4L).getAs[Long]("triangles") === 0L)
    assert(out(4L).getAs[Double]("lcc") === 0.0)
  }

  test("hits: no persisted blocks leak past CacheScope.release") {
    // guards the r16 eager cleanup: the edge checkpoint blocks and the
    // edge cache are dropped right after the loop, nodes + the last two
    // half-step cuts at CacheScope.release
    val sc = spark.sparkContext
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L)).toDF("src", "dst")
    Graph.hits(edges, "src", "dst", iters = 2).collect()
    graft.CacheScope.release()
    assert(sc.getPersistentRDDs.isEmpty,
      s"leaked blocks: ${sc.getPersistentRDDs.keys}")
  }

  test("hits: one-round hand trace on a two-hub funnel; zero rails") {
    // 1→3, 2→3, 2→4: auth max-normalizes on 3, hubs on 2
    val edges = Seq((1L, 3L), (2L, 3L), (2L, 4L)).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", iters = 1)
      .collect().map(r => r.getAs[Long]("node") -> r).toMap
    graft.CacheScope.release()
    assert(out(3L).getAs[Double]("auth") === 1.0) // in-sum 2, the max
    assert(out(4L).getAs[Double]("auth") === 0.5)
    assert(out(2L).getAs[Double]("hub") === 1.0)  // 1 + 0.5, the max
    // hub(1) = auth(3)/1.5 rounded to 10 dp
    assert(math.abs(out(1L).getAs[Double]("hub") - 0.6666666667) < 1e-12)
    // no out-edges → hub 0; no in-edges → auth 0
    assert(out(3L).getAs[Double]("hub") === 0.0)
    assert(out(1L).getAs[Double]("auth") === 0.0)
  }

  test("hits: symmetric 2-cycle is the all-ones fixpoint at any depth") {
    val edges = Seq((1L, 2L), (2L, 1L)).toDF("src", "dst")
    val out = Graph.hits(edges, "src", "dst", iters = 5)
      .collect()
    graft.CacheScope.release()
    out.foreach { r =>
      assert(r.getAs[Double]("hub") === 1.0 && r.getAs[Double]("auth") === 1.0)
    }
  }

  test("label propagation: two bridged cliques settle into two communities") {
    // triangle {1,2,3} — bridge 3-4 — triangle {4,5,6}; hand-traced
    // through the synchronous (count desc, label asc) rounds
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L),
        (4L, 5L), (4L, 6L), (5L, 6L), (3L, 4L))
      .toDF("src", "dst")
    val out = Graph.labelPropagation(edges, "src", "dst", iters = 3)
      .collect().map(r => r.getAs[Long]("node") -> r.getAs[Long]("community"))
      .toMap
    graft.CacheScope.release()
    assert(out === Map(1L -> 1L, 2L -> 1L, 3L -> 1L,
      4L -> 3L, 5L -> 3L, 6L -> 3L))
  }

  test("iterative operators on an empty edge list return no rows") {
    val empty = Seq.empty[(Long, Long)].toDF("src", "dst")
    // tol mode observes a NULL max|Δ| over the empty round
    assert(Graph.pageRank(empty, "src", "dst", iters = 5, tol = 1e-6).count() === 0)
    assert(Graph.hits(empty, "src", "dst", iters = 2).count() === 0)
    assert(Graph.kCore(empty, "src", "dst", k = 2).count() === 0)
    graft.CacheScope.release()
  }
}
