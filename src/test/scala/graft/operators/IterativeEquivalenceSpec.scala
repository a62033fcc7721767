package graft.operators

import graft.{CacheScope, Lineage, SparkTestSession}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

/** The iterative operators read their round scalars off their own cuts;
  * these specs pin them to copies of the loops that ran a separate job
  * for each scalar (an agg + broadcast crossJoin per HITS half-step, an
  * `isEmpty` probe per connected-components / k-core round, a `.head` of
  * max|Δ| per tol-mode PageRank round): same outputs to the raw double
  * bit, and the same round counts. */
class IterativeEquivalenceSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** The separate-probe loops, as they were before the scalars rode the cuts. */
  private object Probed {
    def hits(edges: DataFrame, iters: Int): DataFrame = {
      val eCut = Lineage.cut(edges
        .select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
        .filter(col("src") =!= col("dst")).distinct())
      val e = CacheScope.register(eCut.frame.persist(StorageLevel.MEMORY_AND_DISK))
      val nodesCut = Lineage.cut(
        e.select(col("src").as("node")).union(e.select(col("dst").as("node"))).distinct())
      CacheScope.register(nodesCut)
      val nodes = nodesCut.frame
      var live: List[Lineage.Cut] = Nil
      def cut(df: DataFrame): DataFrame = {
        val c = Lineage.cut(df)
        live = c :: live
        live.drop(2).foreach(_.release())
        live = live.take(2)
        c.frame
      }
      def maxNormalized(rawCut: DataFrame, scoreCol: String): DataFrame = {
        val m = rawCut.agg(max(col(scoreCol)).as("__mx"))
        rawCut.crossJoin(broadcast(m))
          .select(col("node"), round(col(scoreCol) / col("__mx"), 10).as(scoreCol))
      }
      var hub = nodes.select(col("node"), lit(1.0).as("hub"))
      var auth: DataFrame = null
      for (_ <- 1 to iters) {
        auth = maxNormalized(cut(e.join(hub, e("src") === hub("node"))
          .groupBy(col("dst").as("node")).agg(round(sum(col("hub")), 10).as("auth"))), "auth")
        hub = maxNormalized(cut(e.join(auth, e("dst") === auth("node"))
          .groupBy(col("src").as("node")).agg(round(sum(col("auth")), 10).as("hub"))), "hub")
      }
      eCut.release()
      e.unpersist(blocking = false)
      CacheScope.register(live: _*)
      nodes
        .join(hub.select(col("node"), col("hub")), Seq("node"), "left")
        .join(auth.select(col("node"), col("auth")), Seq("node"), "left")
        .select(col("node"), coalesce(col("hub"), lit(0.0)).as("hub"),
          coalesce(col("auth"), lit(0.0)).as("auth"))
    }

    def connectedComponents(pairs: DataFrame, maxIter: Int): DataFrame = {
      val edgesCut = Lineage.cut(
        pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst"))).distinct())
      val edges = edgesCut.frame.persist(StorageLevel.MEMORY_AND_DISK)
      var labelCut = Lineage.cut(
        edges.select(col("src").as("id")).distinct().withColumn("component", col("id")))
      var labels = labelCut.frame
      var converged = false
      var i = 0
      while (!converged && i < maxIter) {
        val nbrMin = edges.join(labels, edges("dst") === labels("id"))
          .groupBy(col("src")).agg(min(col("component")).as("nbr_min"))
        val updated = Lineage.cut(
          labels.join(nbrMin, labels("id") === nbrMin("src"), "left")
            .select(col("id"),
              least(col("component"), coalesce(col("nbr_min"), col("component"))).as("next"),
              col("component")))
        converged = updated.frame.filter(col("next") < col("component")).isEmpty
        labelCut.release()
        labelCut = updated
        labels = updated.frame.select(col("id"), col("next").as("component"))
        i += 1
      }
      edges.unpersist()
      edgesCut.release()
      if (!converged) {
        labelCut.release()
        throw new IllegalStateException(s"did not converge in $maxIter rounds")
      }
      CacheScope.register(labelCut)
      labels
    }

    def kCore(edges: DataFrame, k: Int, maxIters: Int): DataFrame = {
      var e = Lineage.cut(edges
        .select(least(col("src"), col("dst")).cast("long").as("u"),
          greatest(col("src"), col("dst")).cast("long").as("v"))
        .filter(col("u") =!= col("v")).distinct())
      var converged = false
      var i = 0
      while (!converged && i < maxIters) {
        val deg = e.frame.select(explode(array(col("u"), col("v"))).as("node"))
          .groupBy(col("node")).agg(count(lit(1)).as("d"))
        val weak = deg.filter(col("d") < k).select(col("node"))
        converged = weak.isEmpty
        if (!converged) {
          val next = Lineage.cut(e.frame
            .join(broadcast(weak.select(col("node").as("u"))), Seq("u"), "left_anti")
            .join(broadcast(weak.select(col("node").as("v"))), Seq("v"), "left_anti"))
          e.release()
          e = next
          i += 1
        }
      }
      if (!converged) {
        e.release()
        throw new IllegalStateException(s"kCore did not converge in $maxIters rounds")
      }
      CacheScope.register(e)
      e.frame.select(explode(array(col("u"), col("v"))).as("node"))
        .groupBy(col("node")).agg(count(lit(1)).as("degree"))
    }

    def pageRankTol(edges: DataFrame, iters: Int, damping: Double,
                    tol: Double): DataFrame = {
      val e = edges.select(col("src").cast("long").as("src"), col("dst").cast("long").as("dst"))
      val eCut = Lineage.cut(e)
      val ewCut = Lineage.cut(eCut.frame.join(
        eCut.frame.groupBy(col("src")).agg(count(lit(1)).cast("double").as("__deg")), "src"))
      val ew = ewCut.frame
      eCut.release()
      val nodesCut = Lineage.cut(
        ew.select(col("src").as("node")).union(ew.select(col("dst").as("node"))).distinct())
      val nodes = CacheScope.register(nodesCut.frame.persist(StorageLevel.MEMORY_AND_DISK))
      val n = nodes.count().toDouble
      val teleport = (1.0 - damping) / n
      var ranks = nodes.select(col("node"), round(lit(1.0 / n), 10).as("pr"))
      var rankCut: Option[Lineage.Cut] = None
      var i = 1
      var converged = false
      while (i <= iters && !converged) {
        val contribs = ew
          .join(ranks, ew("src") === ranks("node"))
          .select(col("dst").as("node"), (col("pr") / col("__deg")).as("__c"))
          .groupBy(col("node")).agg(sum(col("__c")).as("__s"))
        val next = nodes.join(contribs, Seq("node"), "left")
          .select(col("node"),
            round(lit(teleport) + lit(damping) * coalesce(col("__s"), lit(0.0)), 10).as("pr"))
        val cut = Lineage.cut(next)
        val delta = cut.frame
          .join(ranks.select(col("node"), col("pr").as("__prev")), "node")
          .agg(max(abs(col("pr") - col("__prev"))).as("__d"))
          .head.getDouble(0)
        rankCut.foreach(_.release())
        rankCut = Some(cut)
        ranks = cut.frame
        converged = delta < tol
        i += 1
      }
      CacheScope.register(Seq(ewCut, nodesCut) ++ rankCut: _*)
      ranks
    }
  }

  /** Rows sorted by their first (long) column, doubles as raw bits. */
  private def bits(df: DataFrame): Seq[Seq[Any]] = {
    val rows = try df.collect().toSeq finally CacheScope.release(blocking = true)
    rows.map((r: Row) => r.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.head.asInstanceOf[Long])
  }

  /** The smallest round cap in `1 to limit` at which `run` returns
    * instead of throwing. */
  private def roundsNeeded(limit: Int)(run: Int => DataFrame): Int =
    (1 to limit).find { cap =>
      try { bits(run(cap)); true }
      catch { case _: IllegalStateException => CacheScope.release(blocking = true); false }
    }.getOrElse(fail(s"no cap up to $limit converged"))

  test("hits: bit-identical to the agg + broadcast-crossJoin normalization on " +
      "a seeded random graph") {
    val rnd = new scala.util.Random(20261019L)
    val edges = Seq.fill(240)((rnd.nextInt(60).toLong, rnd.nextInt(60).toLong))
      .toDF("src", "dst")
    for (iters <- Seq(1, 3)) {
      val probed = bits(Probed.hits(edges, iters))
      val observed = bits(Graph.hits(edges, "src", "dst", iters))
      assert(probed.size > 40)
      assert(observed === probed, s"iters = $iters")
    }
  }

  test("hits: bit-identical on a graph with zero-degree sides") {
    // 1 and 4 have no in-edges (auth 0), 2, 3 and 6 no out-edges (hub 0);
    // 5 -> 5 is a self-loop the edge filter drops
    val edges = Seq((1L, 2L), (1L, 3L), (4L, 2L), (4L, 6L), (1L, 6L), (5L, 5L))
      .toDF("src", "dst")
    val probed = bits(Probed.hits(edges, 2))
    val observed = bits(Graph.hits(edges, "src", "dst", 2))
    assert(probed.map(_.head) === Seq(1L, 2L, 3L, 4L, 6L))
    assert(observed === probed)
  }

  test("connectedComponents: same labels and round counts as the isEmpty-probe " +
      "loop on chains of length 2–8; one round short throws on both") {
    for (n <- 2 to 8) {
      // ids interleaved so the minimum sits mid-chain for odd n
      val ids = (1 to n).map(i => if (i % 2 == 0) (i * 10).toLong else (100 - i).toLong)
      val chain = ids.zip(ids.tail).toDF("id_a", "id_b")
      val probedRounds =
        roundsNeeded(n + 1)(cap => Probed.connectedComponents(chain, cap))
      val observedRounds =
        roundsNeeded(n + 1)(cap => Dedup.connectedComponents(chain, maxIter = cap))
      assert(observedRounds === probedRounds, s"chain of $n")
      val cap = probedRounds
      val expected = bits(Probed.connectedComponents(chain, cap))
      assert(expected.map(_(1)).toSet === Set(ids.min), s"chain of $n")
      assert(bits(Dedup.connectedComponents(chain, maxIter = cap)) === expected)
      intercept[IllegalStateException](Probed.connectedComponents(chain, cap - 1))
      intercept[IllegalStateException](Dedup.connectedComponents(chain, maxIter = cap - 1))
      CacheScope.release(blocking = true)
    }
  }

  test("kCore: same core and round count as the isEmpty-probe loop") {
    // a 5-clique with a 4-node tail and a separate triangle: the 2-core is
    // the clique and the triangle, reached after the tail peels one node
    // per round
    val clique = for (a <- 1L to 5L; b <- (a + 1) to 5L) yield (a, b)
    val tail = Seq((5L, 6L), (6L, 7L), (7L, 8L), (8L, 9L))
    val tri = Seq((20L, 21L), (21L, 22L), (22L, 20L))
    val edges = (clique ++ tail ++ tri).toDF("src", "dst")
    val probedRounds = roundsNeeded(10)(cap => Probed.kCore(edges, 2, cap))
    val observedRounds =
      roundsNeeded(10)(cap => Graph.kCore(edges, "src", "dst", k = 2, maxIters = cap))
    assert(observedRounds === probedRounds)
    assert(probedRounds === 5) // four peel rounds, then the fixpoint check
    val expected = bits(Probed.kCore(edges, 2, probedRounds))
    assert(expected.map(_.head) === Seq(1L, 2L, 3L, 4L, 5L, 20L, 21L, 22L))
    assert(bits(Graph.kCore(edges, "src", "dst", k = 2, maxIters = probedRounds)) === expected)
  }

  test("pageRank(tol > 0): same ranks at every round cap, so the same stopping round") {
    val rnd = new scala.util.Random(7L)
    val edges = Seq.fill(120)((rnd.nextInt(30).toLong, rnd.nextInt(30).toLong))
      .toDF("src", "dst")
    val tol = 1e-4
    val outs = (1 to 12).map { cap =>
      val probed = bits(Probed.pageRankTol(edges, cap, 0.85, tol))
      val observed = bits(Graph.pageRank(edges, "src", "dst", iters = cap, tol = tol))
      assert(observed === probed, s"cap = $cap")
      observed
    }
    // the loop stops before the largest cap: the last caps agree
    val stop = outs.indexOf(outs.last) + 1
    assert(stop > 2 && stop < 12, s"stopped at round $stop")
  }
}
