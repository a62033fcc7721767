package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The r13 star-edge default for cluster-consuming dedup paths:
  *
  *  1. On replica floods — the corpus shape the default exists for — the
  *     star keep/drop sets must be IDENTICAL to the all-pairs path's
  *     (verdict r12 #1's acceptance bar).
  *  2. The documented divergence is REAL and bounded where documented: a
  *     member near-dup only to NON-rep members in every band under-merges
  *     relative to all-pairs. This spec CONSTRUCTS that miss (ADVICE r12:
  *     the gate oracle replays the same star chain, so only a
  *     counter-example keeps the trade quantified): low-id decoys are
  *     searched deterministically so one sits as rep in EVERY band bucket
  *     of a true near-dup pair, each failing the Jaccard verify.
  */
class StarClusterSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("replica flood: star and all-pairs keep/drop sets are identical (nearDupKeep + nearDupKeepBest)") {
    // per-doc UNIQUE vocabularies: cross-base Jaccard is 0, so the true
    // cluster structure is exactly one 5-replica cluster per base doc
    val base = (0 until 10).map { i =>
      (i.toLong, (0 until 18).map(w => s"word${i}x$w").mkString(" "))
    }.toDF("doc_id", "text")
    val flood = base.select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(4))).as("r"))
      .select((col("doc_id") + col("r") * lit(1000L)).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" flood f"),
            col("r").cast("string"))).as("text"))
      .withColumn("n_chars", length(col("text")).cast("long"))

    def ids(df: org.apache.spark.sql.DataFrame): Set[Long] =
      try df.select("doc_id").as[Long].collect().toSet
      finally graft.CacheScope.release()

    val starKeep = ids(Dedup.nearDupKeep(flood, "doc_id", "text"))
    val pairsKeep = ids(Dedup.nearDupKeep(flood, "doc_id", "text",
      edges = Dedup.AllPairsEdges))
    assert(starKeep === pairsKeep,
      "star and all-pairs keep sets must agree on a replica flood")
    assert(starKeep.size === 10,
      "each 5-replica cluster must collapse to one representative")

    val starBest = ids(Dedup.nearDupKeepBest(flood, "doc_id", "text", "n_chars"))
    val pairsBest = ids(Dedup.nearDupKeepBest(flood, "doc_id", "text",
      "n_chars", edges = Dedup.AllPairsEdges))
    assert(starBest === pairsBest)
    // longest member wins, ties to the lower id: every tagged replica
    // outgrows its r=0 original by the same 9-char tag, so r=1 wins
    assert(starBest === (0 until 10).map(i => 1000L + i).toSet,
      s"keep-best must pick the longest member (lowest-id tie), got $starBest")
  }

  test("constructed miss: a pair near-dup only to each other under a low-id rep in EVERY band under-merges vs all-pairs") {
    val k = 16; val rowsPerBand = 4; val nBands = k / rowsPerBand
    val P = Dedup.MinhashP

    /** Wide minhash rows (mh0..mh15) per doc — band b's bucket signature
      * is mins.slice(4b, 4b+4).mkString("|") exactly as lshBands builds it. */
    def minsOf(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Long]] = {
      val sets = TextOps.shingleSets(df, "doc_id", "text", 3)
      Dedup.minhashSignatures(sets, "doc_id", k).collect()
        .map(r => r.getLong(0) -> (1 to k).map(r.getLong(_)))
        .toMap
    }
    def jac(a: String, b: String): Double = {
      def sh(t: String) = t.toLowerCase.split("[^a-z0-9]+").filter(_.nonEmpty)
        .sliding(3).map(_.mkString(" ")).toSet
      val (sa, sb) = (sh(a), sh(b))
      sa.intersect(sb).size.toDouble / sa.union(sb).size.toDouble
    }

    // 1. pick B adversarially: a decoy keeps band b's signature only if
    // none of its ~34 junk shingles hashes below any of the band's 4
    // current minima, i.e. survival = Π (1 − min_i/P)^34 — tiny when B has
    // a LARGE min anywhere in the band. Among 200 unique-vocabulary
    // candidates take the one whose WORST band survives best (pure driver
    // arithmetic on one collected signature frame; fully deterministic).
    val bCands = (0 until 200).map(i =>
      (i.toLong, (0 until 30).map(w => s"b${i}w$w").mkString(" ")))
    val bMins = minsOf(bCands.toDF("doc_id", "text"))
    def worstBandSurvival(mins: Seq[Long]): Double =
      (0 until nBands).map { b =>
        mins.slice(4 * b, 4 * b + 4)
          .map(m => math.pow(1.0 - m.toDouble / P, 34)).product
      }.min
    val bId = bCands.map(_._1).maxBy(id => worstBandSurvival(bMins(id)))
    val bText = bCands(bId.toInt)._2
    val bSig: Int => String = b => bMins(bId).slice(4 * b, 4 * b + 4).mkString("|")

    // 2. C: append two junk words to B keeping ALL 16 minhashes — search
    // candidate suffixes until the signatures match (deterministic: fixed
    // candidate order, first hit wins)
    val cCands = (0 until 100).map(j => (j.toLong, s"$bText extra$j suffix$j"))
    val cMins = minsOf(cCands.toDF("doc_id", "text"))
    val cPick = cCands.find { case (j, t) =>
      cMins(j) == bMins(bId) && jac(bText, t) >= 0.5
    }
    assert(cPick.isDefined, "no C candidate kept all 16 minhashes")
    val cText = cPick.get._2

    // 3. A_b per band: B + 32 junk words (Jaccard 28/60 < 0.5, so the
    // star verify must FAIL) searched until band b's 4 minhashes all
    // survive. Junk is PER-CANDIDATE — a shared junk block would make
    // every candidate collide or miss a band together.
    val aCands = (0 until 1500).map { j =>
      (j.toLong, s"$bText " + (0 until 32).map(w => s"junk${j}w$w").mkString(" "))
    }
    val aMins = minsOf(aCands.toDF("doc_id", "text"))
    val decoys: Seq[String] = (0 until nBands).map { b =>
      val hit = aCands.find { case (j, t) =>
        aMins(j).slice(4 * b, 4 * b + 4).mkString("|") == bSig(b) &&
          jac(bText, t) < 0.5 && jac(cText, t) < 0.5
      }
      assert(hit.isDefined, s"no decoy candidate collided band $b " +
        s"(worst-band survival ${worstBandSurvival(bMins(bId))})")
      hit.get._2
    }

    val corpus = (decoys.zipWithIndex.map { case (t, i) => (i.toLong, t) } ++
      Seq((10L, bText), (11L, cText))).toDF("doc_id", "text")

    def components(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      try df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      finally graft.CacheScope.release()

    // all-pairs: the (B, C) bucket candidate verifies at Jaccard >= 0.5
    val allPairs = components(Dedup.nearDupClusters(corpus, "doc_id", "text",
      edges = Dedup.AllPairsEdges))
    assert(allPairs.get(10L) === allPairs.get(11L) && allPairs.contains(10L),
      s"all-pairs must merge B and C: $allPairs")

    // star: every band bucket holding {B, C} also holds a lower-id decoy,
    // so the only candidates are rep->member star edges that FAIL verify —
    // B and C never merge. This is the documented recall bound: the miss
    // requires a sub-threshold rep in EVERY one of the k/rowsPerBand bands.
    val star = components(Dedup.nearDupClusters(corpus, "doc_id", "text"))
    assert(!(star.get(10L).isDefined && star.get(10L) == star.get(11L)),
      s"constructed miss must under-merge under star edges: $star")
  }
}
