package graft.operators

import graft.SparkTestSession
import org.scalatest.funsuite.AnyFunSuite

/** Document identity in [[Dedup.winnowOverlapPairs]]: the operator mines
  * pairs of DOCUMENTS keyed by `idCol`, so one id on several rows is one
  * document whose fingerprint set is counted once. */
class WinnowPairsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val shared = "the quick brown fox jumps over the lazy dog near the river bank"
  private val docs = Seq(
    (1L, s"intro one. $shared. outro one with its own words"),
    (2L, s"a different start. $shared. and a different end here"),
    (3L, s"third copy of it: $shared"),
    (4L, "nothing in common with the others at all, just filler text words"))

  private def pairs(rows: Seq[(Long, String)], minLen: Int,
                    noise: Int): Set[(Long, Long, Long, Double)] = {
    val out = Dedup.winnowOverlapPairs(rows.toDF("doc_id", "text"), "doc_id", "text",
        minLen = minLen, noise = noise, minShared = 1)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .toSet
    graft.CacheScope.release()
    out
  }

  private def assertOneDocument(minLen: Int, noise: Int): Unit = {
    val once = pairs(docs, minLen, noise)
    assert(once.map(p => (p._1, p._2)) === Set((1L, 2L), (1L, 3L), (2L, 3L)))
    // the repeated row neither doubles `shared` nor changes the set size
    // that `overlap` divides by, and pairs no document with itself
    assert(pairs(docs :+ docs.head, minLen, noise) === once)
    assert(pairs(docs.head +: docs :+ docs(2), minLen, noise) === once)
  }

  test("winnowOverlapPairs: one doc_id on two rows is one document (w = 1)") {
    assertOneDocument(minLen = 8, noise = 8)
  }

  test("winnowOverlapPairs: a repeated row does not widen the window selection (w > 1)") {
    // each row is winnowed on its own, so a second copy of a row cannot
    // halve the effective window and select extra fingerprints
    assertOneDocument(minLen = 12, noise = 8)
  }
}
