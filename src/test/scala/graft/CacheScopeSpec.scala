package graft

import java.util.concurrent.{CountDownLatch, FutureTask, TimeUnit}

import graft.operators.{Dedup, Graph, Guards, TextOps}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit}
import org.scalatest.funsuite.AnyFunSuite

class CacheScopeSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog and runs away fast"),
    (2L, "The quick brown fox jumps over the lazy dog and runs away fast"),
    (3L, "The quick brown fox jumps over the lazy dog and walks away fast"),
    (4L, "der hund und die katze sind nicht das problem ist der garten"),
    (5L, "completely different words about spark catalyst optimizer plans")
  ).toDF("doc_id", "text")

  /** A triangle with a tail: its 2-core is the triangle. */
  private lazy val triangleTail =
    Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L), (4L, 5L)).toDF("src", "dst")

  /** A 6-chain: connectedComponents needs 5+ label rounds. */
  private lazy val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  private def persistentIds: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** Runs `body` on a new thread; `get` on the result rethrows its error. */
  private def onThread[T](body: => T): FutureTask[T] = {
    val task = new FutureTask[T](() => body)
    new Thread(task).start()
    task
  }

  test("a release on one thread leaves another thread's scope and blocks alone") {
    def threadA(): (Seq[String], Seq[String]) =
      try (rows(Graph.kCore(triangleTail, "src", "dst", k = 2)),
        rows(Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3)))
      finally CacheScope.release(blocking = true)
    val soloB = try rows(Dedup.connectedComponents(chain))
      finally CacheScope.release(blocking = true)
    val soloA = threadA()
    val before = persistentIds

    val bBuilt = new CountDownLatch(1)
    val aReleased = new CountDownLatch(1)
    val b = onThread {
      val (comp, built) =
        try (Dedup.connectedComponents(chain), CacheScope.size)
        finally bBuilt.countDown()
      try {
        assert(aReleased.await(120, TimeUnit.SECONDS))
        (built, CacheScope.size, rows(comp))
      } finally CacheScope.release(blocking = true)
    }
    val a = onThread {
      assert(bBuilt.await(120, TimeUnit.SECONDS))
      try threadA() finally aReleased.countDown()
    }
    val (builtSize, sizeAfterA, labels) = b.get(300, TimeUnit.SECONDS)
    val aResult = a.get(300, TimeUnit.SECONDS)

    assert(labels === (1L to 6L).map(i => s"[$i,1]").sorted)
    assert(builtSize === 1, "connectedComponents registers its final label cut")
    assert(sizeAfterA === builtSize, "A's release must not touch B's scope")
    assert(labels === soloB)
    assert(aResult === soloA)
    assert(soloA._1 === Seq("[1,2]", "[2,2]", "[3,2]"))
    val left = persistentIds -- before
    assert(left.isEmpty, s"blocks left after both threads released: $left")
  }

  test("each operator persist registers in the calling thread's scope and " +
      "releases cleanly") {
    val newDocs = docs.filter($"doc_id" >= 3L)
    val refDocs = docs.filter($"doc_id" < 3L)
    val probes = docs.filter($"doc_id" === 5L)
    val calls: Seq[(String, Int, () => DataFrame)] = Seq(
      // shingle sets + the budget-guarded band frame
      ("minhashNearDups", 2, () =>
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3)),
      ("minhashNearDups(unbounded)", 1, () =>
        Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3,
          maxPairs = Guards.UnboundedPairs)),
      // shingle sets + connectedComponents' final label cut
      ("starNearDupClusters", 2, () =>
        Dedup.starNearDupClusters(docs, "doc_id", "text", threshold = 0.3)),
      ("ngramJaccardPairs", 1, () =>
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1)),
      ("ngramJaccardPairs(prefixFilter)", 2, () =>
        Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1,
          prefixFilter = true)),
      ("containmentPairs", 1, () =>
        Dedup.containmentPairs(docs, "doc_id", "text")),
      ("sortedNeighborhoodPairs", 1, () =>
        Dedup.sortedNeighborhoodPairs(docs, "doc_id", "text",
          blockExpr = lit(0), sortExpr = col("text"))),
      // reference and new-batch shingle sets
      ("incrementalDedup", 2, () =>
        Dedup.incrementalDedup(newDocs, refDocs, "doc_id", "text")),
      ("incrementalDedupWithIndex", 1, () =>
        Dedup.incrementalDedupWithIndex(newDocs,
          Dedup.buildRefIndex(refDocs, "doc_id", "text"), "doc_id", "text")),
      ("winnowedSpans", 1, () => Dedup.winnowedSpans(docs, "doc_id", "text")),
      ("winnowOverlapPairs", 1, () =>
        Dedup.winnowOverlapPairs(docs, "doc_id", "text", minShared = 1)),
      ("contamination", 1, () =>
        TextOps.contamination(docs, "doc_id", "text", probes, "text", n = 3)),
      ("tfidfCosinePairs", 1, () =>
        TextOps.tfidfCosinePairs(docs, "doc_id", "text", threshold = 0.5)),
      ("chunks", 1, () =>
        TextOps.chunks(docs, "doc_id", "text", chunkSize = 4, overlap = 1)),
      ("bigramSurprisal", 1, () =>
        TextOps.bigramSurprisal(docs, "doc_id", "text", vocabK = 8)),
      ("triangleCount", 1, () => Graph.triangleCount(triangleTail, "src", "dst")),
      ("localClustering", 1, () =>
        Graph.localClustering(triangleTail, "src", "dst")))
    CacheScope.release(blocking = true)
    for ((name, handles, call) <- calls) {
      val before = persistentIds
      call().collect()
      assert(CacheScope.size === handles, s"$name registered ${CacheScope.size}")
      CacheScope.release(blocking = true)
      assert(CacheScope.size === 0)
      val left = persistentIds -- before
      assert(left.isEmpty, s"$name left blocks after release: $left")
    }
  }
}
