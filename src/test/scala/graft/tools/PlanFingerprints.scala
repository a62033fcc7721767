package graft.tools

import scala.collection.parallel.CollectionConverters._

/** Suite-wide physical-plan shape lock.
  *
  * [[fingerprint]] reduces a query's executed-plan text to stable counts
  * of the operators that define its scale behavior: shuffle exchanges
  * (hash / range / single-partition), window passes, sorts, join
  * strategies, and parquet scans. `plan_fingerprints.json` checks in one
  * fingerprint per gate query; PlanSpec recomputes and diffs them, so ANY
  * unreviewed plan-shape drift — an extra exchange, a broadcast that fell
  * back to sort-merge, a window pass that stopped fusing — fails the
  * suite with a per-query diff, not just the handful of queries PlanSpec
  * pins individually.
  *
  * After an INTENTIONAL plan change, regenerate with
  * `sbt "Test/runMain graft.tools.PlanFingerprints"` and review the JSON
  * diff in the commit — the diff IS the plan-review artifact.
  *
  * Counts use the AQE initial plan (deterministic at fixed confs /
  * testdata); runtime re-optimization may improve on it but never runs in
  * the test. Join-strategy counts depend on testdata file sizes (auto
  * broadcast thresholds) — if the driver regenerates testdata (NOTES.md
  * round-8), borderline flips show up here as an honest, reviewable diff.
  */
object PlanFingerprints {

  val Markers: Seq[(String, String)] = Seq(
    "shuffle" -> """Exchange hashpartitioning""",
    "range_ex" -> """Exchange rangepartitioning""",
    "single_ex" -> """Exchange SinglePartition""",
    "window" -> """(?<![A-Za-z])Window \[""",
    "sort" -> """(?<![A-Za-z])Sort \[""",
    "bhj" -> """BroadcastHashJoin""",
    "smj" -> """SortMergeJoin""",
    "shj" -> """ShuffledHashJoin""",
    "bnlj" -> """BroadcastNestedLoopJoin""",
    "cartesian" -> """CartesianProduct""",
    "scan_parquet" -> """Scan parquet""")

  def fingerprint(planText: String): Map[String, Int] =
    Markers.map { case (k, re) =>
      k -> re.r.findAllMatchIn(planText).size
    }.toMap.filter(_._2 > 0)

  def fingerprintOf(spark: org.apache.spark.sql.SparkSession, name: String,
                    sf: String): Map[String, Int] =
    fingerprint(graft.SparkEntry.queries(name)(spark, sf)
      .queryExecution.executedPlan.toString)

  /** The CANONICAL fingerprint: built with no pre-existing cache state.
    * The self-persisting operators (the shingle family, the staged
    * seasonal decompose, the iterative graph loops) produce plans whose
    * InMemoryRelation substitution depends on what the session already
    * cached — clean-state construction is the one reproducible
    * definition. */
  def fingerprintClean(spark: org.apache.spark.sql.SparkSession,
                       name: String, sf: String): Map[String, Int] = {
    graft.Harness.sweep(spark)
    val fp = fingerprintOf(spark, name, sf)
    graft.Harness.sweep(spark)
    fp
  }

  /** All gate fingerprints, built in parallel; each task releases the
    * CacheScope of the thread that built its query. Starts from a CLEAN
    * cache context — the self-persisting dedup operators' plans show
    * InMemoryRelation substitution (fewer scans/shuffles) only when their
    * internal persist is fresh, so leftover CacheManager state from earlier
    * constructions in a warm session would shift three queries' counts —
    * and sweeps again after, since two tasks persisting the same plan share
    * one CacheManager entry whose rebuilt buffer no scope owns. */
  def all(spark: org.apache.spark.sql.SparkSession,
          sf: String): Seq[(String, Map[String, Int])] = {
    graft.Harness.sweep(spark)
    val fps = graft.SparkEntry.queries.keys.toSeq.sorted.par
      .map(n => n -> (try fingerprintOf(spark, n, sf)
        finally graft.CacheScope.release()))
      .seq
    graft.Harness.sweep(spark)
    fps
  }

  def toJson(fps: Seq[(String, Map[String, Int])], sig: String): String =
    fps.sortBy(_._1).map { case (n, fp) =>
      val body = fp.toSeq.sortBy(_._1)
        .map { case (k, v) => s""""$k":$v""" }.mkString(",")
      s"""  "$n": {$body}"""
    }.mkString(s"""{\n  "__testdata": "$sig",\n""", ",\n", "\n}\n")

  val DefaultPath = "tools/plan_fingerprints.json"

  /** Signature of the testdata the fingerprints were generated against:
    * join-strategy counts depend on parquet file SIZES (auto-broadcast
    * thresholds), and the driver has regenerated testdata between rounds
    * before (NOTES.md round-8). The lock compares strictly only while
    * the signature matches; on a regeneration it asks for a reviewed
    * re-generation instead of failing 343 queries red. */
  def testdataSignature(sf: String): String = {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.list(java.nio.file.Paths.get(sf))
    try
      stream.iterator().asScala.toSeq
        .filter(_.toString.endsWith(".parquet")).sortBy(_.toString)
        .map(p => s"${p.getFileName}:${java.nio.file.Files.size(p)}")
        .mkString(",")
    finally stream.close()
  }

  def main(args: Array[String]): Unit = {
    val sf = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = graft.SparkTestSession.spark
    // the generator writes the CANONICAL (clean-state, sequential)
    // fingerprints — slower than the parallel pass, but the definition
    // the lock compares against must not depend on session history
    val fps = graft.SparkEntry.queries.keys.toSeq.sorted
      .map(n => n -> fingerprintClean(spark, n, sf))
    java.nio.file.Files.writeString(
      java.nio.file.Paths.get(DefaultPath),
      toJson(fps, testdataSignature(sf)))
    println(s"WROTE ${fps.size} fingerprints to $DefaultPath")
    spark.stop()
  }
}
