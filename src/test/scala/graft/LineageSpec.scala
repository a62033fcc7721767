package graft

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.{max, sum}
import org.apache.spark.storage.StorageLevel
import org.scalatest.funsuite.AnyFunSuite

class LineageSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Ids of RDDs that currently hold materialized blocks. */
  private def materialized: Set[Int] =
    spark.sparkContext.getRDDStorageInfo.map(_.id).toSet

  test("release frees only the handle's blocks: a lazily persisted frame " +
      "the cut read and a second live cut survive") {
    val unrelated = spark.range(0, 100).toDF("x")
      .persist(StorageLevel.MEMORY_AND_DISK) // lazy: the cut's job fills it
    val before = materialized
    val a = Lineage.cut(unrelated.filter($"x" % 2 === 0))
    // what the cut's job materialized besides the cut itself
    val filledByCut = materialized -- before - a.rdd.id
    val b = Lineage.cut(spark.range(0, 10).toDF("y"))
    try {
      assert(filledByCut.nonEmpty, "the cut must have filled the unrelated cache")
      a.release(blocking = true)
      val after = materialized
      assert(!after.contains(a.rdd.id), "the released cut's blocks are gone")
      assert(filledByCut.subsetOf(after),
        s"the unrelated cache was released with the cut: ${filledByCut -- after}")
      assert(after.contains(b.rdd.id), "a second live cut keeps its blocks")
      assert(b.frame.count() === 10L)
      assert(unrelated.count() === 100L)
    } finally {
      b.release(blocking = true)
      unrelated.unpersist(blocking = true)
    }
  }

  test("CacheScope.register holds cuts until release") {
    CacheScope.release(blocking = true)
    val c = Lineage.cut(spark.range(0, 5).toDF("x"))
    CacheScope.register(c)
    assert(CacheScope.size === 1)
    assert(materialized.contains(c.rdd.id))
    CacheScope.release(blocking = true)
    assert(CacheScope.size === 0)
    assert(!materialized.contains(c.rdd.id))
  }

  /** Jobs started by `body`, per job-description marker. Listener events
    * arrive in posting order, so once a sentinel job's start is seen every
    * job the bodies started has been counted. */
  private def jobsPerMarker(bodies: (String, () => Unit)*): Map[String, Int] = {
    val sc = spark.sparkContext
    val counts = new ConcurrentHashMap[String, AtomicInteger]()
    val sentinel = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        Option(j.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
          .foreach { d =>
            if (d == "lineage-sentinel") sentinel.countDown()
            else counts.computeIfAbsent(d, _ => new AtomicInteger).incrementAndGet()
          }
    }
    sc.addSparkListener(listener)
    try {
      for ((marker, body) <- bodies) {
        sc.setJobDescription(marker)
        try body() finally sc.setJobDescription(null)
      }
      sc.setJobDescription("lineage-sentinel")
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(sentinel.await(60, TimeUnit.SECONDS))
    } finally sc.removeSparkListener(listener)
    bodies.map { case (m, _) => m -> Option(counts.get(m)).fold(0)(_.get) }.toMap
  }

  /** A frame with a shuffle below it, built fresh for each cut. */
  private def grouped(): DataFrame =
    spark.range(0, 20000).select(($"id" % 97).as("k"), $"id")
      .groupBy($"k").agg(sum($"id").as("s"))

  test("a cut with observed aggregates runs exactly as many jobs as a plain cut") {
    var plain: Lineage.Cut = null
    var observed: Lineage.Cut = null
    val jobs = jobsPerMarker(
      "lineage-plain" -> (() => plain = Lineage.cut(grouped())),
      "lineage-observed" -> (() => observed =
        Lineage.cut(grouped(), max($"s"), sum($"k"))))
    try {
      assert(jobs("lineage-plain") >= 1)
      assert(jobs("lineage-observed") === jobs("lineage-plain"), jobs)
    } finally {
      plain.release(blocking = true)
      observed.release(blocking = true)
    }
  }

  test("observed values equal the direct aggregates; an empty frame " +
      "observes count 0 and max NULL") {
    val df = grouped()
    val c = Lineage.cut(df, max($"s").as("mx"), sum($"k").as("sk"))
    try {
      val direct = df.agg(max($"s"), sum($"k")).head
      assert(c.rows === 97L)
      assert(c.observed.getLong(0) === 97L)
      assert(c.observed.getLong(1) === direct.getLong(0))
      assert(c.observed.getLong(2) === direct.getLong(1))
      assert(c.observed.getAs[Long]("mx") === direct.getLong(0))
    } finally c.release(blocking = true)
    val empty = Lineage.cut(spark.range(0).toDF("x"), max($"x"))
    try {
      assert(empty.rows === 0L)
      assert(empty.observed.isNullAt(1))
      assert(empty.frame.count() === 0L)
    } finally empty.release(blocking = true)
  }

  test("the cut frame's stats.rowCount equals its count") {
    val c = Lineage.cut(spark.range(0, 100000).filter($"id" % 7 === 3).toDF())
    try {
      val n = c.frame.count()
      assert(n === 14286L)
      assert(c.frame.queryExecution.optimizedPlan.stats.rowCount === Some(BigInt(n)))
      // and the stats survive a projection over the cut
      assert(c.frame.select($"id").queryExecution.optimizedPlan.stats.rowCount ===
        Some(BigInt(n)))
    } finally c.release(blocking = true)
  }

  test("a small cut joined to a large frame plans a BroadcastHashJoin with no persist") {
    // the filter keeps its input's size estimate (~40 MB, past the 10 MB
    // broadcast threshold) while it holds 50 rows
    def small(): DataFrame = spark.range(0, 5000000).filter($"id" < 50).toDF("k")
    val large = spark.range(0, 5000000).toDF("k")
    val c = Lineage.cut(small())
    val bare = small().localCheckpoint() // the leaf as localCheckpoint leaves it
    try {
      val plan = large.join(c.frame, "k").queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"), plan)
      assert(!plan.contains("InMemory"), plan)
      // the control: the pre-execution estimate alone loses the broadcast
      val barePlan = large.join(bare, "k").queryExecution.executedPlan.toString
      assert(!barePlan.contains("BroadcastHashJoin"), barePlan)
      assert(large.join(c.frame, "k").count() === 50L)
    } finally {
      c.release(blocking = true)
      bare.queryExecution.logical.collectFirst { case r: LogicalRDD => r.rdd }
        .foreach(_.unpersist(blocking = true))
    }
  }
}
