package graft

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
}
