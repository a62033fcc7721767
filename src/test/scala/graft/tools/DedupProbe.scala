package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, TextOps}

object DedupProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    def time(tag: String)(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"$tag: $n rows in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    val sets = TextOps.shingleSets(docs, "doc_id", "text", 3)
    time("sets")(sets.count())
    val sigs = Dedup.minhashSignatures(sets, "doc_id", 16)
    time("sigs")(sigs.count())
    val cands = Dedup.lshCandidates(Dedup.lshBands(sigs, "doc_id", 4), "doc_id")
    time("cands")(cands.count())
    time("jaccard")(Dedup.jaccard(sets, "doc_id", cands).count())
    time("full_minhash")(Dedup.minhashNearDups(docs, "doc_id", "text").count())
    spark.stop()
  }
}
