package graft.tools

import org.apache.spark.sql.functions._
import graft.Harness

/** Measures the direct-vs-prefix-filter crossover for
  * [[graft.operators.Dedup.ngramJaccardPairs]] on a synthetic ZIPFIAN corpus:
  * every document shares a long boilerplate preamble (stop-shingles with
  * df = corpus size) plus a deterministic unique tail; ~10% of documents are
  * exact duplicates of their predecessor so the pair output is non-trivial.
  *
  * The direct plan self-joins every posting list, so each stop-shingle
  * contributes |corpus|²/2 join rows; the prefix plan joins only each
  * document's rarest shingles. Run:
  * `sbt "Test/runMain graft.tools.ZipfBench [nDocs]"` */
object ZipfBench {
  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toInt else 1500
    val spark = Harness.session(defaultCpus = 32)
    import spark.implicits._

    val boiler = "terms of service apply to all of the content provided herein and " +
      "the provider disclaims any liability for damages arising from any use of this data"
    // deterministic unique tail: 32 md5-derived pseudo-words from (seed, j) —
    // long enough that unrelated pairs sit BELOW the 0.5 threshold (their
    // only overlap is the boilerplate) while the stop-shingles still blow up
    // the direct self-join; docs with id % 10 == 1 copy their predecessor's
    // tail → exact dups form the true pair set
    val seed = when(col("id") % 10 === 1, col("id") - 1).otherwise(col("id"))
    val tail = concat_ws(" ", (0 until 32).map(j =>
      substring(md5(concat(seed.cast("string"), lit(s"_$j"))), 1, 8)): _*)
    val docs = spark.range(nDocs)
      .select(col("id").as("doc_id"), concat(lit(boiler + " "), tail).as("text"))

    def time(prefix: Boolean): (Double, Long) = {
      // the sweep drops every cache, so the corpus is re-cached after it,
      // outside the timer
      Harness.sweep(spark)
      docs.cache().count()
      lazy val n = graft.operators.Dedup
        .ngramJaccardPairs(docs.toDF(), "doc_id", "text", threshold = 0.5,
          prefixFilter = prefix)
        .count()
      (Harness.seconds(n), n)
    }
    val (tDirect, nDirect) = time(prefix = false)
    val (tPrefix, nPrefix) = time(prefix = true)
    require(nDirect == nPrefix, s"variants disagree: $nDirect vs $nPrefix")
    println(f"""{"corpus":"zipfian","n_docs":$nDocs,"pairs":$nDirect,""" +
      f""""direct_sec":$tDirect%.2f,"prefix_sec":$tPrefix%.2f,""" +
      f""""speedup":${tDirect / tPrefix}%.1f}""")
    spark.stop()
  }
}
