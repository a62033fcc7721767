package graft.examples

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, Divergence, Packing, TextOps}

/** Beyond-reference example: the full training-data curation path over the
  * synthetic document corpus — quality/repetition screening, near-dup
  * clustering with representative selection, benchmark decontamination,
  * concat-and-chunk sequence packing of the surviving documents, and the
  * post-curation drift dashboard (KS against the raw corpus, JSD between
  * sources, word-order surprisal screening).
  *
  * Run: `sbt "runMain graft.examples.CurationPipeline [sfDir]"` */
object CurationPipeline {
  def main(args: Array[String]): Unit = {
    val dir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    val spark = SparkSession.builder()
      .master(sys.env.getOrElse("SPARK_MASTER", "local[8]"))
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .appName("graft-curation-pipeline")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val docs = spark.read.parquet(s"$dir/documents.parquet")

    println("== 1. Quality screen: stats + repetition ratio ==")
    val stats = TextOps.textStats(docs, "doc_id", "text")
    val reps = TextOps.repetitionStats(docs, "doc_id", "text", n = 3)
    val screened = docs
      .join(stats.select(col("doc_id"), col("quality_score"), col("n_tokens")), "doc_id")
      .join(reps.select(col("doc_id"), col("rep_ratio")), "doc_id")
      .filter(col("quality_score") >= 0.2 && col("rep_ratio") < 0.9)
    println(s"kept ${screened.count()} of ${docs.count()} after quality screen")

    println("== 2. Near-dup clustering -> keep one representative ==")
    // r13 default cluster path: star-verified edges per LSH bucket —
    // O(members) edges where the all-pairs graph is O(members²) on a
    // flooded corpus (nearDupKeep; pass edges = AllPairsEdges to opt in)
    // persisted: consumed twice inside the decontamination count (as the
    // contamination input AND the join's left side) and again by packing
    val deduped = Dedup.nearDupKeep(screened, "doc_id", "text",
      threshold = 0.5).persist()
    println(s"kept ${deduped.count()} after near-dup removal")
    // NOTE: CacheScope.release() must wait until NOTHING derived from the
    // dedup call runs again — `deduped`'s lineage roots in the components'
    // localCheckpoint blocks, which (unlike plain persists) cannot be
    // recomputed once released. Released before spark.stop() below, from
    // this thread: release frees only what the calling thread registered.

    println("== 3. Decontamination vs a probe 'benchmark' set ==")
    val probes = docs.filter(col("doc_id") % 50 === 0)
    val contam = TextOps.contamination(deduped, "doc_id", "text", probes, "text", n = 8)
    val clean = deduped.join(
      contam.filter(col("n_contaminated") === 0).select("doc_id"), "doc_id")
      .persist() // consumed by the count here and the packing below
    println(s"kept ${clean.count()} after 8-gram decontamination")

    println("== 3b. Span-level cleanup: cut (don't drop) residual overlap ==")
    // the surgical alternative for docs worth keeping: any 20-char span
    // that appears in the probe set is spliced out, the rest survives
    val cut = Dedup.decontaminationCut(clean, "doc_id", "text",
      probes, "text", minLen = 20, stride = 5)
    val cutStats = cut.agg(sum("removed_chars").as("removed")).head()
    println(s"span-cut removed ${cutStats.getLong(0)} chars across survivors")

    println("== 3c. Phase-robust duplicated-substring mass (winnowing) ==")
    // MOSS-style fingerprinting: unlike the stride-sampled substring tier,
    // winnowing detects every shared >=30-char substring at ANY alignment;
    // the top overlap pairs are exact shared-content evidence
    Dedup.winnowOverlapPairs(clean, "doc_id", "text",
        minLen = 30, noise = 21, minShared = 2)
      .orderBy(col("overlap").desc, col("id_a"), col("id_b"))
      .limit(5).show(false)

    println("== 4. Sequence packing (4 shards, 512-token packs) ==")
    val withLen = clean.select(col("doc_id"),
      (col("doc_id") % 4).cast("int").as("shard"),
      TextOps.tokenCount(col("text")).as("n_tokens"))
    Packing.packAssignments(withLen, "doc_id", "n_tokens", "shard", 512L)
      .groupBy("shard").agg(
        count(lit(1)).as("docs"),
        // packs = total concatenated tokens / 512, rounded up — NOT
        // max(pack_id)+1 (pack_id marks where a doc STARTS; its trailing
        // tokens may spill into further packs)
        ceil(max(col("token_start") + col("n_tokens")) / 512.0).as("packs"))
      .orderBy("shard").show()

    println("== 5. Post-curation drift dashboard ==")
    // did curation skew the length distribution? (binning-free KS)
    val ks = Divergence.ksTest(
      docs.select(col("n_chars")), clean.select(col("n_chars")), "n_chars")
    ks.show(false)
    // how far apart are the two largest sources' vocabularies? (bounded JSD)
    val topSources = clean.groupBy("source").count()
      .orderBy(col("count").desc, col("source")).limit(2)
      .collect().map(_.getString(0))
    if (topSources.length == 2) {
      val jsd = Divergence.jsDivergence(
        clean.filter(col("source") === topSources(0)),
        clean.filter(col("source") === topSources(1)), "text", topK = 200)
      println(s"JSD(${topSources(0)} ‖ ${topSources(1)}):")
      jsd.show(false)
    }
    // worst word-order surprisal survivors — gibberish that slipped through
    println("highest bigram-LM surprisal among survivors:")
    TextOps.bigramSurprisal(clean, "doc_id", "text", vocabK = 300)
      .orderBy(col("bigram_surprisal").desc_nulls_last).limit(5).show(false)

    println("== 6. Cluster-safe split + sketch-warehouse vocabulary rollup ==")
    // the held-out set inherits NO near-copy of a training doc: the split
    // key is the near-dup cluster representative, not the row
    val split = graft.operators.Split.clusterSafeAssign(
      clean.select("doc_id", "text", "source"), "doc_id", "text",
      Seq("train" -> 0.9, "test" -> 0.1))
    split.groupBy("split").count().orderBy("split").show()
    // per-source vocabulary sketches persist as 2^p-byte blobs; any
    // slice's distinct vocabulary is then a blob merge, never a re-scan
    val srcSketches = split.filter(col("split") === "train")
      .select(col("source"), explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy("source")
      .agg(graft.functions.Hll.hllRegisters(col("token"), 8).as("regs"))
    srcSketches
      .agg(graft.functions.Hll.hllMerge(col("regs"), 8).as("h"))
      .select(expr(graft.functions.Hll.estimateSql(
        "h.sum_scaled", "h.zeros", 8)).as("est_train_vocab"))
      .show(false)

    clean.unpersist()
    deduped.unpersist()
    graft.CacheScope.release()
    spark.stop()
  }
}
