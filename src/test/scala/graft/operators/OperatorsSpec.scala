package graft.operators

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class OperatorsSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val docs = Seq(
    (1L, "The quick brown fox jumps over the lazy dog and runs away fast"),
    (2L, "The quick brown fox jumps over the lazy dog and runs away fast"), // exact dup of 1
    (3L, "The quick brown fox jumps over the lazy dog and walks away fast"), // near dup of 1
    (4L, "der hund und die katze sind nicht das problem ist der garten"),
    (5L, "completely different words about spark catalyst optimizer plans")
  ).toDF("doc_id", "text")

  test("starNearDupClusters: replica flood clusters identically to the all-pairs path with O(members) edges") {
    // two "originals", each flooded with near-identical replicas (the
    // PairMassProbe scenario) plus two singletons that must stay out
    val docsA = (0 to 5).map(i => (10L + i,
      s"alpha quick brown fox jumps over the lazy dog alpha replica tag $i"))
    val docsB = (0 to 5).map(i => (20L + i,
      s"beta slow green turtle crawls under the busy bridge beta replica tag $i"))
    val single = Seq(
      (30L, "gamma completely unrelated text about spark catalyst optimizer internals"),
      (31L, "delta another unrelated document mentioning parquet bucketing strategies"))
    val flood = (docsA ++ docsB ++ single).toDF("doc_id", "text")

    val star = Dedup.starNearDupClusters(flood, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    val full = Dedup.connectedComponents(
        Dedup.minhashNearDups(flood, "doc_id", "text"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    graft.CacheScope.release()

    assert(star === full,
      "on a replica flood the star path must produce the all-pairs clusters")
    // both floods resolve to their min-id rep; singletons never appear
    assert(star.filter(k => k._1 >= 10L && k._1 < 20L).values.toSet === Set(10L))
    assert(star.filter(k => k._1 >= 20L && k._1 < 30L).values.toSet === Set(20L))
    assert(!star.contains(30L) && !star.contains(31L))
  }

  test("text stats: token count, punct, stopwords, quality in [0,1]") {
    val st = TextOps.textStats(docs, "doc_id", "text").orderBy("doc_id").collect()
    assert(st(0).getAs[Int]("n_tokens") === 13)
    assert(st.forall { r =>
      val q = r.getAs[Double]("quality_score"); q >= 0.0 && q <= 1.0
    })
  }

  test("langId: english for en text, german profile wins on de text") {
    val preds = TextOps.textStats(docs, "doc_id", "text")
      .orderBy("doc_id").collect().map(_.getAs[String]("lang_pred"))
    assert(preds(0) === "en")
    assert(preds(3) === "de")
  }

  test("repetitionStats: hand-computed totals, distincts, ratio") {
    val reps = Seq(
      (1L, "a b a b a b"),        // 3-grams: "a b a","b a b","a b a","b a b" → 4 total, 2 distinct
      (2L, "one two three four"), // 2 total, 2 distinct
      (3L, "too short")           // < 3 tokens → 0, ratio 0.0
    ).toDF("doc_id", "text")
    val got = TextOps.repetitionStats(reps, "doc_id", "text", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Int]("n_ngrams"), r.getAs[Int]("n_distinct"), r.getAs[Double]("rep_ratio")))
    assert(got(0) === ((4, 2, 0.5)))
    assert(got(1) === ((2, 2, 0.0)))
    assert(got(2) === ((0, 0, 0.0)))
  }

  test("contamination: counts distinct probe n-grams per doc, zero-fills") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"), // contains probe 3-grams
      (2L, "alpha beta gamma delta epsilon"), // same — same count
      (3L, "totally unrelated text goes here")
    ).toDF("doc_id", "text")
    val probes = Seq((99L, "alpha beta gamma delta")).toDF("pid", "ptext")
    // probe 3-grams: "alpha beta gamma", "beta gamma delta"
    val got = TextOps.contamination(corpus, "doc_id", "text", probes, "ptext", n = 3)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_contaminated")))
    assert(got.toSeq === Seq((1L, 2L), (2L, 2L), (3L, 0L)))
  }

  test("blocklistScreen: token-boundary hits, counts, threshold") {
    val corpus = Seq(
      (1L, "the Slow! fox is slow and SLOW again"), // 3 slow occurrences
      (2L, "classy glass has no bad words"),        // no substring hits
      (3L, "hash hash vector"),
      (4L, "")
    ).toDF("doc_id", "text")
    val got = TextOps.blocklistScreen(corpus, "doc_id", "text",
        Seq("slow", "Hash", "vector", "ass"), maxHitTerms = 1)
      .orderBy("doc_id").collect()
      .map(r => (r.getAs[String]("hit_terms"), r.getAs[Long]("n_hit_terms"),
        r.getAs[Long]("n_hit_tokens"), r.getAs[Boolean]("blocked")))
    assert(got(0) === (("slow", 1L, 3L, false)))   // <= maxHitTerms
    assert(got(1) === (("", 0L, 0L, false)))       // "classy" is not "ass"
    assert(got(2) === (("hash,vector", 2L, 3L, true)))
    assert(got(3) === (("", 0L, 0L, false)))
  }

  test("blocklistScreen: non-token terms fail loudly; plan has no shuffle") {
    intercept[IllegalArgumentException] {
      TextOps.blocklistScreen(docs, "doc_id", "text", Seq("two words"))
    }
    val plan = TextOps.blocklistScreen(docs, "doc_id", "text", Seq("slow"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"blocklist must be a pure map:\n$plan")
  }

  test("contamination broadcasts the probe side") {
    val probes = docs.filter($"doc_id" === 5L)
    val plan = TextOps.contamination(docs, "doc_id", "text", probes, "text", n = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"probe n-grams must broadcast:\n$plan")
  }

  test("tfidf: rare terms outscore common ones; log variant ranks identically") {
    val corpus = Seq(
      (1L, "spark spark spark common"),
      (2L, "common words here"),
      (3L, "common unique words")
    ).toDF("doc_id", "text")
    val scores = TextOps.tfidf(corpus, "doc_id", "text").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) ->
        (r.getAs[Long]("tf"), r.getAs[Long]("df"), r.getAs[Double]("tfidf"))).toMap
    // "spark": tf=3, df=1 → 3 * 4/2 = 6.0; "common": tf=1, df=3 → 1 * 4/4 = 1.0
    assert(scores((1L, "spark")) === ((3L, 1L, 6.0)))
    assert(scores((1L, "common")) === ((1L, 3L, 1.0)))
    // log variant: same per-doc ranking (ln is monotone in the rational idf)
    val logScores = TextOps.tfidf(corpus, "doc_id", "text", logIdf = true).collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[String]("term")) -> r.getAs[Double]("tfidf")).toMap
    def ranking(m: Map[(Long, String), Double], doc: Long) =
      m.collect { case ((d, t), s) if d == doc => (t, s) }.toSeq.sortBy(-_._2).map(_._1)
    val ratScores = scores.map { case (k, v) => k -> v._3 }
    assert(ranking(ratScores, 1L) === ranking(logScores, 1L))
    assert(logScores((1L, "spark")) === 3.0 * (math.log(4.0 / 2.0) + 1.0))
  }

  test("exact dedup groups identical texts, keeps min id") {
    val d = Dedup.exact(docs, "doc_id", "text").collect()
    assert(d.length === 4)
    val dup = d.find(_.getAs[Long]("n_copies") === 2L).get
    assert(dup.getAs[Long]("keep_id") === 1L)
  }

  test("minhash LSH finds exact and near duplicates, not unrelated docs") {
    val pairs = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup always survives
    assert(!pairs.exists { case (a, b) => a == 5L || b == 5L })
    val j12 = Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3)
      .filter($"id_a" === 1 && $"id_b" === 2).head().getAs[Double]("jaccard")
    assert(j12 === 1.0)
  }

  test("ngram jaccard: identical docs = 1.0, near dup in (0,1)") {
    val out = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1).collect()
    val m = out.map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b")) -> r.getAs[Double]("jaccard")).toMap
    assert(m((1L, 2L)) === 1.0)
    assert(m((1L, 3L)) > 0.1 && m((1L, 3L)) < 1.0)
  }

  test("simhash: identical texts share fingerprint; hamming pairs found") {
    val fps = Dedup.simhash(docs, "doc_id", "text").collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[Long]("simhash")).toMap
    assert(fps(1L) === fps(2L))
    assert(fps.values.forall(v => v >= 0 && v < (1L << 32)))
    val pairs = Dedup.simhashPairs(Dedup.simhash(docs, "doc_id", "text"), "doc_id", 3)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Int]("hamming")))
    assert(pairs.exists(p => p._1 == 1L && p._2 == 2L && p._3 == 0))
  }

  private lazy val vecs = Seq(
    (0L, Array(1.0f, 0.0f, 0.0f), 0),
    (1L, Array(0.96f, 0.28f, 0.0f), 0),
    (2L, Array(0.0f, 1.0f, 0.0f), 1),
    (3L, Array(0.0f, 0.96f, 0.28f), 1),
    (4L, Array(0.0f, 0.0f, 1.0f), 2)
  ).toDF("vec_id", "embedding", "label")

  test("brute-force knn: nearest first, self excluded, k respected") {
    val out = Similarity.bruteForceKnn(vecs, vecs.filter($"vec_id" === 0), k = 2)
      .orderBy("rank").collect()
    assert(out.length === 2)
    assert(out(0).getAs[Long]("neighbor_id") === 1L)
    assert(out(0).getAs[Double]("cosine") > 0.9)
    assert(out.forall(_.getAs[Long]("neighbor_id") != 0L))
  }

  test("hard negatives: same-label vectors excluded, nearest different " +
      "label first") {
    val out = Similarity.hardNegatives(vecs, vecs.filter($"vec_id" === 0), k = 3)
      .orderBy("rank").collect()
    // label-0 vectors (ids 0, 1) must never appear
    assert(out.forall(_.getAs[Int]("neg_label") != 0))
    assert(out.forall(r => Set(2L, 3L, 4L)(r.getAs[Long]("neighbor_id"))))
    // the closest different-label vector to (1,0,0) is id 3 (0.28 on axis x? no:
    // id 3 = (0, .96, .28): cos = 0; id 2 cos = 0; id 4 cos = 0 — ties break low id
    assert(out(0).getAs[Long]("neighbor_id") === 2L)
    // a query whose own label dominates its neighborhood still gets k rows
    assert(out.length === 3)
  }

  test("knn label consistency: hand-counted hits per label, honest denominator") {
    // k=1 nearest of each vecs row: 0↔1 (label 0, both hit), 2↔3
    // (label 1, both hit), 4→2-or-3 (label 2, miss; cosine 0 everywhere
    // for id 4, tie breaks to the lowest id)
    val out = Similarity.knnLabelConsistency(vecs, vecs, k = 1)
      .collect().map(r => r.getAs[Long]("label") -> r).toMap
    assert(out(0L).getAs[Long]("n_queries") === 2L)
    assert(out(0L).getAs[Long]("hits") === 2L)
    assert(out(0L).getAs[Double]("consistency") === 1.0)
    assert(out(1L).getAs[Double]("consistency") === 1.0)
    assert(out(2L).getAs[Long]("hits") === 0L)
    assert(out(2L).getAs[Double]("consistency") === 0.0)
    // k larger than the corpus: n_scored counts actual neighbors (4), so
    // the ratio never divides by the fictitious n_queries·k
    val wide = Similarity.knnLabelConsistency(vecs, vecs.filter($"vec_id" === 0L),
        k = 10)
      .collect().head
    assert(wide.getAs[Long]("n_scored") === 4L)
    assert(wide.getAs[Long]("hits") === 1L) // only id 1 shares label 0
    assert(wide.getAs[Double]("consistency") === 0.25)
  }

  test("ivf knn probes the query's own cluster only") {
    val out = Similarity.ivfKnn(vecs, vecs.filter($"vec_id" === 2), k = 3)
      .collect()
    assert(out.forall(_.getAs[Int]("probed_cluster") === 1))
    assert(out.map(_.getAs[Long]("neighbor_id")).toSet === Set(3L))
  }

  test("ivf knn with nprobe = nlist recovers the brute-force neighbor set") {
    val q = vecs.filter($"vec_id" === 2)
    val ivfAll = Similarity.ivfKnn(vecs, q, k = 3, nprobe = 3)
      .orderBy("rank").collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    val bf = Similarity.bruteForceKnn(vecs, q, k = 3)
      .orderBy("rank").collect().map(r => (r.getAs[Long]("neighbor_id"), r.getAs[Double]("cosine")))
    assert(ivfAll.toSeq === bf.toSeq)
    // nprobe=2 widens coverage beyond nprobe=1
    val two = Similarity.ivfKnn(vecs, q, k = 3, nprobe = 2).collect()
    assert(two.map(_.getAs[Int]("probed_cluster")).toSet.size === 2)
  }

  test("learned-centroid ivf: deterministic kmeans, sane recall vs brute force") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val queries = emb.filter($"vec_id" < 10)
    val learned = Similarity.ivfKnnLearned(emb, queries, k = 5, nlist = 8, iters = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    // deterministic: a second run produces the identical result
    val again = Similarity.ivfKnnLearned(emb, queries, k = 5, nlist = 8, iters = 2)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    assert(learned === again)
    val bf = Similarity.bruteForceKnn(emb, queries, k = 5)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("neighbor_id"))).toSet
    val recall = learned.intersect(bf).size.toDouble / bf.size
    info(f"learned-IVF recall@5 vs brute force (nprobe=1, nlist=8): $recall%.3f")
    // nprobe=1 touches ~1/8 of the corpus; on clustered synthetic embeddings
    // that must still find most true neighbors
    assert(recall >= 0.5, f"recall collapsed: $recall%.3f")
  }

  test("semanticDedup: same-cluster near-identical vectors drop, keep-lowest, deterministic") {
    // 1 and 0 are near-identical (cos ≈ 0.96) and cluster together; the
    // higher id (1) drops. Orthogonal vectors all survive.
    val out = Similarity.semanticDedup(vecs, threshold = 0.9, nlist = 3, iters = 1)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(!out.contains(1L), s"higher id of the near-dup pair must drop: $out")
    assert(out.contains(0L) && out.contains(4L))
    val again = Similarity.semanticDedup(vecs, threshold = 0.9, nlist = 3, iters = 1)
      .select("vec_id").as[Long].collect().sorted.toSeq
    assert(out === again)
    // threshold above every cosine keeps everything
    assert(Similarity.semanticDedup(vecs, threshold = 1.1, nlist = 3, iters = 1)
      .count() === 5L)
  }

  test("semanticDedup maxClusterSize guard: bounded blocks, subset drops, deterministic") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    // nlist=1 forces one mega-cluster — exactly the skew the guard exists
    // for; capping at 50 sub-splits it by sign-bit LSH
    val unguarded = Similarity.semanticDedup(emb, threshold = 0.6,
        nlist = 1, iters = 1, maxClusterSize = Similarity.Unbounded)
      .select("vec_id").as[Long].collect().toSet
    val guarded = Similarity.semanticDedup(emb, threshold = 0.6,
        nlist = 1, iters = 1, maxClusterSize = 50L)
      .select("vec_id").as[Long].collect().toSet
    // sub-splitting only REMOVES candidate pairs → fewer drops, and every
    // guarded drop is also an unguarded drop (recall dial, not a new set)
    assert(unguarded.subsetOf(guarded),
      s"guard must only add survivors: ${guarded.size} vs ${unguarded.size}")
    val again = Similarity.semanticDedup(emb, threshold = 0.6,
        nlist = 1, iters = 1, maxClusterSize = 50L)
      .select("vec_id").as[Long].collect().toSet
    assert(guarded === again, "guard must stay deterministic")
    // a cap larger than the corpus is a no-op (bits = 0 path)
    val noop = Similarity.semanticDedup(emb, threshold = 0.6,
        nlist = 1, iters = 1, maxClusterSize = 1000000L)
      .select("vec_id").as[Long].collect().toSet
    assert(noop === unguarded, "oversize cap must not change the result")
  }

  test("semanticDedup id-hash fallback: identical vectors get a hard split") {
    // 120 IDENTICAL vectors — the exact case that defeats the sign-bit
    // split (every replica shares every sign bit). With cap=10 the
    // whole cluster lands in ONE sign sub-bucket, so stage 2 must salt
    // it by the Lehmer id hash into ceil(120/10)=12 groups; each group
    // keeps exactly its minimum id (cosine of identical vectors = 1).
    val ident = (0L until 120L).map(i => (i, Array(1.0f, 2.0f, -3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    val got = Similarity.semanticDedup(ident, threshold = 0.9,
        nlist = 1, iters = 1, maxClusterSize = 10L)
      .select("vec_id").as[Long].collect().toSet
    // replay the operator's salt in plain Scala: two Lehmer rounds mod
    // 2^31-1, then mod fanout — survivors are the per-salt minima
    val p = 2147483647L
    def salt(id: Long): Long = (((id % p) * 48271 % p) * 48271 % p) % 12
    val expected = (0L until 120L).groupBy(salt).values.map(_.min).toSet
    assert(got === expected,
      s"fallback survivors must be the per-salt minima: got ${got.size}, expected ${expected.size}")
    // unguarded keeps only id 0 — the guard can only ADD survivors
    val unguarded = Similarity.semanticDedup(ident, threshold = 0.9,
        nlist = 1, iters = 1, maxClusterSize = Similarity.Unbounded)
      .select("vec_id").as[Long].collect().toSet
    assert(unguarded === Set(0L))
    assert(unguarded.subsetOf(got))
  }

  test("semanticDedup GUARDS BY DEFAULT; Unbounded is the explicit opt-out") {
    // the scale-safety default (round-10 probes: unguarded exponent 0.33
    // and rising under replica skew, guarded flat 0.03): a caller who
    // passes no maxClusterSize must get the O(n·cap) guarded pair space
    assert(Similarity.DefaultMaxClusterSize === 10000L)
    assert(Similarity.Unbounded <= 0L)
    // structural proof independent of corpus size: the default plan
    // carries the stage-2 Lehmer salt (multiplier 48271), the explicit
    // Unbounded plan does not
    def planOf(cap: Long) = Similarity.semanticDedup(vecs, threshold = 0.9,
      nlist = 3, iters = 1, maxClusterSize = cap)
      .queryExecution.analyzed.toString
    val defaultPlan = Similarity.semanticDedup(vecs, threshold = 0.9,
      nlist = 3, iters = 1).queryExecution.analyzed.toString
    assert(defaultPlan.contains("48271"), "default must take the guarded path")
    assert(planOf(Similarity.DefaultMaxClusterSize).contains("48271"))
    assert(!planOf(Similarity.Unbounded).contains("48271"),
      "Unbounded must take the exact unguarded path")
    // at sub-cap corpus sizes the guard stages are provably a no-op, so
    // the default ANSWER still equals the exact one
    val byDefault = Similarity.semanticDedup(vecs, threshold = 0.9,
      nlist = 3, iters = 1).select("vec_id").as[Long].collect().toSet
    val exact = Similarity.semanticDedup(vecs, threshold = 0.9,
      nlist = 3, iters = 1, maxClusterSize = Similarity.Unbounded)
      .select("vec_id").as[Long].collect().toSet
    assert(byDefault === exact)
  }

  test("embedding near-dup pairs above threshold; sign-bucket variant is a subset") {
    val exact = Similarity.embeddingNearDupPairs(vecs, 0.9)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(exact === Set((0L, 1L), (2L, 3L)))
    val blocked = Similarity.embeddingNearDupPairs(vecs, 0.9, signBits = 2)
      .collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    assert(blocked.subsetOf(exact))
  }

  test("multi-probe LSH recovers the one-hyperplane-straddling pair single-probe misses") {
    import spark.implicits._
    // 0 and 1 point the same way but sit on opposite sides of the dim-0
    // hyperplane (sign patterns 10 vs 11 — hamming 1); 2 is far away
    val mp = Seq(
      (0L, Array(-0.01f, 1.0f, 0.0f)),
      (1L, Array(0.01f, 1.0f, 0.0f)),
      (2L, Array(-1.0f, -1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"))).toSet
    val single = pairs(Similarity.embeddingNearDupPairs(mp, 0.9, signBits = 2))
    assert(single === Set.empty) // buckets differ → pair never a candidate
    val multi = pairs(
      Similarity.embeddingNearDupPairsMultiProbe(mp, 0.9, signBits = 2))
    assert(multi === Set((0L, 1L))) // found once, not duplicated
    // multi-probe is a superset of single-probe on the shared corpus
    val s = pairs(Similarity.embeddingNearDupPairs(vecs, 0.9, signBits = 2))
    val m = pairs(Similarity.embeddingNearDupPairsMultiProbe(vecs, 0.9, signBits = 2))
    assert(s.subsetOf(m))
  }

  test("connected components: chains collapse to min id, components stay separate") {
    import spark.implicits._
    // chain 1-2-3-4, pair 10-11, triangle 20-21-22
    val pairs = Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L),
      (20L, 21L), (21L, 22L), (20L, 22L)).toDF("id_a", "id_b")
    val comp = Dedup.connectedComponents(pairs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(comp(_) == 1L))
    assert(Seq(10L, 11L).forall(comp(_) == 10L))
    assert(Seq(20L, 21L, 22L).forall(comp(_) == 20L))
    assert(comp.size === 9)

    val corpus = (1L to 25L).map(i => (i, s"doc$i")).toDF("doc_id", "text")
    val kept = Dedup.keepRepresentatives(corpus, "doc_id",
      Dedup.connectedComponents(pairs)).select("doc_id").collect().map(_.getLong(0)).toSet
    // representatives 1, 10, 20 stay; 2,3,4,11,21,22 dropped; untouched docs stay
    assert(!kept.exists(Set(2L, 3L, 4L, 11L, 21L, 22L)))
    assert(Set(1L, 10L, 20L, 5L, 15L, 25L).subsetOf(kept))
    assert(kept.size === 25 - 6)
  }

  test("keepBestRepresentatives: highest score wins each cluster, " +
      "lower id on ties, outsiders pass through") {
    import spark.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
    // cluster {1,2,3}: scores 5, 9, 7 → id 2 wins
    // cluster {10,11}: tied scores → lower id 10 wins
    // 99 is in no cluster → passes through
    val docs = Seq((1L, 5.0), (2L, 9.0), (3L, 7.0),
      (10L, 4.0), (11L, 4.0), (99L, 0.1)).toDF("doc_id", "q")
    val kept = Dedup.keepBestRepresentatives(docs, "doc_id", "q", comps)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    graft.CacheScope.release()
    assert(kept === Set(2L, 10L, 99L))
  }

  test("keepBestRepresentatives: NULL scores fail loudly") {
    import spark.implicits._
    val pairs = Seq((1L, 2L)).toDF("id_a", "id_b")
    val comps = Dedup.connectedComponents(pairs)
    val docs = Seq((1L, Some(1.0)), (2L, None))
      .map { case (i, s) => (i, s.map(Double.box).orNull) }.toDF("doc_id", "q")
    val e = intercept[Exception] {
      Dedup.keepBestRepresentatives(docs, "doc_id", "q", comps).collect()
    }
    graft.CacheScope.release()
    assert(e.getMessage.contains("non-null") ||
      Option(e.getCause).exists(_.getMessage.contains("non-null")))
  }

  test("prefix-filtered ngram jaccard equals the direct variant exactly") {
    graft.CacheScope.release(blocking = true)
    def key(r: org.apache.spark.sql.Row) =
      (r.getAs[Long]("id_a"), r.getAs[Long]("id_b"), r.getAs[Double]("jaccard"))
    // fixture corpus
    val direct = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1)
      .collect().map(key).toSet
    val prefixed = Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1,
      prefixFilter = true).collect().map(key).toSet
    assert(direct === prefixed)
    assert(direct.nonEmpty) // the comparison must compare something
    // real corpus sample
    val real = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val d2 = Dedup.ngramJaccardPairs(real, "doc_id", "text", threshold = 0.5)
      .collect().map(key).toSet
    val p2 = Dedup.ngramJaccardPairs(real, "doc_id", "text", threshold = 0.5,
      prefixFilter = true).collect().map(key).toSet
    assert(d2 === p2)
    graft.CacheScope.release(blocking = true)
  }

  test("connected components refuses to return partially-converged labels") {
    import spark.implicits._
    // a 6-chain has diameter 5 — 2 rounds of min-label propagation cannot
    // converge, and silently returning the halfway labels would split a
    // single dedup group in two
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L)).toDF("id_a", "id_b")
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    val e = intercept[IllegalStateException] {
      Dedup.connectedComponents(chain, maxIter = 2).collect()
    }
    assert(e.getMessage.contains("did not converge"))
    // the throw path releases every cut and cache it made — no
    // CacheScope.release needed
    val left = sc.getPersistentRDDs.keySet.toSet -- before
    assert(left.isEmpty, s"blocks left after the throw: $left")
  }

  test("connectedComponents keeps its edges cache for every round: nothing " +
      "released inside the call is read by a later job of the call") {
    import org.apache.spark.scheduler._
    val sc = spark.sparkContext
    // a 6-chain converges only after 5+ min-label rounds
    val chain = (1L to 5L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val released = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val readAfterRelease = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val markerSeen = new java.util.concurrent.CountDownLatch(1)
    val listener = new SparkListener {
      override def onUnpersistRDD(u: SparkListenerUnpersistRDD): Unit =
        released.add(u.rddId)
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        s.stageInfo.rddInfos.map(_.id).filter(released.contains)
          .foreach(readAfterRelease.add)
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty("spark.job.description") == "cc-marker"))
          markerSeen.countDown()
    }
    sc.addSparkListener(listener)
    val comp = try {
      val out = Dedup.connectedComponents(chain)
      // listener events arrive in posting order: once the marker job's
      // start is seen, every event of the call above has been delivered
      sc.setJobDescription("cc-marker")
      try spark.range(1).count() finally sc.setJobDescription(null)
      assert(markerSeen.await(60, java.util.concurrent.TimeUnit.SECONDS))
      out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    } finally {
      sc.removeSparkListener(listener)
      graft.CacheScope.release()
    }
    assert(comp === (1L to 6L).map(_ -> 1L).toMap)
    assert(released.size >= 3, s"superseded label cuts must be released: $released")
    // the defect this pins: a cut that released every block its job
    // materialized also dropped the lazily persisted edge cache after
    // round 1, so every later round re-read it uncached
    assert(readAfterRelease.isEmpty,
      s"RDDs released mid-call and then read again: $readAfterRelease")
  }

  test("operator-internal persists register in CacheScope and release cleanly") {
    graft.CacheScope.release(blocking = true)
    val before = graft.CacheScope.size
    Dedup.minhashNearDups(docs, "doc_id", "text", threshold = 0.3).collect()
    Dedup.ngramJaccardPairs(docs, "doc_id", "text", threshold = 0.1).collect()
    // minhashNearDups persists its shingle-set frame AND (budget on, the
    // default) the band frame — the budget aggregate is a third band
    // consumer ReusedExchange cannot dedup (r14 abprobe: ×3.06 without
    // the persist); ngramJaccardPairs persists its shingle-set frame
    assert(graft.CacheScope.size === before + 3,
      "each dedup call must register exactly its persisted frames")
    graft.CacheScope.release(blocking = true)
    assert(graft.CacheScope.size === 0)
    // nothing operator-owned left in the block manager
    assert(spark.sparkContext.getPersistentRDDs.isEmpty ||
      spark.sparkContext.getPersistentRDDs.values.forall(_.getStorageLevel.useMemory == false))
  }

  test("corpus precondition for the media-features oracle: documents are ASCII") {
    // the DuckDB replica of the byte-histogram decode counts CHARACTERS per
    // bucket; that equals the Scala side's per-BYTE histogram only while the
    // corpus is single-byte (ASCII)
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    assert(docs.filter(length(col("text")) =!= octet_length(col("text").cast("binary"))).count() === 0)
  }

  test("multimodal: media meta + frame samples + decode stub features") {
    val m = Multimodal.withMedia(docs, "doc_id", "text")
    val frames = Multimodal.frameSamples(m).select("doc_id", "frames").collect()
    assert(frames.forall(_.getSeq[String](1).length === 4))
    val feats = Multimodal.decodeFeatures(spark, m, "doc_id").collect()
    assert(feats.forall { r =>
      val f = r.getSeq[Double](1)
      f.length === 16 && math.abs(f.sum - 1.0) < 1e-9
    })
  }

  test("multimodal: real PNG encode→decode round-trip recovers the pixel histogram") {
    import spark.implicits._
    val doc = Seq((1L, "abcd"), (2L, ""), (3L, "ÿ" * 3)).toDF("doc_id", "text")
    val media = Multimodal.withMediaPng(spark, doc, "doc_id", "text")
    // the payloads are genuine PNGs: magic bytes + image/png mime
    media.select("media", "media_meta.mime").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert((b(0) & 0xff) === 0x89 && b(1) === 'P'.toByte && b(2) === 'N'.toByte)
      assert(r.getString(1) === "image/png")
    }
    val feats = Multimodal.decodeImageFeatures(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // doc 1: bytes 97..100 cycle over 256 pixels — all land in bucket 6
    // (97/16 == 100/16 == 6); histogram sums to 1 exactly
    assert(feats(1L)(6) === 1.0 && feats(1L).sum === 1.0)
    // doc 2 (empty): all pixels 0 → bucket 0
    assert(feats(2L)(0) === 1.0)
    // doc 3: 'ÿ' is 2 UTF-8 bytes (0xc3 0xbf) → buckets 12 and 11 half each
    assert(feats(3L)(12) === 0.5 && feats(3L)(11) === 0.5)
  }

  test("multimodal: nearest-neighbor resize keeps exact sampled pixel values") {
    import spark.implicits._
    // 16×16 source pixels cycle over the 4 text bytes; the 8×8 NN grid
    // samples source index 2·dy·16 + 2·dx — always EVEN, and (even mod 4)
    // ∈ {0, 2}, so only bytes 'a' (97) and 'c' (99) survive, half each
    val doc = Seq((1L, "abcd")).toDF("doc_id", "text")
    val media = Multimodal.withMediaPng(spark, doc, "doc_id", "text")
    val small = Multimodal.resizeImages(spark, media, "doc_id", 8, 8)
    // still a real PNG, with rebuilt metadata
    val r = small.select("media", "media_meta.mime").head()
    val b = r.getAs[Array[Byte]](0)
    assert((b(0) & 0xff) === 0x89 && b(1) === 'P'.toByte)
    assert(r.getString(1) === "image/png")
    // decoded geometry is the target, values are untouched source pixels:
    // 97/16 == 99/16 == 6 → the whole histogram lands in bucket 6
    val img = javax.imageio.ImageIO.read(
      new java.io.ByteArrayInputStream(b))
    assert(img.getWidth === 8 && img.getHeight === 8)
    assert(img.getRaster.getSample(0, 0, 0) === 97) // src (0,0) = 'a'
    assert(img.getRaster.getSample(1, 0, 0) === 99) // src (2,0) = 'c'
    val feats = Multimodal.decodeImageFeatures(spark, small, "doc_id")
      .head().getSeq[Double](1)
    assert(feats(6) === 1.0 && feats.sum === 1.0)
    // upscale path: 8×8 → 16×16 duplicates pixels, histogram unchanged
    val big = Multimodal.resizeImages(spark, small, "doc_id", 16, 16)
    val bigFeats = Multimodal.decodeImageFeatures(spark, big, "doc_id")
      .head().getSeq[Double](1)
    assert(bigFeats(6) === 1.0)
  }

  test("multimodal: real WAV encode→decode round-trip recovers the amplitude histogram") {
    import spark.implicits._
    val doc = Seq((1L, "abcd"), (2L, ""), (3L, "ÿ" * 3)).toDF("doc_id", "text")
    val media = Multimodal.withMediaWav(spark, doc, "doc_id", "text")
    // the payloads are genuine RIFF/WAVE containers
    media.select("media", "media_meta.mime").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(b(0) === 'R'.toByte && b(1) === 'I'.toByte && b(2) === 'F'.toByte)
      assert(new String(b, 8, 4, "US-ASCII") === "WAVE")
      assert(r.getString(1) === "audio/wav")
    }
    val feats = Multimodal.decodeAudioFeatures(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // identical bucketing to the PNG path: (b−128)·256 amplitudes collapse
    // back to byte // 16
    assert(feats(1L)(6) === 1.0 && feats(1L).sum === 1.0)
    assert(feats(2L)(0) === 1.0)
    assert(feats(3L)(12) === 0.5 && feats(3L)(11) === 0.5)
  }

  test("multimodal: real AVI mux→demux round-trip recovers pooled frame histograms") {
    import spark.implicits._
    val doc = Seq((1L, "abcd"), (2L, ""), (3L, "ÿ" * 3)).toDF("doc_id", "text")
    val media = Multimodal.withMediaAvi(spark, doc, "doc_id", "text")
    // the payloads are genuine RIFF/AVI containers
    media.select("media", "media_meta.mime").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(new String(b, 0, 4, "US-ASCII") === "RIFF")
      assert(new String(b, 8, 4, "US-ASCII") === "AVI ")
      assert(r.getString(1) === "video/avi")
    }
    val out = Multimodal.decodeVideoFeatures(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Double](4)))).toMap
    out.values.foreach { case (nf, w, h, _) =>
      assert(nf === Multimodal.AviFrames)
      assert(w === Multimodal.PngSide && h === Multimodal.PngSide)
    }
    // doc 1: every frame cycles bytes 97..100 (offset shifts the phase,
    // not the multiset) → all pooled pixels in bucket 6, sum exactly 1
    assert(out(1L)._4(6) === 1.0 && out(1L)._4.sum === 1.0)
    // doc 2 (empty): all-zero frames → bucket 0
    assert(out(2L)._4(0) === 1.0)
    // doc 3: 0xc3/0xbf bytes → buckets 12 and 11 half each, in every frame
    assert(out(3L)._4(12) === 0.5 && out(3L)._4(11) === 0.5)
  }

  test("multimodal: real MJPEG (JPEG-in-AVI) encode→demux→decode stays in band 0") {
    import spark.implicits._
    val doc = Seq((1L, "abcd"), (2L, ""), (3L, "0" * 50),
      (4L, "The quick brown fox jumps over the lazy dog 0123456789"))
      .toDF("doc_id", "text")
    val media = Multimodal.withMediaAviMjpeg(spark, doc, "doc_id", "text")
    // the payloads are genuine RIFF/AVI containers with MJPG streams and
    // real JPEG frames (SOI marker FF D8 right after the first 00dc header)
    media.select("media", "media_meta.mime").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(new String(b, 0, 4, "US-ASCII") === "RIFF")
      assert(new String(b, 8, 4, "US-ASCII") === "AVI ")
      val s = new String(b.map(x => if (x >= 32 && x < 127) x else '.'.toByte),
        "US-ASCII")
      assert(s.contains("MJPG") && !s.contains("MPNG"))
      val dc = s.indexOf("00dc")
      assert(dc > 0 && (b(dc + 8) & 0xff) === 0xff && (b(dc + 9) & 0xff) === 0xd8)
      assert(r.getString(1) === "video/avi")
    }
    val out = Multimodal.decodeVideoFidelity(spark, media, "doc_id", "text")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4)))).toMap
    out.values.foreach { case (nf, w, h, band) =>
      assert(nf === Multimodal.AviFrames)
      assert(w === Multimodal.PngSide && h === Multimodal.PngSide)
      assert(band === 0) // quality-1.0 JPEG: mae ≲ 2, an order under tol=8
    }
    // the codec is genuinely lossy: with a near-zero tolerance the varied
    // document's mean pixel error lands in a nonzero band (a secretly
    // lossless path would stay at 0 and fail this)
    val tight = Multimodal.decodeVideoFidelity(spark, media, "doc_id",
        "text", tol = 1e-6)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(tight(4L) > 0)
    // and the feature decoder handles MJPG containers through the same
    // fccHandler dispatch (histogram close to exact, geometry exact)
    val feats = Multimodal.decodeVideoFeatures(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getSeq[Double](4)))).toMap
    assert(feats(2L)._1 === Multimodal.AviFrames)
    assert(feats(2L)._2(0) === 1.0) // empty text → uniform 0 frames
  }

  test("multimodal: uncompressed DIB-in-AVI round-trips pixel-exact, bottom-up") {
    import spark.implicits._
    val doc = Seq((1L, "abcd"), (2L, ""), (3L, "ÿ" * 3),
      (4L, "Row order matters: 0123456789 abcdefghij KLMNOPQRST"))
      .toDF("doc_id", "text")
    val media = Multimodal.withMediaAviRaw(spark, doc, "doc_id", "text")
    media.select("media", "media_meta.mime").collect().foreach { r =>
      val b = r.getAs[Array[Byte]](0)
      assert(new String(b, 0, 4, "US-ASCII") === "RIFF")
      assert(new String(b, 8, 4, "US-ASCII") === "AVI ")
      val printable = new String(
        b.map(x => if (x >= 32 && x < 127) x else '.'.toByte), "US-ASCII")
      assert(printable.contains("DIB ") && !printable.contains("MPNG"))
      assert(r.getString(1) === "video/avi")
    }
    // histogram path: identical pooled histograms to the lossless PNG AVI
    val out = Multimodal.decodeVideoFeatures(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) ->
        ((r.getInt(1), r.getInt(2), r.getInt(3), r.getSeq[Double](4)))).toMap
    out.values.foreach { case (nf, w, h, _) =>
      assert(nf === Multimodal.AviFrames)
      assert(w === Multimodal.PngSide && h === Multimodal.PngSide)
    }
    assert(out(1L)._4(6) === 1.0 && out(1L)._4.sum === 1.0)
    assert(out(2L)._4(0) === 1.0)
    assert(out(3L)._4(12) === 0.5 && out(3L)._4(11) === 0.5)
    // position path: mae must be EXACTLY zero — a flipped row order or a
    // mis-stepped stride scrambles positions, which histograms can't see
    val fid = Multimodal.decodeVideoFidelity(spark, media, "doc_id",
        "text", tol = 0.5)
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    fid.values.foreach(band => assert(band === 0))
  }

  test("multimodal: an unsupported frame-codec fourcc fails loudly") {
    import spark.implicits._
    val avi = Multimodal.withMediaAvi(spark,
        Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text")
      .select("media").head.getAs[Array[Byte]](0)
    // rewrite both MPNG fourccs (strh fccHandler + strf biCompression) to
    // an unknown codec tag; the container stays structurally valid
    val tag = "MPNG".getBytes("US-ASCII")
    val hacked = avi.clone()
    var i = 0
    while (i + 4 <= hacked.length) {
      if (hacked(i) == tag(0) && hacked(i + 1) == tag(1) &&
          hacked(i + 2) == tag(2) && hacked(i + 3) == tag(3)) {
        hacked(i) = 'X'; hacked(i + 1) = 'X'
        hacked(i + 2) = 'X'; hacked(i + 3) = 'X'
      }
      i += 1
    }
    val df = Seq((1L, hacked)).toDF("doc_id", "media")
    val e = intercept[Exception] {
      Multimodal.decodeVideoFeatures(spark, df, "doc_id").collect()
    }
    assert(e.getMessage != null)
  }

  test("multimodal: decodeVideoFeatures fails loudly on malformed containers") {
    import spark.implicits._
    // not RIFF at all
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
    intercept[Exception] {
      Multimodal.decodeVideoFeatures(spark, junk, "doc_id").collect()
    }
    // valid RIFF prefix but truncated body: the chunk walk must overrun-check
    val avi = Multimodal.withMediaAvi(spark,
        Seq((1L, "abc")).toDF("doc_id", "text"), "doc_id", "text")
      .select("media").head.getAs[Array[Byte]](0)
    val cut = Seq((1L, avi.take(avi.length / 2))).toDF("doc_id", "media")
    intercept[Exception] {
      Multimodal.decodeVideoFeatures(spark, cut, "doc_id").collect()
    }
  }

  test("multimodal: decodeAudioFeatures fails loudly on a non-WAV payload") {
    import spark.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
    intercept[Exception] {
      Multimodal.decodeAudioFeatures(spark, junk, "doc_id").collect()
    }
  }

  test("multimodal: decodeImageFeatures fails loudly on an undecodable payload") {
    import spark.implicits._
    val junk = Seq((1L, Array[Byte](1, 2, 3))).toDF("doc_id", "media")
    val e = intercept[Exception] {
      Multimodal.decodeImageFeatures(spark, junk, "doc_id").collect()
    }
    assert(e.getMessage.contains("decodable") ||
      Option(e.getCause).exists(_.getMessage.contains("decodable")))
  }

  test("multimodal: frame sampling slices BYTES, not characters (multi-byte UTF-8)") {
    import spark.implicits._
    val text = "café züriçh — " * 10 // multi-byte UTF-8 throughout
    val doc = Seq((1L, text)).toDF("doc_id", "text")
    val frames = Multimodal.frameSamples(Multimodal.withMedia(doc, "doc_id", "text"))
      .select("frames").head().getSeq[String](0)
    // expected: byte-offset slices of the UTF-8 encoding (frameLen=16, nFrames=4)
    val bytes = text.getBytes("UTF-8")
    val expected = (0 until 4).map { f =>
      val start = (f.toLong * math.max(bytes.length - 16, 1) / 4.0 + 1).toInt
      bytes.slice(start - 1, start - 1 + 16).map("%02x".format(_)).mkString
    }
    assert(frames === expected)
  }

  test("imageDHash: 63-bit gradient hash through the real PNG round-trip") {
    import spark.implicits._
    // pixel i = text byte at i mod len: hand-compute the expected hash
    // from the SAME sampling/gradient function the operator applies
    val text = "the quick brown fox jumps over the lazy dog 0123456789"
    val doc = Seq((1L, text), (2L, text), (3L, text.reverse))
      .toDF("doc_id", "text")
    val media = Multimodal.withMediaPng(spark, doc, "doc_id", "text")
    val hashes = Multimodal.imageDHash(spark, media, "doc_id")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def expectedHash(t: String): Long = {
      val bytes = t.getBytes("US-ASCII")
      def px(dx: Int, dy: Int): Int = {
        val i = (dy * 16 / 8) * 16 + dx * 16 / 9
        if (bytes.isEmpty) 0 else bytes(i % bytes.length) & 0xff
      }
      var h = 0L
      for (dy <- 0 until 8; dx <- 0 until 8
           if !(dx == 7 && dy == 7) && px(dx + 1, dy) > px(dx, dy))
        h |= 1L << (dy * 8 + dx)
      h
    }
    assert(hashes(1L) === expectedHash(text))
    assert(hashes(1L) === hashes(2L))            // identical image
    assert(hashes(3L) === expectedHash(text.reverse))
    assert(hashes(1L) !== hashes(3L))
    assert((hashes(1L) >>> 63) === 0L)           // bit 63 never set
    // banding finds exactly the duplicate pair at hamming 0
    val pairs = Multimodal.dhashPairs(
      Seq((1L, hashes(1L)), (2L, hashes(2L)), (3L, hashes(3L)))
        .toDF("doc_id", "dhash"), "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 0)))
  }

  test("dhashPairs: pigeonhole finds pairs in every chunk region") {
    import spark.implicits._
    // flip 3 bits of a base hash in the TOP chunk (bits 48..62): the
    // pair must still surface via an intact lower chunk
    val base = 0x1234ABCD5678EFL
    val variant = base ^ (1L << 50) ^ (1L << 55) ^ (1L << 60)
    val far = base ^ 0x0F0F0F0F0FL // many bits apart
    val pairs = Multimodal.dhashPairs(
      Seq((1L, base), (2L, variant), (3L, far)).toDF("doc_id", "dhash"),
      "doc_id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    assert(pairs.toSeq === Seq((1L, 2L, 3)))
  }
}
