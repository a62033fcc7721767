package graft.operators

import graft.{CacheScope, Lineage}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines, each designed for
  * the 100 TB regime:
  *
  *  - exact: hash-groupBy — one shuffle on the content hash, no full-text
  *    comparison (hash first, texts never co-located).
  *  - MinHash + LSH: candidate generation is a self-join on (band,
  *    signature) buckets — candidate count scales with true near-duplicates,
  *    not O(n²); verification joins only candidate pairs.
  *  - SimHash: 32-bit fingerprint per doc; hamming-≤k pairs found by
  *    chunk-banding (pigeonhole), again avoiding O(n²).
  *  - n-gram Jaccard: exact pairwise similarity with shingle-blocking; the
  *    LSH variant is the scale path, this is the precision reference.
  *
  * All hashes derive from md5 (identical across engines), so every operator
  * is bit-reproducible and DuckDB-oracle-checkable.
  */
object Dedup {

  /** Exact dedup: one row per distinct text with the surviving (minimum) id
    * and the multiplicity. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Prime modulus for the universal-hash family (2^31 − 1, Mersenne). */
  val MinhashP: Long = 2147483647L

  /** Deterministic (a, b) coefficients for the k affine hashes
    * h_i(x) = (a_i·x + b_i) mod P — fixed seed so Spark and the DuckDB
    * oracle share the exact same family. */
  def minhashCoeffs(k: Int): Seq[(Long, Long)] = {
    val r = new java.util.Random(42)
    Seq.fill(k)((1L + r.nextInt((MinhashP - 1).toInt).toLong,
      r.nextInt(MinhashP.toInt).toLong))
  }

  /** MinHash signatures, wide form (`mh0..mh{k-1}` per doc) from the
    * shingle-set frame (`idCol`, `shingles`, as [[TextOps.shingleSets]]
    * builds it): ONE md5 per shingle reduced mod P, then k affine universal
    * hashes derived arithmetically, all k minima folded inside the
    * document's row by one kernel pass ([[graft.functions.MinhashSignature]])
    * — a map over the set frame, with no shingle explode and no shuffle. A
    * document with no shingles has no signature and is absent. One row per
    * input row: `idCol` is unique per row in the set frame. */
  def minhashSignatures(sets: DataFrame, idCol: String, k: Int): DataFrame = {
    val sig = sets.where(size(col("shingles")) > 0)
      .select(col(idCol), graft.functions.DedupKernels.minhash(
        col("shingles"), minhashCoeffs(k), MinhashP).as("__mh"))
    sig.select(col(idCol) +: (0 until k).map(i => col("__mh")(i).as(s"mh$i")): _*)
  }

  /** LSH band signatures from the wide minhash frame: each band's
    * `rowsPerBand` minhashes concatenate into one bucket key; the bands
    * array explodes to (id, band, sig) rows. */
  def lshBands(sigs: DataFrame, idCol: String, rowsPerBand: Int): DataFrame = {
    val k = sigs.columns.count(_.matches("mh\\d+")) // not startsWith: idCol may be named mh*
    require(k > 0 && k % rowsPerBand == 0)
    val bandStructs = (0 until k / rowsPerBand).map { bnd =>
      struct(lit(bnd).as("band"),
        concat_ws("|", (0 until rowsPerBand).map(r => col(s"mh${bnd * rowsPerBand + r}")): _*).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bandStructs: _*)).as("bs"))
      .select(col(idCol), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }

  /** Candidate pairs: docs sharing at least one (band, sig) bucket. */
  def lshCandidates(bands: DataFrame, idCol: String): DataFrame = {
    val a = bands.select(col(idCol).as("id_a"), col("band"), col("sig"))
    val b = bands.select(col(idCol).as("id_b"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig")).filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
  }

  /** Exact Jaccard for candidate pairs: each pair joins the two documents'
    * whole shingle-set arrays (from [[TextOps.shingleSets]]) and computes
    * `|A∩B|` with one `array_intersect` — one row per candidate, instead of
    * fanning every candidate out by its posting lists through two joins and
    * a re-aggregation. Shuffle volume is (candidates × 2 set arrays). */
  def jaccard(sets: DataFrame, idCol: String, candidates: DataFrame): DataFrame = {
    val a = sets.select(col(idCol).as("id_a"),
      col("shingles").as("shs_a"), col("n_shingles").as("n_a"))
    val b = sets.select(col(idCol).as("id_b"),
      col("shingles").as("shs_b"), col("n_shingles").as("n_b"))
    candidates.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
  }

  /** Full MinHash-LSH near-dup pipeline: shingle → sign → band → bucket-join
    * → exact-Jaccard verify → threshold.
    *
    * PAIR-BUDGETED BY DEFAULT ([[Guards.pairBudget]]): the contract is
    * "return the near-dup pairs", and on a flooded corpus the TRUE pair
    * mass is C(m,2) per m-replica cluster — quadratic in m (pairmass.json).
    * The budget predicts the bucket-join output from the band-bucket sizes
    * and fails loudly instead of materializing a runaway pair set; for
    * keep/drop decisions use [[nearDupKeep]] (star edges, O(members) per
    * bucket) which needs no budget. `maxPairs <= 0`
    * ([[Guards.UnboundedPairs]]) opts into the unbounded output. */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    // persisted: consumed by signature generation AND both verify branches —
    // without it each consumer re-runs the tokenize+shingle chain
    val sets = CacheScope.persist(TextOps.shingleSets(df, idCol, textCol, 3))
    // the band frame is a map over the cached sets. Budget ON: the guard's
    // bucket-size aggregate sits INSIDE the persist, so it runs once while
    // the cache builds and both candidate-join sides read the guarded
    // bands. Guarded after the persist instead, each side got its own copy
    // of the aggregate: the inferred filters make the two subtrees
    // canonically unequal, so ReusedExchange cannot dedup them. Budget OFF
    // keeps the r13 finding: the two join sides recompute a cheap map and
    // a persist only adds churn.
    val bands0 = lshBands(minhashSignatures(sets, idCol, k), idCol, rowsPerBand)
    val guarded = if (maxPairs > 0L)
      CacheScope.persist(Guards.pairBudget(bands0, Seq("band", "sig"),
        maxPairs, "Dedup.minhashNearDups"))
    else bands0
    val cands = lshCandidates(guarded, idCol)
    jaccard(sets, idCol, cands).filter(col("jaccard") >= threshold)
  }

  /** Cluster-oriented near-dup detection for FLOODED corpora — the scale
    * path when duplicate clusters are huge. [[minhashNearDups]]'s contract
    * is "return the near-dup PAIRS", and on a corpus where every document
    * has m near-identical copies the true pair mass is C(m,2) per cluster
    * — quadratic in m, measured in `pairmass.json`, SCALE.md (the operator's
    * time tracks its output at ~30 s per million pairs; the output itself
    * is the cost). When the goal is CLUSTERS (dedup keep/drop decisions),
    * all-pairs edges are overkill: within each LSH bucket a STAR to the
    * bucket's minimum id carries the same connectivity — O(members) edges
    * per bucket instead of O(members²) — and each star edge is still
    * verified with exact Jaccard before it merges anything.
    *
    * Semantics trade (documented, spec-measured): a member that shares a
    * bucket with the rep but is near-dup only to OTHER members (not the
    * rep itself) misses that bucket's edge; band multiplicity gives it
    * k/rowsPerBand independent chances with different reps, so on
    * replica-style floods the clusters come out identical to the
    * all-pairs path. Use this for keep/drop at scale; use
    * [[minhashNearDups]] when the pairs themselves are the product.
    * Returns `(id, component)` like [[connectedComponents]]. */
  def starNearDupClusters(df: DataFrame, idCol: String, textCol: String,
                          k: Int = 16, rowsPerBand: Int = 4,
                          threshold: Double = 0.5): DataFrame = {
    val sets = CacheScope.persist(TextOps.shingleSets(df, idCol, textCol, 3))
    // NOT persisted: the band frame is a map over the cached sets, shared
    // by the rep aggregate and the star-candidate join
    val bands = lshBands(minhashSignatures(sets, idCol, k), idCol, rowsPerBand)
    // rep per bucket: a map-side-combinable min — the flood's giant bucket
    // collapses to one row per map task, never a bucket-sized join side
    val reps = bands.groupBy(col("band"), col("sig"))
      .agg(min(col(idCol)).as("__rep"))
    val starCand = bands.join(reps, Seq("band", "sig"))
      .where(col(idCol) > col("__rep"))
      .select(col("__rep").as("id_a"), col(idCol).as("id_b"))
      .distinct()
    val edges = jaccard(sets, idCol, starCand)
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b")
    connectedComponents(edges)
  }

  /** How a cluster-consuming dedup path builds its near-dup graph.
    * [[StarEdges]] (the DEFAULT) is the scale-safe choice: O(members)
    * verified edges per LSH bucket, flood exponent 0.36 vs 0.68 for the
    * pairs path (pairmass.json / scaleprobe30.json), and spec-identical
    * clusters on replica floods. [[AllPairsEdges]] is the explicit opt-in
    * to the full [[minhashNearDups]] pair graph — maximal recall (a member
    * near-dup only to NON-rep members in every band still merges), at an
    * output-quadratic cost on flooded corpora, and still subject to the
    * pair budget. */
  sealed trait EdgeStrategy
  case object StarEdges extends EdgeStrategy
  case object AllPairsEdges extends EdgeStrategy

  /** Near-dup clusters `(id, component)` for keep/drop decisions —
    * star-verified edges by DEFAULT (see [[EdgeStrategy]]; this is the
    * entry point a pipeline should use instead of hand-wiring
    * [[minhashNearDups]] + [[connectedComponents]], which is
    * output-quadratic on flooded corpora). */
  def nearDupClusters(df: DataFrame, idCol: String, textCol: String,
                      k: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      edges: EdgeStrategy = StarEdges): DataFrame =
    edges match {
      case StarEdges => starNearDupClusters(df, idCol, textCol, k, rowsPerBand, threshold)
      case AllPairsEdges =>
        connectedComponents(
          minhashNearDups(df, idCol, textCol, k, rowsPerBand, threshold))
    }

  /** One-call near-dup dedup: cluster (star edges by default) and keep
    * each cluster's MIN-ID representative — the composite the keep gates
    * and [[graft.examples.CurationPipeline]] run. */
  def nearDupKeep(docs: DataFrame, idCol: String, textCol: String,
                  k: Int = 16, rowsPerBand: Int = 4,
                  threshold: Double = 0.5,
                  edges: EdgeStrategy = StarEdges): DataFrame =
    keepRepresentatives(docs, idCol,
      nearDupClusters(docs, idCol, textCol, k, rowsPerBand, threshold, edges))

  /** One-call quality-aware near-dup dedup: cluster (star edges by
    * default) and keep each cluster's BEST member by `scoreCol` (ties to
    * the lower id) — [[keepBestRepresentatives]] with the scale-safe
    * cluster construction built in. */
  def nearDupKeepBest(docs: DataFrame, idCol: String, textCol: String,
                      scoreCol: String,
                      k: Int = 16, rowsPerBand: Int = 4,
                      threshold: Double = 0.5,
                      edges: EdgeStrategy = StarEdges): DataFrame =
    keepBestRepresentatives(docs, idCol, scoreCol,
      nearDupClusters(docs, idCol, textCol, k, rowsPerBand, threshold, edges))

  /** Exact n-gram Jaccard pairs above `threshold`.
    *
    * Default plan: intersection sizes counted directly off the shingle
    * self-join (one wide shuffle with map-side combine), then set sizes join
    * in from the per-doc set frame. Exact because jaccard > 0 requires a
    * shared shingle.
    *
    * `prefixFilter = true` switches to the PPJoin-style plan: each document
    * joins only its |x|−⌈t·|x|⌉+1 globally-RAREST shingles (canonical order =
    * ascending document frequency), candidates verify via one
    * `array_intersect` per pair. Same exact result (pigeonhole: a pair with
    * overlap ≥ ⌈t·|x|⌉ must share a prefix shingle on BOTH sides). Measured
    * on this corpus's near-uniform shingle frequencies the direct count wins
    * (prefixes keep ~40% of postings); on Zipfian corpora whose stop-shingles
    * make the self-join quadratic, the prefix plan wins by orders of
    * magnitude (crossover measured in `graft.tools.ZipfBench`). */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        prefixFilter: Boolean = false,
                        maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    val sets = CacheScope.persist(TextOps.shingleSets(df, idCol, textCol, n))
    if (prefixFilter) return prefixFiltered(sets, idCol, threshold, maxPairs)
    // pair budget over the shingle posting lists: the self-join below emits
    // Σ_shingle C(m,2) rows — the Zipfian stop-shingle caveat, now a loud
    // failure instead of a documented hope (sh derives from the persisted
    // set frame, so the budget's size aggregate re-reads cache, not text)
    val sh = Guards.pairBudget(
      sets.select(col(idCol), explode(col("shingles")).as("shingle")),
      Seq("shingle"), maxPairs, "Dedup.ngramJaccardPairs")
    val inter = sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sizes = sets.select(col(idCol), col("n_shingles"))
    inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_shingles").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_shingles").as("n_b")), "id_b")
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .select("id_a", "id_b", "jaccard")
      .filter(col("jaccard") >= threshold)
  }

  /** Asymmetric shingle CONTAINMENT pairs — `|A∩B| / |A|` with A the
    * SMALLER-shingle-set side: the excerpt/quotation detector symmetric
    * Jaccard is blind to (a paragraph quoted inside a long article has
    * tiny Jaccard but containment ≈ 1). Emits one row per unordered pair
    * with `inner_id` (the contained side), `outer_id`, both set sizes,
    * and `containment ≥ threshold`; ties in size resolve the lower id
    * as inner (deterministic).
    *
    * Same plan as [[ngramJaccardPairs]]: persisted shingle-set frame,
    * shared-shingle equi-join candidates, one exact intersection count
    * per pair, a single IEEE division — no rounding. The same stop-
    * shingle caveat applies (compose with prefix filtering upstream on
    * Zipfian corpora). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, threshold: Double = 0.8,
                       maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    require(threshold > 0.0 && threshold <= 1.0,
      s"threshold must be in (0,1], got $threshold")
    val sets = CacheScope.persist(TextOps.shingleSets(df, idCol, textCol, n))
    // same posting-list pair budget as [[ngramJaccardPairs]] — identical
    // self-join, identical stop-shingle blow-up mode
    val sh = Guards.pairBudget(
      sets.select(col(idCol), explode(col("shingles")).as("shingle")),
      Seq("shingle"), maxPairs, "Dedup.containmentPairs")
    val inter = sh.select(col(idCol).as("id_a"), col("shingle"))
      .join(sh.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("inter"))
    val sizes = sets.select(col(idCol), col("n_shingles"))
    val sized = inter
      .join(sizes.select(col(idCol).as("id_a"), col("n_shingles").as("n_a")), "id_a")
      .join(sizes.select(col(idCol).as("id_b"), col("n_shingles").as("n_b")), "id_b")
    val aInner = col("n_a") < col("n_b") ||
      (col("n_a") === col("n_b") && col("id_a") < col("id_b"))
    sized
      .withColumn("inner_id", when(aInner, col("id_a")).otherwise(col("id_b")))
      .withColumn("outer_id", when(aInner, col("id_b")).otherwise(col("id_a")))
      .withColumn("n_inner", least(col("n_a"), col("n_b")))
      .withColumn("n_outer", greatest(col("n_a"), col("n_b")))
      .withColumn("containment",
        col("inter").cast("double") / col("n_inner").cast("double"))
      .filter(col("containment") >= threshold)
      .select("inner_id", "outer_id", "n_inner", "n_outer", "containment")
  }

  /** Sorted-neighborhood (SNM, Hernández–Stolfo 1995) near-dup pairs:
    * rows are BLOCKED by `blockExpr` (e.g. a short normalized text
    * prefix), sorted within each block by (`sortExpr`, id), and every pair
    * at rank distance ≤ `window` becomes a candidate, verified by exact
    * word-n-gram Jaccard ≥ `threshold`. Complements the shingle self-join
    * family: candidate volume is |corpus|·window REGARDLESS of shingle
    * frequency skew (a stop-shingle can't blow it up), at the price of
    * missing pairs whose sort keys land far apart.
    *
    * Scale design: blocking bounds each sort to one block (one exchange on
    * the block key, per-block window — never a global single-partition
    * sort; cross-block misses are the same recall dial every bucketed
    * candidate generator here accepts). Neighbor pairing is an equi-join
    * on (block, rank+offset) with `window` exploded offsets, and the
    * verify is ONE `array_intersect` per candidate off the persisted
    * shingle-set frame — the bounded-pair shape of [[minhashNearDups]]. */
  def sortedNeighborhoodPairs(df: DataFrame, idCol: String, textCol: String,
                              blockExpr: Column, sortExpr: Column,
                              window: Int = 4, n: Int = 3,
                              threshold: Double = 0.3): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    val keyed = df.select(col(idCol), blockExpr.as("snm_block"),
      sortExpr.as("snm_key"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("snm_block")).orderBy(col("snm_key"), col(idCol))
    val ranked = keyed.withColumn("rn", row_number().over(w))
    val a = ranked.select(col(idCol).as("id_a"), col("snm_block"),
        explode(sequence(col("rn") + 1, col("rn") + window)).as("rn_b"))
    val b = ranked.select(col(idCol).as("id_b"), col("snm_block"),
      col("rn").as("rn_b"))
    val cands = a.join(b, Seq("snm_block", "rn_b")).select("id_a", "id_b")
    val sets = CacheScope.persist(TextOps.shingleSets(df, idCol, textCol, n))
    cands
      .join(sets.select(col(idCol).as("id_a"), col("shingles").as("sh_a"),
        col("n_shingles").as("n_a")), "id_a")
      .join(sets.select(col(idCol).as("id_b"), col("shingles").as("sh_b"),
        col("n_shingles").as("n_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("sh_a"), col("sh_b"))))
      .withColumn("jaccard",
        col("inter").cast("double") /
          (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jaccard") >= threshold)
      .select("id_a", "id_b", "jaccard")
  }

  /** PPJoin-style candidate generation over the prefix posting lists.
    *
    * Why it scales on skewed corpora: a stop-shingle shared by m documents
    * contributes m²/2 rows to the direct self-join; in canonical
    * (rarest-first) order it sits at the END of every document's shingle
    * list, so it enters a prefix only for documents short enough that
    * t·|x| leaves no rarer choice — the posting lists that self-join are the
    * rare tail, whose frequencies are bounded. Verification touches
    * candidates only (one array_intersect each, off the persisted set
    * frame). */
  private def prefixFiltered(sets: DataFrame, idCol: String,
                             threshold: Double,
                             maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    val sh = sets.select(col(idCol), col("n_shingles"),
      explode(col("shingles")).as("shingle"))
    val freq = sh.groupBy("shingle").agg(count(lit(1)).as("df"))
    // canonical rank of each shingle inside its document: ascending global
    // document frequency, ties by shingle text (total order → deterministic)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(idCol)).orderBy(col("df"), col("shingle"))
    // persisted: the pair budget's posting-size aggregate and both sides of
    // the candidate self-join read the prefix frame — unpersisted, each
    // scan re-runs the frequency join + rank window
    val prefix = CacheScope.persist(
      sh.join(freq, "shingle")
        .withColumn("r", row_number().over(w))
        .filter(col("r") <=
          col("n_shingles") - ceil(lit(threshold) * col("n_shingles")) + 1)
        .select(col(idCol), col("shingle")))
    // the prefix trick bounds posting lists on ZIPFIAN corpora; a corpus of
    // outright replica floods still self-joins quadratically (every replica
    // shares the full rare prefix) — same budget, same loud failure
    val guarded = Guards.pairBudget(prefix, Seq("shingle"), maxPairs,
      "Dedup.ngramJaccardPairs(prefixFilter=true)")
    val cands = guarded.select(col(idCol).as("id_a"), col("shingle"))
      .join(guarded.select(col(idCol).as("id_b"), col("shingle")), "shingle")
      .filter(col("id_a") < col("id_b"))
      .select("id_a", "id_b").distinct()
    jaccard(sets, idCol, cands).filter(col("jaccard") >= threshold)
  }

  /** Connected components over an undirected near-dup pair list — the
    * cluster-resolution step that turns pairs into dedup groups (keep
    * `min(id)` per component). Iterative min-label propagation: each round
    * every vertex adopts the minimum label among itself and its neighbors,
    * converging in O(diameter) rounds. Near-dup graphs have tiny diameters,
    * so a handful of joins; a [[graft.Lineage]] cut truncates the growing
    * lineage each round (the classic iterative-DataFrame trap) and releases
    * only its own blocks once superseded. Each round is ONE union of own
    * and neighbour labels into one aggregate per id, and the driver-side
    * loop reads the round's relabeled count off that cut's own job — no
    * probe job, and data never leaves the executors.
    *
    * Throws if `maxIter` rounds pass without convergence — partially-merged
    * labels would silently produce wrong dedup groups. `maxIter` bounds the
    * graph DIAMETER, not its size; near-dup graphs are star-/clique-shaped,
    * so the default is generous (raise it only for pathological chains).
    *
    * Returns (id, component) where component = min id reachable. */
  def connectedComponents(pairs: DataFrame, aCol: String = "id_a",
                          bCol: String = "id_b", maxIter: Int = 25): DataFrame = {
    // the union reads `pairs` TWICE (one scan per direction): without this
    // persist an expensive upstream pipeline (e.g. the whole minhash
    // near-dup chain) recomputes per scan. Scoped: dropped as soon as the
    // eager edge checkpoint below has materialized.
    val pairsP = pairs.persist()
    // EAGER localCheckpoint of the edge frame (the Graph.pageRank/hits
    // rationale): a persisted frame keeps its full logical lineage, so
    // every label round re-embedded and re-ANALYZED the whole upstream
    // near-dup pipeline (minhash chain and friends) in its plan — pure
    // single-threaded driver cost per round. The cut truncates each
    // round's plan to LogicalRDD leaves, and its measured row count keeps
    // the per-round label join estimate-driven (broadcast while labels
    // are small, SMJ at scale) with no persist over it.
    val edgesCut = Lineage.cut(
      pairsP.select(col(aCol).as("src"), col(bCol).as("dst"))
        .union(pairsP.select(col(bCol).as("src"), col(aCol).as("dst")))
        .distinct())
    val edges = edgesCut.frame
    pairsP.unpersist(blocking = false) // edges checkpoint is materialized
    // each round is one cut of (id, next, component) whose own job counts
    // the ids it relabels; round 1 reads the edges alone (every id starts
    // as its own label, so its neighbours' labels are their ids). Each cut
    // is released as soon as the next round supersedes it — waiting for
    // the ContextCleaner instead leaks O(rounds) block sets into later
    // queries' memory budget
    val relabeled = count(when(col("next") < col("component"), true))
    var labelCut: Option[Lineage.Cut] = None
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val round = labelCut match {
        case None =>
          edges.groupBy(col("src").as("id")).agg(min(col("dst")).as("__nbr"))
            .select(col("id"), least(col("id"), col("__nbr")).as("next"),
              col("id").as("component"))
        case Some(c) =>
          // own and neighbour labels in one union, one aggregate per id
          val labels = c.frame.select(col("id"), col("next").as("component"))
          labels.withColumn("__own", lit(true))
            .union(edges.join(labels, edges("dst") === labels("id"))
              .select(col("src").as("id"), col("component"), lit(false)))
            .groupBy(col("id"))
            .agg(min(col("component")).as("next"),
              max(when(col("__own"), col("component"))).as("component"))
      }
      val next = Lineage.cut(round, relabeled)
      converged = next.observed.getLong(1) == 0L
      labelCut.foreach(_.release()) // superseded once `next` exists
      labelCut = Some(next)
      i += 1
    }
    // labels are cut (no lineage on edges), so the edge blocks can drop now
    edgesCut.release()
    if (!converged) {
      labelCut.foreach(_.release())
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds — the pair " +
          "graph has a longer diameter; raise maxIter (partially-merged labels " +
          "would corrupt dedup groups, so this fails instead of returning them)")
    }
    // the returned frame is backed by the final round's checkpoint blocks —
    // they must outlive this call; CacheScope gives harnesses/callers the
    // scoped release point (Bench/Verify sweep after each query's action)
    CacheScope.register(labelCut.get)
    labelCut.get.frame.select(col("id"), col("next").as("component"))
  }

  /** Keep one representative per near-dup cluster: drops every doc whose
    * component label differs from its own id (the representative is the
    * minimum id). Docs not in any pair are untouched. One broadcast-able
    * anti-join against the (small) non-representative set. */
  def keepRepresentatives(docs: DataFrame, idCol: String,
                          components: DataFrame): DataFrame = {
    val drop = components.filter(col("id") =!= col("component"))
      .select(col("id").as(idCol))
    docs.join(drop, Seq(idCol), "left_anti")
  }

  /** Quality-aware representative selection: where
    * [[keepRepresentatives]] keeps each duplicate cluster's MIN-ID
    * member (arbitrary), this keeps its BEST member by `scoreCol`
    * (quality score, length, recency — higher wins, ties to the lower
    * id so the choice stays a pure function of the corpus). The
    * difference is real data quality: a near-dup cluster usually holds
    * one clean copy and N mangled ones, and min-id picks blindly.
    *
    * One [[graft.functions.ArgMinBy]] aggregation per component over
    * the (id, component, score) join — map-side combinable, one entry
    * of state per cluster, no window — then a broadcast semi-join of
    * the winner set. Docs outside any component pass through (they are
    * their own cluster). NULL scores fail loudly (a NULL would silently
    * lose to every real score). */
  def keepBestRepresentatives(docs: DataFrame, idCol: String,
                              scoreCol: String,
                              components: DataFrame): DataFrame = {
    Guards.requireNoReserved(docs.columns, Seq("__best", "__neg"),
      "keepBestRepresentatives")
    val score = when(col(scoreCol).isNull, raise_error(lit(
        s"keepBestRepresentatives: $scoreCol must be non-null — a NULL " +
          "score would silently lose every cluster; impute first")))
      .otherwise(col(scoreCol).cast("double"))
    val scored = components
      .join(docs.select(col(idCol).as("id"), score.as("__s")), "id")
    // argmin of (−score) with ties to the LOWER id = argmax of score,
    // deterministic — one entry of state per component
    val winners = scored.groupBy(col("component"))
      .agg(graft.functions.ArgMinBy.argminBy(
        negate(col("__s")), col("id").cast("long"),
        array().cast("array<float>")).as("__best"))
      .select(col("__best").getField("id").as(idCol))
    val inComponents = components.select(col("id").as(idCol))
    docs.join(inComponents, Seq(idCol), "left_anti")
      .unionByName(docs.join(winners, Seq(idCol), "left_semi"))
  }

  /** C4-style repeated-span removal: partition each document's token stream
    * into `n`-token spans (trailing span may be short), drop every span whose
    * exact text already occurred earlier in the corpus (first occurrence =
    * minimum `(id, span_index)`), and reassemble the surviving spans. Every
    * document comes back — `(id, n_spans, n_kept, text_dedup)` — with
    * token-normalized text (the same normalization [[TextOps.tokens]]
    * applies corpus-wide); a document with no tokens has 0 spans and `''`.
    *
    * Scale design: the first-occurrence winner per span is a map-side
    * combinable `min(struct(id, span))` aggregation, NOT a row_number
    * window — a boilerplate span repeated millions of times combines to one
    * row per map task instead of sorting one giant window partition. The
    * join back on span text is an equi-join AQE can skew-split. */
  def spanDedup(docs: DataFrame, idCol: String, textCol: String,
                n: Int = 8): DataFrame = {
    val spans = TextOps.chunks(docs, idCol, textCol, chunkSize = n, overlap = 0)
    val winners = spans.groupBy(col("chunk_text"))
      .agg(min(struct(col(idCol), col("chunk_id"))).as("__w"))
    val marked = spans.join(winners, "chunk_text")
      .withColumn("keep", struct(col(idCol), col("chunk_id")) === col("__w"))
    val agged = marked.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_spans"),
      count(when(col("keep"), 1)).as("n_kept"),
      array_join(
        transform(
          array_sort(collect_list(when(col("keep"),
            struct(col("chunk_id"), col("chunk_text"))))),
          x => x.getField("chunk_text")), " ").as("text_dedup"))
    docs.select(col(idCol)).join(agged, Seq(idCol), "left")
      .na.fill(0L, Seq("n_spans", "n_kept"))
      .na.fill("", Seq("text_dedup"))
  }

  /** Incremental-ingestion dedup: of a NEW batch, keep only documents that
    * duplicate nothing in the existing REFERENCE corpus — neither exactly
    * (md5 of the text) nor nearly (MinHash-LSH + exact-Jaccard verify at
    * `threshold`, the same pipeline as [[minhashNearDups]] but with
    * candidates restricted to new×reference bucket collisions). Returns the
    * surviving new-batch rows with all their columns. New-batch documents
    * never interact with each other, so running the cheap exact filter first
    * cannot change any other document's outcome.
    *
    * Scale design: the reference corpus contributes only 16-byte text
    * hashes, minhash band signatures, and candidate shingle sets — never its
    * full rows; at a steady-state ingest (new ≪ reference) the exact-hash
    * and band frames of the new side are the small, broadcast-able sides of
    * every join. */
  def incrementalDedup(newDocs: DataFrame, refDocs: DataFrame,
                       idCol: String, textCol: String,
                       k: Int = 16, rowsPerBand: Int = 4,
                       threshold: Double = 0.5): DataFrame = {
    val refSets = CacheScope.persist(
      TextOps.shingleSets(refDocs, idCol, textCol, 3))
    val index = RefIndex(
      refDocs.select(md5(col(textCol)).as("__md5")).distinct(),
      refBandsFrom(refSets, idCol, k, rowsPerBand),
      refSets, k, rowsPerBand)
    incrementalDedupWithIndex(newDocs, index, idCol, textCol, threshold)
  }

  /** Precomputed reference-corpus index for steady-state incremental
    * ingest: the exact-dup hash set, the LSH band signatures, and the
    * shingle sets of the reference — everything [[incrementalDedupWithIndex]]
    * touches on the reference side. Build once with [[buildRefIndex]],
    * persist the three frames (parquet), and every subsequent batch skips
    * re-shingling/re-hashing the reference corpus entirely: at new ≪ ref
    * scale the per-batch cost becomes proportional to the BATCH, not the
    * corpus. `k`/`rowsPerBand` are carried so the new side's signatures are
    * always banded compatibly with the index. */
  final case class RefIndex(hashes: DataFrame, bands: DataFrame,
                            sets: DataFrame, k: Int, rowsPerBand: Int)

  /** Build a [[RefIndex]] from the reference corpus (one shingling pass). */
  def buildRefIndex(refDocs: DataFrame, idCol: String, textCol: String,
                    k: Int = 16, rowsPerBand: Int = 4): RefIndex = {
    val sets = TextOps.shingleSets(refDocs, idCol, textCol, 3)
    RefIndex(
      refDocs.select(md5(col(textCol)).as("__md5")).distinct(),
      refBandsFrom(sets, idCol, k, rowsPerBand),
      sets, k, rowsPerBand)
  }

  private def refBandsFrom(sets: DataFrame, idCol: String,
                           k: Int, rowsPerBand: Int): DataFrame =
    lshBands(minhashSignatures(sets, idCol, k), idCol, rowsPerBand)

  /** [[incrementalDedup]] against a precomputed [[RefIndex]]: identical
    * results, but the reference corpus' text column is never read — only
    * the (much smaller, persistable) hash/band/shingle-set frames are. */
  def incrementalDedupWithIndex(newDocs: DataFrame, ref: RefIndex,
                                idCol: String, textCol: String,
                                threshold: Double = 0.5): DataFrame = {
    // stage 1: exact text dup vs the reference (left_anti on the 16-byte md5)
    val fresh = newDocs.withColumn("__md5", md5(col(textCol)))
      .join(ref.hashes, Seq("__md5"), "left_anti")
      .drop("__md5")
    // stage 2: near-dup vs the reference — candidates are new×ref band
    // collisions only (no new×new, no ref×ref pairs are ever generated)
    val newSets = CacheScope.persist(
      TextOps.shingleSets(fresh, idCol, textCol, 3))
    val newBands = refBandsFrom(newSets, idCol, ref.k, ref.rowsPerBand)
    val cands = newBands.select(col(idCol).as("id_a"), col("band"), col("sig"))
      .join(ref.bands.select(col(idCol).as("id_b"), col("band"), col("sig")),
        Seq("band", "sig"))
      .select("id_a", "id_b").distinct()
    val a = newSets.select(col(idCol).as("id_a"),
      col("shingles").as("shs_a"), col("n_shingles").as("n_a"))
    val b = ref.sets.select(col(idCol).as("id_b"),
      col("shingles").as("shs_b"), col("n_shingles").as("n_b"))
    val nearDupIds = cands.join(a, "id_a").join(b, "id_b")
      .withColumn("inter", size(array_intersect(col("shs_a"), col("shs_b"))))
      .filter(col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double") >= threshold)
      .select(col("id_a").as(idCol)).distinct()
    fresh.join(nearDupIds, Seq(idCol), "left_anti")
  }

  /** SimHash: 32-bit fingerprint = majority vote per bit over the md5-derived
    * 32-bit hashes of the document's distinct tokens.
    *
    * Token de-dup happens per-row (`array_distinct` — no global distinct
    * shuffle), and the 32 bit-votes are 32 map-side-combinable `sum`
    * aggregates over one token explode — a single shuffle of 32 ints per
    * doc, instead of exploding every token 32× through two shuffles. */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val toks = df.select(col(idCol),
      explode(array_distinct(TextOps.tokens(col(textCol)))).as("w"))
    val hashed = toks.withColumn("h",
      conv(substring(md5(col("w")), 1, 8), 16, 10).cast("long"))
    val votes = (0 until 32).map(j =>
      sum(when(col("h").bitwiseAND(lit(1L << j)) > 0, 1).otherwise(-1)).as(s"v$j"))
    hashed.groupBy(col(idCol))
      .agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until 32).map(j => when(col(s"v$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** Near-dup pairs by SimHash hamming distance ≤ maxHamming, found via
    * chunk banding: with 4 8-bit chunks, hamming ≤ 3 implies at least one
    * identical chunk (pigeonhole), so candidates come from equi-joins on
    * chunk values, never a cross join. */
  def simhashPairs(fps: DataFrame, idCol: String, maxHamming: Int = 3,
                   maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    val nChunks = maxHamming + 1
    val chunkBits = 32 / nChunks
    // shiftright is exact by construction (the double-pow/divide alternative
    // is exact only while the fingerprint fits a double's mantissa)
    // pair budget over the chunk buckets: a flood of (near-)identical
    // fingerprints puts every replica in the same nChunks buckets, so the
    // equi-join output is nChunks·C(m,2) — quadratic in the flood size;
    // the budget's Σ C(m,2) over (c, chunk_val) is exactly that row count
    val chunked = Guards.pairBudget(
      fps.select(col(idCol), col("simhash"),
          explode(sequence(lit(0), lit(nChunks - 1))).as("c"))
        .withColumn("chunk_val",
          expr(s"shiftright(simhash, c * $chunkBits)") % (1L << chunkBits)),
      Seq("c", "chunk_val"), maxPairs, "Dedup.simhashPairs")
    val a = chunked.select(col(idCol).as("id_a"), col("simhash").as("fp_a"), col("c"), col("chunk_val"))
    val b = chunked.select(col(idCol).as("id_b"), col("simhash").as("fp_b"), col("c"), col("chunk_val"))
    // each pair is emitted once, at its FIRST matching chunk: a candidate at
    // chunk c survives only if every earlier chunk differs. A pure filter on
    // the two fingerprints — replaces a distinct() (a full shuffle of the
    // candidate pairs) with codegen'd bit arithmetic.
    def chunkAt(fp: String, k: Int) =
      expr(s"shiftright($fp, ${k * chunkBits})") % (1L << chunkBits)
    val firstMatchOnly = (0 until nChunks - 1)
      .map(k => (col("c") <= k) || (chunkAt("fp_a", k) =!= chunkAt("fp_b", k)))
      .reduce(_ && _)
    a.join(b, Seq("c", "chunk_val")).filter(col("id_a") < col("id_b"))
      .filter(firstMatchOnly)
      .withColumn("hamming", bit_count(col("fp_a").bitwiseXOR(col("fp_b"))))
      .filter(col("hamming") <= maxHamming)
      .select("id_a", "id_b", "hamming")
  }

  /** Exact duplicated-SUBSTRING occurrences (the Lee et al. 2022
    * "Deduplicating Training Data Makes Language Models Better" tier
    * between [[spanDedup]]'s token chunks and [[minhashNearDups]]'s
    * whole-document similarity): every `minLen`-character window sampled
    * at `stride` is a gram; an occurrence is a removable duplicate iff its
    * gram occurs ≥2 times corpus-wide (within- OR cross-document) and the
    * occurrence is not the canonical first (minimum `(id, pos)`). Returns
    * one row per sampled occurrence: `(id, pos, len, dup)` — the dup=true
    * spans are what a cleaning pass cuts, keeping exactly one copy of
    * every duplicated substring in the corpus.
    *
    * Scale design (NEVER all-pairs): occurrences group by gram — a
    * map-side-combinable `count` + `min(struct(id, pos))` winner
    * aggregation, so a boilerplate string repeated millions of times
    * combines to one row per map task instead of sorting one giant window
    * partition (the [[spanDedup]] lesson); the mark-back is an equi-join
    * on the gram AQE can skew-split. Candidate volume is Σ len/stride rows
    * of ≤ `minLen` bytes each — `stride` is the cost dial, and its recall
    * semantics are PHASE-SENSITIVE because BOTH occurrences are sampled:
    * two occurrences match only if they sample the same window, i.e.
    * their offset difference ≡ 0 (mod stride). Phase-ALIGNED duplicates —
    * whole-document replicas, shared prefixes, copy-paste at equal
    * offsets, the dominant mass in web corpora — are caught with the
    * `minLen + stride − 1` length floor; an arbitrary-phase shared
    * substring is caught with probability ~1/stride at any length
    * (measured: `substringfloor.json`, SCALE.md §Round-13).
    * For guaranteed phase-independent detection use stride 1 here, or
    * [[decontaminationCut]], whose PROBE side is exhaustive so only one
    * side's phase matters. With `hashShuffle` the join/group key is
    * `xxhash64(gram)` — 8 bytes instead of `minLen` — at a ~n²/2⁶⁴
    * false-collision risk; the DuckDB oracle replays the exact
    * (default) mode only. */
  /** Every `minLen`-char window of `textCol` sampled at `stride`:
    * `(id, pos, gram)`. Docs shorter than `minLen` contribute nothing. */
  private def gramOccurrences(docs: DataFrame, idCol: String,
                              textCol: String, minLen: Int,
                              stride: Int): DataFrame =
    docs
      .where(length(col(textCol)) >= minLen)
      .select(col(idCol),
        explode(sequence(lit(1), length(col(textCol)) - (minLen - 1),
          lit(stride))).as("pos"),
        col(textCol))
      .select(col(idCol), col("pos"),
        col(textCol).substr(col("pos"), lit(minLen)).as("gram"))

  def substringSpans(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 30, stride: Int = 10,
                     hashShuffle: Boolean = false): DataFrame = {
    require(minLen > 0 && stride > 0, s"minLen/stride must be positive")
    markCanonicalDups(gramOccurrences(docs, idCol, textCol, minLen, stride),
      idCol, minLen, hashShuffle)
  }

  /** Corpus-wide canonical-first duplicate marking over `(idCol, pos,
    * gram)` occurrence rows — the shared tail of [[substringSpans]] and
    * [[winnowedSpans]]: group by gram (map-side-combinable `count` +
    * `min(struct(id, pos))` winner), mark every non-canonical occurrence
    * of a ≥2-count gram, join the marks back on the gram key. Callers
    * whose occurrence frame is expensive to derive should persist it
    * (winnowing's per-doc sort + window): the agg and join consumers sit
    * under DIFFERENT inferred-filter pushdowns (isnotnull on the join
    * keys only), so their exchange subtrees are never canonically equal
    * and ReusedExchange cannot dedup them — measured: the winnow
    * selection ran twice without the persist. [[substringSpans]] stays
    * unpersisted on purpose: its occurrences are one cheap projection,
    * and the separate agg-side exchange buys map-side combine on flooded
    * grams (millions of identical-boilerplate rows collapse to one per
    * map task before shuffling). */
  private def markCanonicalDups(occ: DataFrame, idCol: String, len: Int,
                                hashShuffle: Boolean): DataFrame = {
    val key: Column = if (hashShuffle) xxhash64(col("gram")) else col("gram")
    val keyed = occ.withColumn("__k", key).drop("gram")
    val winners = keyed.groupBy(col("__k"))
      .agg(count(lit(1)).as("__cnt"),
        min(struct(col(idCol), col("pos"))).as("__w"))
    keyed.join(winners, "__k")
      .withColumn("dup",
        col("__cnt") >= 2 && struct(col(idCol), col("pos")) =!= col("__w"))
      .select(col(idCol), col("pos"), lit(len).as("len"), col("dup"))
  }

  /** Per-document rollup of [[substringSpans]]: `(id, n_grams, n_dup)` for
    * EVERY input document (docs shorter than `minLen` report 0/0). n_dup /
    * n_grams is the document's duplicated-substring mass — the score a
    * curation pipeline thresholds on, and the numerator of the corpus-level
    * duplication rate. */
  def substringDedup(docs: DataFrame, idCol: String, textCol: String,
                     minLen: Int = 30, stride: Int = 10,
                     hashShuffle: Boolean = false): DataFrame = {
    val spans = substringSpans(docs, idCol, textCol, minLen, stride, hashShuffle)
    val agged = spans.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_grams"),
      count(when(col("dup"), 1)).as("n_dup"))
    docs.select(col(idCol)).join(agged, Seq(idCol), "left")
      .na.fill(0L, Seq("n_grams", "n_dup"))
  }

  /** The CUT pass over [[substringSpans]] (the step Lee et al. actually
    * ship): removes every duplicate-marked span from each document —
    * keeping the corpus-wide canonical first occurrence of every
    * duplicated substring — and returns `(id, cleaned_text,
    * removed_chars)` for EVERY input document (unaffected docs pass
    * through verbatim).
    *
    * Scale design: dup spans from the same repeated region overlap
    * heavily (stride sampling), so they are first UNION-merged per
    * document with the classic sweep — one window over (id, pos): a
    * growing-frame running `max(end)` detects gaps, a running sum numbers
    * the merged groups; both frames are O(1)-per-row in WindowExec and
    * share one sort. The merged intervals then `collect_list` per doc
    * (bounded by len/stride PER DOCUMENT, never by the corpus) and one
    * `aggregate` higher-order fold splices the kept segments — cursor
    * starts at 1, each interval appends `text[cursor, start)` and jumps
    * the cursor to its end, the finisher appends the tail. Total cost:
    * the [[substringSpans]] shuffles + one keyed window + one join back
    * to the docs — no per-character rows anywhere (the DuckDB oracle
    * uses a per-char anti-join instead, which is only viable at test
    * scale). */
  def substringCut(docs: DataFrame, idCol: String, textCol: String,
                   minLen: Int = 30, stride: Int = 10,
                   hashShuffle: Boolean = false): DataFrame = {
    val dups = substringSpans(docs, idCol, textCol, minLen, stride, hashShuffle)
      .filter(col("dup"))
      .select(col(idCol), col("pos"), (col("pos") + col("len")).as("__end"))
    cutSpans(docs, idCol, textCol, dups)
  }

  /** Union-merges `spans` (`(idCol, pos, __end)`, end exclusive) per
    * document and splices the kept segments back together — the shared
    * cut engine behind [[substringCut]] and [[decontaminationCut]]. See
    * [[substringCut]] for the sweep/splice scale argument. */
  private def cutSpans(docs: DataFrame, idCol: String, textCol: String,
                       spans: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val order = Window.partitionBy(col(idCol)).orderBy(col("pos"), col("__end"))
    val sweep = spans
      // growing frame ending BEFORE the current row: the furthest end seen
      // so far; a span starting at or before it overlaps/abuts → same group
      .withColumn("__maxend",
        max(col("__end")).over(order.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__grp",
        sum(when(col("__maxend").isNull || col("pos") > col("__maxend"), 1)
          .otherwise(0))
          .over(order.rowsBetween(Window.unboundedPreceding, 0)))
    val merged = sweep.groupBy(col(idCol), col("__grp"))
      .agg(min(col("pos")).as("start"), max(col("__end")).as("end"))
    val ivs = merged.groupBy(col(idCol))
      .agg(array_sort(collect_list(struct(col("start"), col("end")))).as("__ivs"))
    docs.join(ivs, Seq(idCol), "left")
      .withColumn("cleaned_text",
        when(col("__ivs").isNull, col(textCol)).otherwise(aggregate(
          col("__ivs"),
          struct(lit(1).as("cur"), lit("").as("s")),
          (acc, iv) => struct(
            iv.getField("end").as("cur"),
            concat(acc.getField("s"), col(textCol)
              .substr(acc.getField("cur"),
                iv.getField("start") - acc.getField("cur"))).as("s")),
          acc => concat(acc.getField("s"), col(textCol)
            .substr(acc.getField("cur"),
              length(col(textCol)) - acc.getField("cur") + lit(1))))))
      .withColumn("removed_chars",
        (length(col(textCol)) - length(col("cleaned_text"))).cast("long"))
      .select(col(idCol), col("cleaned_text"), col("removed_chars"))
  }

  /** Benchmark decontamination at SPAN level (the GPT-3/PaLM-style n-gram
    * overlap removal, upgraded from drop-the-document to cut-the-span):
    * any `minLen`-char substring of a training document that also appears
    * ANYWHERE in the `probe` corpus (the benchmark/eval set) is removed,
    * and the document's remaining segments are stitched back together —
    * `(id, cleaned_text, removed_chars)` for every input document.
    *
    * Detection guarantee: probe grams are EXHAUSTIVE (stride 1) while the
    * training side samples at `stride`, so any shared substring of length
    * ≥ `minLen + stride − 1` is caught regardless of alignment phase
    * (some sampled training gram must land fully inside it). `stride`
    * trades candidate volume for the detection floor, exactly as in
    * [[substringSpans]].
    *
    * Scale design: the probe side is an eval set — tiny next to the
    * corpus — so its distinct gram frame BROADCASTS by default
    * (`broadcastProbe = false` falls back to a shuffle join for
    * multi-GB probes); the corpus side is one gram explode + one
    * LEFT SEMI join (no fan-out possible: probe grams are distinct), then
    * the shared [[cutSpans]] merge/splice. The corpus is scanned twice
    * (hit detection + splice-back), never self-joined. */
  def decontaminationCut(docs: DataFrame, idCol: String, textCol: String,
                         probe: DataFrame, probeTextCol: String,
                         minLen: Int = 30, stride: Int = 10,
                         broadcastProbe: Boolean = true): DataFrame = {
    require(minLen > 0 && stride > 0, s"minLen/stride must be positive")
    val probeGrams0 = probe
      .where(length(col(probeTextCol)) >= minLen)
      .select(explode(sequence(lit(1),
        length(col(probeTextCol)) - (minLen - 1), lit(1))).as("__p"),
        col(probeTextCol))
      .select(col(probeTextCol).substr(col("__p"), lit(minLen)).as("gram"))
      .distinct()
    val probeGrams = if (broadcastProbe) broadcast(probeGrams0) else probeGrams0
    val hits = gramOccurrences(docs, idCol, textCol, minLen, stride)
      .join(probeGrams, Seq("gram"), "left_semi")
      .select(col(idCol), col("pos"), (col("pos") + lit(minLen)).as("__end"))
    cutSpans(docs, idCol, textCol, hits)
  }

  /** Winnowing fingerprint selection (Schleimer, Wilkerson & Aiken,
    * "Winnowing: Local Algorithms for Document Fingerprinting", SIGMOD
    * 2003 — the MOSS algorithm): every `noise`-char gram of the document
    * is a candidate; in each window of `w = minLen − noise + 1`
    * consecutive gram positions the gram with the minimal hash is
    * selected, ties broken by the leftmost position. Selection is a pure
    * function of window CONTENT, which buys the guarantee stride sampling
    * cannot give (`substringfloor.json`: stride 10 catches 17.4% of
    * phase-SHIFTED dup mass): any substring of length ≥ `minLen` shared
    * by two documents — at ANY alignment — contains one full gram window
    * in each copy with identical contents, both copies pick the same
    * content-relative minimum (equal grams within one window keep their
    * relative order under the absolute-position tie-break), so both emit
    * an identical fingerprint. Matches shorter than `noise` chars are
    * never detected (the noise threshold); expected density is ~2/(w+1)
    * on non-degenerate text (a run of one repeated character degrades to
    * density 1 under any positional tie-break — and its grams are
    * corpus-wide duplicates anyway).
    *
    * Scale design: selection never leaves the document's row. One kernel
    * pass ([[graft.functions.WinnowSelect]]) walks the codepoint offsets
    * once, hashes every gram as the first 40 bits of md5 over its UTF-8
    * bytes, and keeps each full window's argmin with a monotone deque —
    * O(len) per document, so an outlier-length document costs its length,
    * not its length squared. Min-by-hash is standard winnowing (MOSS hashes
    * its k-grams); the any-alignment guarantee is preserved because
    * selection is still a pure function of window content, with the
    * absolute position breaking hash ties deterministically. The document
    * never explodes into one row per character: only the selected ~2n/(w+1)
    * fingerprints leave the kernel, as rows of this frame, and only they
    * reach the corpus-wide gram shuffle — cross-partition volume matches
    * stride ≈ (w+1)/2 sampling while the detection guarantee holds at any
    * phase. The gram hash is PORTABLE (the first 40 bits of md5 — the same
    * engine-portable derivation as every other dedup hash here) so the
    * DuckDB oracle twins replay the identical selection with a packed
    * `hash(40b) ∥ pos(21b) ∥ validStart(1b)` window key; documents longer
    * than those 21 position bits fail loudly, naming the id. Returns
    * `(idCol, pos, gram)`, gram length = `noise`; rows sharing an id each
    * contribute their own fingerprints. */
  def winnowFingerprints(docs: DataFrame, idCol: String, textCol: String,
                         minLen: Int = 30, noise: Int = 21): DataFrame =
    docs.select(col(idCol),
        explode(winnowSelected(idCol, textCol, minLen, noise)).as("__fp"))
      .select(col(idCol), col("__fp.pos").as("pos"), col("__fp.gram").as("gram"))

  /** The winnow kernel over `textCol`, behind the loud length guard. */
  private def winnowSelected(idCol: String, textCol: String, minLen: Int,
                             noise: Int): Column = {
    val posMask = (1L << WinnowPosBits) - 1
    // the oracle twins' packed key holds 21 position bits and would
    // silently alias longer documents — fail loudly per offending document
    val text = when(length(col(textCol)) > lit(posMask),
        raise_error(concat(
          lit(s"Dedup.winnowFingerprints: document longer than $posMask " +
            "chars (id "), col(idCol).cast("string"),
          lit(") — the packed selection key holds 21 position bits; " +
            "split the document first"))).cast("string"))
      .otherwise(col(textCol))
    graft.functions.DedupKernels.winnow(text, minLen, noise)
  }

  /** Constants of the packed winnow selection key the DuckDB twins replay
    * (see [[winnowFingerprints]]): a 40-bit md5-prefix gram hash (10 hex
    * chars), 21 position bits, 1 valid-start flag bit = 62 bits — a
    * non-negative BIGINT in both Spark and DuckDB (whose checked
    * arithmetic would error on overflow rather than wrap). */
  private[graft] val WinnowHashHexChars = 10 // 40 bits
  private[graft] val WinnowPosBits = 21

  /** [[substringSpans]] with winnowing selection instead of stride
    * sampling: dup-marked occurrence rows `(idCol, pos, len = noise,
    * dup)` over the winnowed fingerprints. Every substring ≥ `minLen`
    * chars shared anywhere in the corpus marks at least one fingerprint
    * dup in each non-canonical copy, regardless of alignment phase. */
  def winnowedSpans(docs: DataFrame, idCol: String, textCol: String,
                    minLen: Int = 30, noise: Int = 21,
                    hashShuffle: Boolean = false): DataFrame =
    // persisted: the winner aggregate and the mark-back join both consume
    // the fingerprint frame, and asymmetric inferred-filter pushdown makes
    // their subtrees canonically unequal (no ReusedExchange — see
    // markCanonicalDups). The frame is the SELECTED ~2n/(w+1) fingerprints,
    // already shrunk by the selection window, so the cache is small
    markCanonicalDups(
      CacheScope.persist(
        winnowFingerprints(docs, idCol, textCol, minLen, noise)),
      idCol, noise, hashShuffle)

  /** Per-document rollup of [[winnowedSpans]]: `(id, n_fp, n_dup)` for
    * EVERY input document (docs shorter than `minLen` report 0/0).
    * n_dup / n_fp is the phase-robust duplicated-fingerprint mass — the
    * winnowed twin of [[substringDedup]]'s score. */
  def winnowedDedup(docs: DataFrame, idCol: String, textCol: String,
                    minLen: Int = 30, noise: Int = 21,
                    hashShuffle: Boolean = false): DataFrame = {
    val spans = winnowedSpans(docs, idCol, textCol, minLen, noise, hashShuffle)
    val agged = spans.groupBy(col(idCol)).agg(
      count(lit(1)).as("n_fp"),
      count(when(col("dup"), 1)).as("n_dup"))
    docs.select(col(idCol)).join(agged, Seq(idCol), "left")
      .na.fill(0L, Seq("n_fp", "n_dup"))
  }

  /** The CUT pass over [[winnowedSpans]]: every dup-marked fingerprint's
    * `noise`-char span is removed (corpus-wide canonical first occurrence
    * kept), merged and spliced by the shared [[cutSpans]] engine.
    * Winnowing guarantees consecutive fingerprints are ≤ w positions
    * apart, so when `noise ≥ w` (true at the defaults: 21 ≥ 10) the dup
    * spans inside a long duplicated region overlap into ONE merged
    * interval — coverage of a shared region is contiguous from its first
    * to its last duplicated fingerprint.
    *
    * `edgePad` extends every dup span by that many chars on BOTH sides
    * before merging. The selection guarantee bounds a true duplicated
    * region's extent to < w−1 chars beyond its extreme dup fingerprints
    * (one more full in-region gram window would have selected another
    * shared fingerprint), so `edgePad = w−1` guarantees COMPLETE coverage
    * of every ≥minLen duplicated region — measured 0.80 → 1.00 caught
    * char mass on the adversarial fixture — at a bounded over-cut of up
    * to 2(w−1) non-duplicated chars per region (measured 19–24% of cut
    * chars; `substringfloor.json` pad rows). Default 0: the precise
    * Lee-et-al-style cut; turn the dial when recall beats precision. */
  def winnowedCut(docs: DataFrame, idCol: String, textCol: String,
                  minLen: Int = 30, noise: Int = 21,
                  hashShuffle: Boolean = false,
                  edgePad: Int = 0): DataFrame = {
    require(edgePad >= 0, "edgePad must be >= 0")
    val dups = winnowedSpans(docs, idCol, textCol, minLen, noise, hashShuffle)
      .filter(col("dup"))
      .select(col(idCol), (col("pos") - lit(edgePad)).as("pos"),
        (col("pos") + col("len") + lit(edgePad)).as("__end"))
    cutSpans(docs, idCol, textCol, dups)
  }

  /** Winnow fingerprint index of a REFERENCE corpus: the distinct
    * `noise`-char fingerprint grams its winnowing selects — the
    * incremental-ingestion counterpart of [[buildRefIndex]], at substring
    * rather than whole-document granularity. [[decontaminationCut]] needs
    * its probe side EXHAUSTIVE (every gram of the probe corpus), which is
    * only feasible for small eval sets; winnowing's content-defined
    * selection keeps the guarantee while indexing only ~2/(w+1) of the
    * reference's gram positions, so the reference side can be the BIG
    * corpus: any substring ≥ `minLen` chars shared between a new document
    * and any reference document selects an identical fingerprint on both
    * sides at any alignment. Write the frame out once; probe every
    * ingestion batch against it. */
  def buildWinnowIndex(refDocs: DataFrame, idCol: String, textCol: String,
                       minLen: Int = 30, noise: Int = 21): DataFrame =
    winnowFingerprints(refDocs, idCol, textCol, minLen, noise)
      .select(col("gram")).distinct()

  /** Incremental-ingestion duplicated-substring mass vs a
    * [[buildWinnowIndex]] reference index: `(id, n_fp, n_dup)` for every
    * NEW document, where n_dup counts its winnow fingerprints whose gram
    * appears in the index. No pair emission anywhere — one LEFT join on
    * the gram (the index is distinct, so no fan-out) — which means no
    * candidate-pair budget is needed: output is exactly one row per new
    * document however flooded either corpus is. `broadcastIndex` for
    * indexes that fit an executor; the default shuffle join handles the
    * multi-TB case. */
  def winnowIncrementalDedup(newDocs: DataFrame, index: DataFrame,
                             idCol: String, textCol: String,
                             minLen: Int = 30, noise: Int = 21,
                             broadcastIndex: Boolean = false): DataFrame = {
    // distinct() defensively: [[buildWinnowIndex]] output is already
    // distinct, but a caller growing the index incrementally (a UNION of
    // several builds) would otherwise fan out the left join and silently
    // inflate BOTH n_fp and n_dup — winnowIncrementalCut is immune via
    // left_semi, which made the asymmetry easy to miss (r13 ADVICE)
    val idx0 = index.select(col("gram")).distinct().withColumn("__hit", lit(1))
    val idx = if (broadcastIndex) broadcast(idx0) else idx0
    val fp = winnowFingerprints(newDocs, idCol, textCol, minLen, noise)
    val agged = fp.join(idx, Seq("gram"), "left")
      .groupBy(col(idCol)).agg(
        count(lit(1)).as("n_fp"),
        count(col("__hit")).as("n_dup"))
    newDocs.select(col(idCol)).join(agged, Seq(idCol), "left")
      .na.fill(0L, Seq("n_fp", "n_dup"))
  }

  /** The CUT pass against a [[buildWinnowIndex]] reference index: every
    * new-document fingerprint span whose gram appears in the index is
    * removed and the remaining segments spliced ([[cutSpans]]) —
    * incremental decontamination where the REFERENCE corpus is the big
    * side. Same contiguous-coverage property as [[winnowedCut]]. */
  def winnowIncrementalCut(newDocs: DataFrame, index: DataFrame,
                           idCol: String, textCol: String,
                           minLen: Int = 30, noise: Int = 21,
                           broadcastIndex: Boolean = false): DataFrame = {
    val idx0 = index.select(col("gram"))
    val idx = if (broadcastIndex) broadcast(idx0) else idx0
    val dups = winnowFingerprints(newDocs, idCol, textCol, minLen, noise)
      .join(idx, Seq("gram"), "left_semi")
      .select(col(idCol), col("pos"), (col("pos") + lit(noise)).as("__end"))
    cutSpans(newDocs, idCol, textCol, dups)
  }

  /** MOSS-style document-overlap pair mining over winnowed fingerprints
    * (Schleimer et al. 2003 §5 — the measure plagiarism detectors report):
    * a candidate pair shares at least one selected fingerprint, i.e. has
    * PROVABLE identical ≥`noise`-char content at ANY alignment; `shared`
    * counts the distinct shared fingerprint grams and `overlap` normalizes
    * by the smaller document's fingerprint-set size (containment-style: a
    * short excerpt inside a long document still scores high). Complements
    * [[minhashNearDups]] — MinHash estimates whole-document Jaccard
    * probabilistically, winnow overlap is exact shared-substring evidence,
    * robust to insertion and reordering, tunable down to excerpt length
    * via `noise`. Returns `(id_a, id_b, shared, overlap)` for pairs with
    * `shared >= minShared`.
    *
    * Scale design: one row per document until the posting join. The
    * kernel's selected grams are merged per id and deduplicated in the row
    * (`array_distinct`, rows sharing an id form one document), and the set
    * size rides on every posting row as `__n` — no global `distinct`, no
    * per-doc count aggregate, no join back of the set sizes. The merge
    * reuses the one exchange that spreads the kernel over all shuffle
    * partitions: whole documents cross it once, keyed by id. The postings
    * bucket by gram; the equi-join emits one row per (pair, shared gram) —
    * Σ_gram C(m,2) total, so the default [[Guards.pairBudget]] gates the
    * gram buckets exactly like the other pair miners (a boilerplate
    * fingerprint floods its bucket). The budget sits inside the persisted
    * posting frame (CacheScope), so its aggregate runs once while the
    * cache builds and both join sides read it; the per-pair `count` is
    * map-side combinable. */
  def winnowOverlapPairs(docs: DataFrame, idCol: String, textCol: String,
                         minLen: Int = 30, noise: Int = 21,
                         minShared: Int = 2,
                         maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    require(minShared >= 1, "minShared must be >= 1")
    val grams = winnowSelected(idCol, textCol, minLen, noise).getField("gram")
    // pinned partition count, not left to AQE coalescing: each shuffled
    // document byte fans out into one md5 per position in the kernel, so
    // byte-based coalescing would serialize the expensive stage
    val sets = docs.select(col(idCol), col(textCol))
      .repartition(docs.sparkSession.sessionState.conf.numShufflePartitions,
        col(idCol))
      .groupBy(col(idCol))
      .agg(array_distinct(flatten(collect_list(grams))).as("__grams"))
      .select(col(idCol), col("__grams"), size(col("__grams")).as("__n"))
    // `__n` is bound BEFORE the explode: a column the generator's select
    // still reads is copied into every output row, O(set²) per document
    val postings = sets.select(col(idCol), col("__n"),
      explode(col("__grams")).as("gram"))
    val fp = CacheScope.persist(Guards.pairBudget(postings, Seq("gram"),
      maxPairs, "Dedup.winnowOverlapPairs"))
    val a = fp.select(col(idCol).as("id_a"), col("gram"), col("__n").as("__na"))
    val b = fp.select(col(idCol).as("id_b"), col("gram"), col("__n").as("__nb"))
    a.join(b, Seq("gram")).filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("shared"), first(col("__na")).as("__na"),
        first(col("__nb")).as("__nb"))
      .filter(col("shared") >= minShared)
      .withColumn("overlap",
        col("shared").cast("double") / least(col("__na"), col("__nb")).cast("double"))
      .select(col("id_a"), col("id_b"), col("shared"), col("overlap"))
  }
}
