package graft

import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions — the scale contract of the engine.
  *
  * These lock in the plans that make the operators viable at 100 TB:
  * pruned scans, broadcast joins for small dimensions, a single window
  * pass for co-spec'd indicators, and shuffle reuse in the dedup
  * pipelines. A regression that, e.g., widens a scan or turns a broadcast
  * into a sort-merge join fails here long before a benchmark would. */
class PlanSpec extends AnyFunSuite {
  private lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("combined indicator query runs ONE Window pass over one shuffle") {
    val p = plan("q_indicators_combined")
    assert("(?m)^\\s*\\+?-? ?Window ".r.findAllIn(p).size == 1 ||
      p.split("\n").count(_.trim.startsWith("+- Window")) == 1,
      s"expected exactly one Window operator:\n$p")
    // one hash exchange for the window, one range exchange for the output sort
    assert(p.split("hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("ewma cov/var/corr trio shares ONE Window pass over one shuffle") {
    val p = plan("q_ewma_corr")
    assert(p.split("\n").count(_.trim.matches("^\\+?-? ?Window .*")) == 1,
      s"expected exactly one Window operator:\n$p")
    assert(p.split("hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("weighted median: running and total sums share one keyed exchange") {
    val p = plan("q_weighted_median")
    assert(p.split("hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("macd line+signal+hist share ONE Window pass over one shuffle") {
    val p = plan("q_macd_full")
    assert(p.split("\n").count(_.trim.matches("^\\+?-? ?Window .*")) == 1,
      s"expected exactly one Window operator:\n$p")
    assert(p.split("hashpartitioning").length - 1 == 1,
      s"expected exactly one hash exchange:\n$p")
  }

  test("indicator scan prunes lineitem to the referenced columns only") {
    val p = plan("q_sma")
    val readSchema = "ReadSchema: ([^\n]*)".r.findFirstMatchIn(p).map(_.group(1)).getOrElse("")
    assert(readSchema.contains("l_quantity") && !readSchema.contains("l_extendedprice"),
      s"scan should read only the referenced columns, got: $readSchema")
  }

  test("revenue query broadcasts the small dimension tables") {
    val p = plan("q_revenue_by_nation")
    assert(p.contains("BroadcastHashJoin"), s"expected broadcast joins:\n$p")
    assert(!p.contains("SortMergeJoin"), s"small dims must not sort-merge join:\n$p")
  }

  test("filter on parquet scan is pushed down to the source") {
    val df = spark.read.parquet(s"$sf/lineitem.parquet")
      .filter("l_quantity > 45.0").select("l_orderkey")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters: [IsNotNull(l_quantity), GreaterThan(l_quantity,45.0)]"),
      s"expected pushed filters in scan:\n$p")
  }

  test("minhash signature aggregation reuses the shingleSets partitioning") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sets = operators.TextOps.shingleSets(docs, "doc_id", "text", 3)
    val sigs = operators.Dedup.minhashSignatures(sets, "doc_id", 8)
    val p = sigs.queryExecution.executedPlan.toString
    // the only exchange is the explicit repartition(doc_id); groupBy(doc_id)
    // is satisfied by it, so no second shuffle appears
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected a single hash exchange (the repartition):\n$p")
  }

  test("as-of join is one keyed window pass, not a join") {
    import spark.implicits._
    val l = Seq((1L, 10L, "x")).toDF("lk", "lt", "lv")
    val r = Seq((1L, 5L, 1.0)).toDF("rk", "rt", "rv")
    val p = operators.AsofJoin.asofJoin(l, r, "lk", "rk", "lt", "rt")
      .queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"asof must not plan a join:\n$p")
    assert(p.contains("Window"), s"expected the carry-forward window:\n$p")
    assert(p.split("Exchange hashpartitioning").length - 1 == 1,
      s"expected exactly one keyed exchange:\n$p")
  }

  test("gap validation LAG is hash-partitioned — no full-table global sort") {
    val p = plan("q_validate_gaps")
    // the big window (LAG over every order row) must shuffle BY MONTH; the
    // only SinglePartition window allowed is the per-month boundary pass,
    // which runs over ~one row per month after the bounds aggregate
    assert(p.contains("hashpartitioning(mth"),
      s"expected the order-level LAG partitioned by month:\n$p")
    val windows = p.split("\n").filter(_.trim.startsWith("+- Window"))
    assert(windows.exists(_.contains("mth")),
      s"expected a month-partitioned Window operator:\n$p")
  }

  test("window indicator expressions stay inside one WholeStageCodegen-adjacent pipeline") {
    // the plan shape around Window: scan -> exchange -> sort -> window; no
    // extra project-induced exchanges
    val p = plan("q_ema")
    assert(p.split("Exchange").length - 1 == 2, // window hash + output range
      s"expected exactly two exchanges (window + output sort):\n$p")
  }

  test("kmv sketch aggregates map-side before its exchange") {
    val p = plan("q_kmv_distinct")
    // the partial (pre-shuffle) aggregate must carry the sketch function —
    // the shuffle then moves k-long buffers, never raw rows
    assert(p.contains("partial_kmv_distinct"),
      s"expected a map-side partial kmv aggregate:\n$p")
  }

  test("deterministic sampling is a scan-side filter — zero exchanges before the sort") {
    val p = plan("q_sample_strata")
    // only the final presentation sort may exchange
    assert(p.split("Exchange").length - 1 == 1,
      s"expected the output range exchange only:\n$p")
    assert(p.contains("Filter"), s"expected the hash-threshold filter:\n$p")
  }

  test("range-join sweep plans no join at any scale") {
    val p = plan("q_range_join")
    assert(!p.contains("Join"), s"the sweep must never plan a join:\n$p")
  }

  test("per-group top-k pushes the rank limit into the window sort") {
    // WindowGroupLimit keeps a k-row heap per partition instead of fully
    // sorting every group — the difference between O(n log k) per
    // partition and a full per-group sort at 100 TB
    val p = plan("q_topk_per_group")
    assert(p.contains("WindowGroupLimit"), s"expected WindowGroupLimit:\n$p")
  }

  test("brute-force kNN ranks via the bounded-heap aggregate — zero windows") {
    val p = plan("q_embed_knn")
    assert(!p.contains("Window"), s"kNN must not plan a ranking window:\n$p")
    assert(p.contains("partial_topk_by"),
      s"expected a map-side partial topk aggregate:\n$p")
  }

  test("PQ k-means assignment is a map-side argmin aggregate — no sort, no ranking window") {
    val p = plan("q_embed_pq")
    assert(!p.contains("SortAggregate"),
      s"assignment must not fall back to SortAggregate:\n$p")
    assert(p.contains("partial_argmin_by"),
      s"expected the map-side partial argmin:\n$p")
    // the only windows left are the k-row codebook-init row_numbers — every
    // corpus-sized ranking (assignment, ADC top-k) is aggregate-based
    val windowLines = p.linesIterator.filter(_.contains("Window")).toSeq
    assert(windowLines.forall(_.contains("row_number")),
      s"unexpected non-init window:\n${windowLines.mkString("\n")}")
    assert(p.contains("partial_topk_by"),
      s"expected the ADC top-k partial aggregate:\n$p")
  }

  test("learned-IVF k-means assignment aggregates map-side — no sort") {
    val p = plan("q_embed_ivf_learned")
    assert(!p.contains("SortAggregate"),
      s"assignment must not fall back to SortAggregate:\n$p")
    assert(p.contains("partial_argmin_by"),
      s"expected the map-side partial argmin:\n$p")
  }

  test("rolling-family queries each plan ONE keyed hash exchange") {
    for (name <- Seq("q_rolling_median", "q_bollinger", "q_vwap", "q_obv",
        "q_stochastic")) {
      val p = plan(name)
      // all windows share the supplier partitioning — one hash exchange;
      // the only other exchange is the output presentation sort
      assert(p.split("Exchange hashpartitioning").length - 1 == 1,
        s"$name should shuffle once on the partition key:\n$p")
    }
  }

  test("bar-recurrence chains shuffle once for the bars, once for the windows") {
    // dailyBars aggregates on (suppkey, day) — the ONE hash exchange;
    // every window pass in the chain (ATR + SuperTrend, the 3 TRIX EMA
    // layers, the hull WMA ladder, PSAR) AND the final presentation sort
    // share dailyBarsW's single supplier RANGE exchange (r15:
    // RangePartitioning(l_suppkey) satisfies the windows' clustering and
    // the global sort's ordering prefix, so the old second hash exchange
    // and the separate range exchange fused) — and NO MORE, however many
    // recurrence layers stack
    for (name <- Seq("q_supertrend", "q_psar", "q_trix", "q_hull_ma")) {
      val p = plan(name)
      assert(p.split("Exchange hashpartitioning").length - 1 == 1,
        s"$name should hash-shuffle exactly once (bars agg):\n$p")
      assert(p.split("Exchange rangepartitioning").length - 1 == 1,
        s"$name should range-shuffle exactly once (shared window + sort key):\n$p")
    }
  }

  test("full-outer join pre-aggregates both sides below the join") {
    val p = plan("q_full_outer")
    val joinLine = p.linesIterator.find(_.contains("SortMergeJoin")).getOrElse("")
    assert(joinLine.contains("FullOuter"), s"expected a full-outer join:\n$p")
    // both inputs are aggregated before joining: HashAggregate appears
    // on both sides (4 = 2 sides x partial+final)
    assert(p.split("HashAggregate").length - 1 >= 4,
      s"expected pre-aggregated join inputs:\n$p")
  }

  test("AUC aggregates to the distinct-score frame BEFORE its ranking window") {
    val p = plan("q_auc")
    // the (group, score) pre-aggregation must sit below the window: a
    // partial HashAggregate shrinks the corpus map-side, so the window's
    // sort runs over distinct scores, never rows
    val lines = p.linesIterator.toSeq
    val winIdx = lines.indexWhere(_.contains("Window"))
    assert(winIdx >= 0, s"expected the midrank window:\n$p")
    assert(lines.drop(winIdx).exists(_.contains("HashAggregate")),
      s"expected the distinct-score aggregation below the window:\n$p")
    assert(p.contains("partial_count") || p.contains("partial count") ||
      p.split("HashAggregate").length - 1 >= 4,
      s"expected map-side partial aggregation:\n$p")
  }

  test("bigram PMI broadcasts the top-K frame into both unigram joins") {
    val p = plan("q_bigram_pmi")
    assert(p.split("BroadcastHashJoin").length - 1 >= 2,
      s"both unigram joins must broadcast the top-K side:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"the vocab frame must never sort-merge join:\n$p")
  }

  test("fuzzy-join candidates come from a bucket equi-join, not a cross join") {
    val p = plan("q_fuzzy_pairs")
    assert(!p.contains("CartesianProduct"),
      s"blocking must plan an equi-join:\n$p")
    // the r13 pair budget broadcasts its ONE-ROW predicted-mass frame into
    // the probe side (a BroadcastNestedLoopJoin by shape, O(rows) by cost);
    // the CANDIDATE join itself must stay a hash equi-join
    assert(p.split("BroadcastNestedLoopJoin").length - 1 == 1,
      s"only the single-row budget broadcast may nested-loop:\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the bucket candidate join must be an equi-join:\n$p")
  }

  test("session-3 recurrence chains keep the two-exchange bar-chain shape") {
    // KAMA stacks the diff layer, the ordered fold, and the var_ema
    // recurrence; NVI/PVI stack lags + two runprod chains; ADL/Chaikin
    // stack the BIGINT cumsum + two native EMAs — all on the supplier
    // spec, so the bars agg (hash) and dailyBarsW's shared supplier range
    // exchange (window key + presentation sort, r15) stay the ONLY
    // exchanges however many layers stack
    for (name <- Seq("q_kama", "q_volume_index", "q_chaikin_osc",
        "q_ulcer")) {
      val p = plan(name)
      assert(p.split("Exchange hashpartitioning").length - 1 == 1,
        s"$name should hash-shuffle exactly once (bars agg):\n$p")
      assert(p.split("Exchange rangepartitioning").length - 1 == 1,
        s"$name should range-shuffle exactly once (window + sort key):\n$p")
    }
  }

  test("ranking metrics never plan a window — ranks are the caller's") {
    val p = plan("q_retrieval_eval")
    // exactly the ONE ranker window the gate itself builds; the operator
    // adds joins + aggregations only
    assert(p.linesIterator.count(_.contains("Window [")) == 1,
      s"only the gate's ranker window may appear:\n$p")
  }

  test("knn label consistency broadcasts the query panel, never the corpus") {
    val p = plan("q_knn_label_consistency")
    // the embedding pairing is inequality-only → broadcast NESTED-LOOP of
    // the tiny panel against the corpus scan (the bruteForceKnn shape);
    // the label re-join is a broadcast hash join
    assert(p.contains("BroadcastNestedLoopJoin"),
      s"panel embeddings must broadcast against the corpus scan:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"the panel label frame must broadcast hash join:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the corpus must never shuffle or cross join for the panel:\n$p")
    assert(!p.contains("Window ["),
      s"ranking rides the bounded-heap aggregate, not a window:\n$p")
  }

  test("whole-series ACF batteries ride ONE keyed sort + one partial agg") {
    // ljungBox/pacf: all lag shifts share the window sort; the sums
    // aggregate is map-side combinable (partial_ before the group
    // exchange), and nothing shuffles the corpus twice
    for (q <- Seq("q_ljung_box", "q_pacf", "q_cross_corr")) {
      val p = plan(q)
      assert(p.split("\n").count(_.trim.matches("^\\+?-? ?Window .*")) <= 2,
        s"$q: lag shifts must share the bar-chain windows:\n$p")
      assert(p.contains("partial_count") || p.contains("partial_sum"),
        s"$q: the sums must combine map-side:\n$p")
    }
  }

  test("harmonic power explodes AFTER the row_number sort, aggs partial") {
    val p = plan("q_harmonic")
    assert(p.contains("Generate explode"),
      s"per-period fan-out is one explode, not a join:\n$p")
    assert(p.contains("partial_sum"),
      s"quadrature sums must combine map-side:\n$p")
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
      s"the twiddle lookup is an array literal, never a join:\n$p")
  }

  test("kaplan-meier output is distinct-duration-sized before its windows") {
    val p = plan("q_kaplan_meier")
    // the (group, t) aggregate must sit BELOW the at-risk/runprod windows
    // so window state is curve-sized, not corpus-sized
    val lines = p.split("\n")
    val aggIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    val winIdx = lines.indexWhere(_.trim.matches("^\\+?-? ?Window .*"))
    assert(aggIdx > winIdx && winIdx >= 0,
      s"expected the duration aggregate below the windows:\n$p")
  }

  test("image dhash pairs join on (chunk, value) — never a cross product") {
    val p = plan("q_media_dhash_pairs")
    assert(!p.contains("CartesianProduct"),
      s"banding must equi-join the chunk buckets:\n$p")
    // the r13 pair budget broadcasts its ONE-ROW predicted-mass frame into
    // the bucket frame (a BroadcastNestedLoopJoin by shape, O(rows) by
    // cost) — the SELF-join consumes that frame on both branches, so the
    // guard may appear twice; the CANDIDATE join itself must stay a hash
    // equi-join. Tie the allowance to the guard itself (r13 ADVICE): every
    // BNLJ section must carry the budget's raise_error literal, so a
    // genuine cross-product can never hide inside a fixed numeric cap.
    val sections = p.split("BroadcastNestedLoopJoin")
    assert(sections.length >= 2 && p.contains("predicted candidate-pair mass"),
      s"expected the budget-guard broadcast in the plan:\n$p")
    // the guard is crossJoin(broadcast(mass)) — the BNLJ node ITSELF, whose
    // build side is the one-row Filter(raise_error(...predicted
    // candidate-pair mass...)) frame printed BELOW the join line. So every
    // BNLJ must be a BuildRight Cross whose following subtree (the text up
    // to the next BNLJ) carries the budget literal in its broadcast child.
    val nonBudget = sections.drop(1).count { section =>
      !section.takeWhile(_ != '\n').contains("Cross") ||
        !section.contains("predicted candidate-pair mass")
    }
    assert(nonBudget == 0,
      s"a BroadcastNestedLoopJoin without the pair-budget filter above it " +
      s"is a genuine cross-product regression ($nonBudget found):\n$p")
    assert(p.contains("BroadcastHashJoin") || p.contains("SortMergeJoin") ||
      p.contains("ShuffledHashJoin"),
      s"the chunk-bucket candidate join must be an equi-join:\n$p")
  }

  /** Per-Window-node duplicate window expressions (canonicalized, so
    * expr-id noise doesn't hide or invent duplicates). A Column val
    * holding `agg.over(w)` that is INLINED into arithmetic referencing
    * it N times makes ExtractWindowExpressions emit N separate window
    * aggregates — for bounded sliding frames each re-folds the frame
    * per row (round-10: q_logrank carried 36 aggregates where 8
    * suffice; corrBeta's scale exponent halved when staged). */
  private def dupWindowExprs(name: String): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.Alias
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
    lp.collect { case w: LWindow =>
      w.windowExpressions
        .map { case a: Alias => a.child.canonicalized.toString
               case e => e.canonicalized.toString }
        .groupBy(identity).collect {
          case (k, vs) if vs.size > 1 => s"${vs.size}x ${k.take(120)}"
        }
    }.flatten
  }

  test("staged operators carry NO duplicated window expressions") {
    for (q <- Seq("q_rolling_corr", "q_logrank", "q_best_f1", "q_backtest",
        "q_volume_index", "q_kama", "q_rolling_sharpe", "q_equity_curve",
        "q_realized_vol", "q_macd_full", "q_indicators_combined",
        "q_bollinger", "q_stochastic", "q_stoch_rsi", "q_donchian",
        "q_williams_r", "q_vwap", "q_ulcer", "q_candles", "q_pivot_points",
        "q_adx", "q_vortex", "q_cmo", "q_ultimate", "q_kst", "q_coppock")) {
      val dups = dupWindowExprs(q)
      assert(dups.isEmpty, s"$q re-evaluates window expressions: $dups")
    }
  }

  /** A duplicated window expression is an acceptable residual only when
    * each duplicate evaluation is O(1) per row — the frame-class
    * allowlist lives in [[tools.WindowDups.cheapDup]] (this test runs its
    * audit over every gate); everything else is the q_logrank
    * 36-aggregate pathology round 10 staged away. */
  test("NO gate query re-folds a window frame more than once per Window node " +
      "(suite-wide; O(1)-per-row duplicates allowlisted by frame class)") {
    import scala.collection.parallel.CollectionConverters._
    def dupsOf(name: String): Seq[String] =
      tools.WindowDups.audit(
          SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan)
        .collect { case (n, expr, allCheap) if !allCheap =>
          s"$name ${n}x $expr"
        }
    // Plan construction is driver-side and thread-safe on one session;
    // parallelizing cuts this sweep from ~200 s to under a minute. Building
    // an iterative graph/dedup query RUNS its localCheckpoint loop, and
    // operators persist frames into the CacheScope of the thread that built
    // them, so each task releases its own scope once its plan is audited.
    // Two tasks that persist the same plan share one CacheManager entry,
    // and the first release can leave the other's rebuilt buffer behind:
    // the sweep drops it.
    val offenders = SparkEntry.queries.keys.toSeq.sorted.par
      .flatMap(n => try dupsOf(n) finally CacheScope.release())
      .seq
    Harness.sweep(spark)
    assert(offenders.isEmpty,
      s"gate queries re-fold window frames (stage the shared Column " +
        s"through a named projection — NOTES.md round-10 lesson):\n" +
        offenders.mkString("\n"))
  }

  test("EVERY gate query's plan shape matches its checked-in fingerprint " +
      "(shuffles, windows, sorts, join strategies, scans)") {
    val path = java.nio.file.Paths.get(tools.PlanFingerprints.DefaultPath)
    assert(java.nio.file.Files.exists(path),
      s"missing ${tools.PlanFingerprints.DefaultPath} — generate with " +
        "sbt \"Test/runMain graft.tools.PlanFingerprints\"")
    // join-strategy counts depend on testdata file sizes; if the driver
    // regenerated testdata (NOTES.md round-8), ask for a reviewed
    // regeneration instead of failing every query red
    val recordedSig = "\"__testdata\": \"([^\"]*)\"".r
      .findFirstMatchIn(java.nio.file.Files.readString(path)).map(_.group(1))
    val currentSig = tools.PlanFingerprints.testdataSignature(sf)
    if (recordedSig.exists(_ != currentSig))
      cancel("testdata changed since fingerprints were generated — " +
        "regenerate with sbt \"Test/runMain graft.tools.PlanFingerprints\" " +
        "and review the diff")
    // same one-line-per-query format the generator writes — parse with the
    // stdlib (no JSON dep in tests)
    val expected: Map[String, Map[String, Int]] =
      java.nio.file.Files.readString(path).linesIterator.collect {
        case l if l.trim.startsWith("\"q") =>
          val name = l.trim.drop(1).takeWhile(_ != '"')
          val body = l.substring(l.indexOf('{') + 1, l.lastIndexOf('}'))
          name -> body.split(",").filter(_.nonEmpty).map { kv =>
            val Array(k, v) = kv.split(":")
            k.trim.stripPrefix("\"").stripSuffix("\"") -> v.trim.toInt
          }.toMap
      }.toMap
    val actual = tools.PlanFingerprints.all(spark, sf).toMap
    assert(actual.keySet == expected.keySet,
      s"gate set changed — regenerate fingerprints (added: " +
        s"${actual.keySet -- expected.keySet}, removed: " +
        s"${expected.keySet -- actual.keySet})")
    // fast parallel pass first; a mismatch may just be warm-session cache
    // substitution in a self-persisting operator, so re-derive the
    // CANONICAL (clean-state) fingerprint before declaring drift
    val drifted = actual.toSeq.sortBy(_._1).collect {
      case (n, fp) if fp != expected(n) => n
    }.flatMap { n =>
      val canonical = tools.PlanFingerprints.fingerprintClean(spark, n, sf)
      if (canonical == expected(n)) None
      else Some(s"$n: expected ${expected(n).toSeq.sorted}, " +
        s"got ${canonical.toSeq.sorted}")
    }
    assert(drifted.isEmpty,
      "plan shapes drifted — if INTENTIONAL, regenerate with sbt " +
        "\"Test/runMain graft.tools.PlanFingerprints\" and review the " +
        "JSON diff in the commit:\n" + drifted.mkString("\n"))
  }
}
