package graft
package gates

import org.apache.spark.sql.functions.{col, count, countDistinct, expr, lit,
  max, min, sum, unix_timestamp}
import GateSql._

/** Data-analytics gates: event analytics, anomaly screens, divergences,
  * feature transforms, profiling, sampling, splits and sessions. */
private[gates] object AnalyticsGates {

  /** Replays the KMV-sketch column profile ([[operators.Profile
    * .columnProfile]] with `approxDistinct = true`, k = 256): same
    * per-column branches as q_profile, with the distinct replaced by the
    * KmvBuffer.estimate arithmetic over the 60-bit md5 hashes. */
  private def duckProfileKmvSql: String = {
    val k = 256
    def kmvEst(c: String) =
      s"""(SELECT CASE WHEN max(n) IS NULL THEN 0.0::DOUBLE
         |        WHEN max(n) < $k THEN CAST(max(n) AS DOUBLE)
         |        ELSE ${k - 1}.0::DOUBLE /
         |          (CAST(max(CASE WHEN rn = $k THEN h END) AS DOUBLE)
         |            / 1152921504606846976.0::DOUBLE) END
         | FROM (SELECT h, row_number() OVER (ORDER BY h) AS rn,
         |              count(*) OVER () AS n
         |       FROM (SELECT DISTINCT
         |               CAST('0x' || substr(md5($c::VARCHAR), 1, 15) AS BIGINT) AS h
         |             FROM orders WHERE $c IS NOT NULL) hh))""".stripMargin
    def branch(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
         |  min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value,
         |  ${kmvEst(c)} AS n_distinct_est
         |FROM orders""".stripMargin
    Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      .map(branch).mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  /** Replays [[operators.Profile.columnProfileHll]] at p=8: the same
    * register arithmetic as the q_hll_distinct oracle, one scalar
    * subquery per column; an all-null column coalesces to the empty
    * register vector (sum over zero rows is NULL in SQL, 256·2^53 in the
    * aggregate). */
  private def duckProfileHllSql: String = {
    def hllEst(c: String) =
      s"""(SELECT ${functions.Hll.estimateSql("a.sum_scaled", "a.zeros", 8)}
         | FROM (SELECT coalesce(CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT), 0)
         |               + (256 - count(*)) * 9007199254740992 AS sum_scaled,
         |              CAST(256 - count(*) AS INT) AS zeros
         |       FROM (SELECT j,
         |               max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS mj
         |             FROM (SELECT hv // 4503599627370496 AS j,
         |                          hv % 4503599627370496 AS rem
         |                   FROM (SELECT DISTINCT
         |                           CAST('0x' || substr(md5($c::VARCHAR), 1, 15) AS BIGINT) AS hv
         |                         FROM orders WHERE $c IS NOT NULL) hh) bb
         |             GROUP BY j) rr) a)""".stripMargin
    def branch(c: String) =
      s"""SELECT '$c' AS col_name, count(*) AS n_rows,
         |  count(CASE WHEN $c IS NULL THEN 1 END) AS n_nulls,
         |  min($c)::VARCHAR AS min_value, max($c)::VARCHAR AS max_value,
         |  ${hllEst(c)} AS n_distinct_est
         |FROM orders""".stripMargin
    Seq("o_orderkey", "o_orderstatus", "o_orderpriority")
      .map(branch).mkString("\nUNION ALL\n") + "\nORDER BY col_name"
  }

  val all: Seq[Gate] = Seq(
    Gate("q_gini", (s, d) => {
      // per-language Gini concentration of document length — the corpus
      // diversity screen; exact BIGINT rank/value sums, one double tree
      operators.Divergence.gini(s.table("documents"), Seq("lang"),
          "n_chars", scale = 0)
        .orderBy(col("lang"))
    },
      // Replays Divergence.gini: ascending-rank BIGINT sums, the identical
      // (2·siv − (n+1)·sv)/(n·sv) double tree (n+1 as a DOUBLE add,
      // mirroring the Column expression).
      """WITH v AS (
        |  SELECT lang, CAST(round(CAST(n_chars AS DOUBLE) * 1.0::DOUBLE) AS BIGINT) AS x
        |  FROM documents WHERE n_chars IS NOT NULL
        |), r AS (
        |  SELECT lang, x, CAST(row_number() OVER (PARTITION BY lang ORDER BY x) AS BIGINT) AS i
        |  FROM v
        |), g AS (
        |  SELECT lang, count(*) AS n, CAST(sum(x) AS BIGINT) AS sv,
        |         CAST(sum(i * x) AS BIGINT) AS siv
        |  FROM r GROUP BY lang
        |)
        |SELECT lang, n,
        |  CASE WHEN sv > 0 THEN
        |    (2.0::DOUBLE * CAST(siv AS DOUBLE)
        |      - (CAST(n AS DOUBLE) + 1.0::DOUBLE) * CAST(sv AS DOUBLE))
        |    / (CAST(n AS DOUBLE) * CAST(sv AS DOUBLE))
        |  END AS gini
        |FROM g ORDER BY lang""".stripMargin),
    Gate("q_split", (s, d) => {
      // deterministic train/val/test membership by row key, fingerprinted
      // per split (count + id-sum make membership drift visible)
      operators.Split.assign(s.table("documents"), "doc_id",
          Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("split"))
    }, {
      // Replays Split.assign: the interpolated boundaries are the very longs
      // Split.boundaries computes — no independent FP re-derivation.
      val b = operators.Split.boundaries(
        Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      s"""SELECT split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
         |FROM (
         |  SELECT doc_id,
         |    CASE WHEN h < ${b(0)} THEN 'train'
         |         WHEN h < ${b(1)} THEN 'val'
         |         WHEN h < ${b(2)} THEN 'test' END AS split
         |  FROM (SELECT doc_id,
         |          CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) AS h
         |        FROM documents) d
         |) s
         |GROUP BY split ORDER BY split""".stripMargin
    }),
    Gate("q_split_group", (s, d) => {
      // leakage-safe variant: hash the GROUP key (language) so correlated
      // rows move between splits together; n_langs exposes the cohesion
      operators.Split.assign(s.table("documents"), "lang",
          Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), countDistinct(col("lang")).as("n_langs"),
          sum(col("doc_id")).as("sum_id"))
        .orderBy(col("split"))
    }, {
      val b = operators.Split.boundaries(
        Seq("train" -> 0.6, "val" -> 0.2, "test" -> 0.2))
      s"""SELECT split, count(*) AS n, count(DISTINCT lang) AS n_langs,
         |  CAST(sum(doc_id) AS BIGINT) AS sum_id
         |FROM (
         |  SELECT doc_id, lang,
         |    CASE WHEN h < ${b(0)} THEN 'train'
         |         WHEN h < ${b(1)} THEN 'val'
         |         WHEN h < ${b(2)} THEN 'test' END AS split
         |  FROM (SELECT doc_id, lang,
         |          CAST('0x' || substr(md5(lang), 1, 15) AS BIGINT) AS h
         |        FROM documents) d
         |) s
         |GROUP BY split ORDER BY split""".stripMargin
    }),
    Gate("q_kfold", (s, d) => {
      // deterministic 5-fold assignment (hash mod k), fingerprinted per fold
      operators.Split.kfold(s.table("documents"), "doc_id", k = 5)
        .groupBy(col("fold"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("fold"))
    },
      // Replays Split.kfold: hash mod k on the nonnegative 60-bit hash.
      """SELECT fold, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
        |FROM (
        |  SELECT doc_id,
        |    CAST(CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) % 5 AS INT) AS fold
        |  FROM documents) s
        |GROUP BY fold ORDER BY fold""".stripMargin),
    Gate("q_split_cluster", (s, d) => {
      // near-dup-cluster-safe train/test split: the group key is each
      // document's star-cluster representative (own id when unclustered),
      // so no near-duplicate pair straddles the held-out set — the
      // contamination defense q_split_group gestures at, with the key
      // DERIVED by the scale-safe cluster path instead of assumed.
      // Membership fingerprinted per split; SplitSpec asserts the
      // zero-straddle property directly on a planted near-dup fixture.
      operators.Split.clusterSafeAssign(s.table("documents"), "doc_id",
          "text", Seq("train" -> 0.8, "test" -> 0.2))
        .groupBy(col("split"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("split"))
    }, {
      // Replays Split.clusterSafeAssign: star-verified near-dup components
      // (the q_dedup_keep recursion), group key = component rep (own id
      // when unclustered), then the q_split hash-boundary membership on
      // that key.
      val b = operators.Split.boundaries(Seq("train" -> 0.8, "test" -> 0.2))
      s"""WITH RECURSIVE $duckStarComponentsCtes,
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |rep AS (
         |  SELECT d.doc_id, coalesce(c.component, d.doc_id) AS rep
         |  FROM documents d LEFT JOIN comp c ON c.id = d.doc_id
         |),
         |asg AS (
         |  SELECT doc_id,
         |    CASE WHEN h < ${b(0)} THEN 'train'
         |         WHEN h < ${b(1)} THEN 'test' END AS split
         |  FROM (SELECT doc_id,
         |          CAST('0x' || substr(md5(rep::VARCHAR), 1, 15) AS BIGINT) AS h
         |        FROM rep) x
         |)
         |SELECT split, count(*) AS n, CAST(sum(doc_id) AS BIGINT) AS sum_id
         |FROM asg GROUP BY split ORDER BY split""".stripMargin
    }),
    Gate("q_purged_folds", (s, d) => {
      // purged time-series 5-fold CV with a 1-day embargo over the event
      // log (exact integer boundary arithmetic on nano epochs); the
      // per-(fold, role) count + id-sum fingerprints the full n×k
      // assignment without dumping it
      val ev = readEventsNanos(s, d).select(col("event_id"), col("ts"))
      operators.Split.purgedTimeFolds(ev, "ts", k = 5,
          embargo = 86400000000000L)
        .groupBy(col("fold"), col("role"))
        .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
        .orderBy(col("fold"), col("role"))
    },
      // Replays Split.purgedTimeFolds: equal-width time windows over
      // [min, max] nanos, row fold = k·(t−min) DIV span, window-end
      // boundary min + ceil((f+1)·span/k), 1-day embargo after each
      // window — all exact integer arithmetic.
      """WITH e AS (SELECT event_id, epoch_ns(ts) AS t FROM events),
        |st AS (SELECT min(t) AS mn, max(t) - min(t) + 1 AS span FROM e),
        |fo AS (SELECT CAST(unnest(range(5)) AS INT) AS fold),
        |b AS (SELECT fo.fold, st.mn, st.span,
        |        st.mn + ((fo.fold + 1) * st.span + 4) // 5 AS e_end
        |      FROM fo, st),
        |r AS (SELECT e.event_id, b.fold,
        |        CASE WHEN (5 * (e.t - b.mn)) // b.span = b.fold THEN 'test'
        |             WHEN e.t >= b.e_end AND e.t < b.e_end + 86400000000000
        |               THEN 'embargo'
        |             ELSE 'train' END AS role
        |      FROM e, b)
        |SELECT fold, role, count(*) AS n,
        |  CAST(sum(event_id) AS BIGINT) AS sum_id
        |FROM r GROUP BY fold, role ORDER BY fold, role""".stripMargin),
    Gate("q_winsorize", (s, d) => {
      // per-group tail clipping at the exact [p05, p95] band — percentile
      // interpolation parity with the oracle is proven by q_quantiles
      operators.Feature.winsorize(s.table("lineitem"), "l_extendedprice",
          Seq("l_returnflag"), pLow = 0.05, pHigh = 0.95)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_extendedprice_winsor"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Feature.winsorize: quantile_cont ≡ Spark's exact percentile
      // (parity proven by q_quantiles), then the same least/greatest clamp.
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.05) AS lo,
        |    quantile_cont(CAST(l_extendedprice AS DOUBLE), 0.95) AS hi
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber,
        |  least(greatest(CAST(l_extendedprice AS DOUBLE), lo), hi)
        |    AS l_extendedprice_winsor
        |FROM lineitem JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_normalize", (s, d) => {
      // per-group min-max scaling to [0, 1]
      operators.Feature.minMaxScale(s.table("lineitem"), "l_quantity",
          Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_scaled"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Feature.minMaxScale: exact per-group extremes, one division.
      """WITH b AS (
        |  SELECT l_returnflag,
        |    min(CAST(l_quantity AS DOUBLE)) AS mn,
        |    max(CAST(l_quantity AS DOUBLE)) AS mx
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN mx <> mn
        |       THEN (CAST(l_quantity AS DOUBLE) - mn) / (mx - mn) END
        |    AS l_quantity_scaled
        |FROM lineitem JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_class_weights", (s, d) => {
      // balanced class weights over the order-priority label
      operators.Feature.classWeights(s.table("orders"), "o_orderpriority")
        .orderBy(col("o_orderpriority"))
    },
      // Replays Feature.classWeights: N / (K·n) on exact counts.
      """WITH c AS (
        |  SELECT o_orderpriority, count(*) AS n FROM orders GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS nn, count(*) AS kk FROM c)
        |SELECT o_orderpriority, n,
        |  CAST(nn AS DOUBLE) / CAST(kk * n AS DOUBLE) AS weight
        |FROM c, t ORDER BY o_orderpriority""".stripMargin),
    Gate("q_robust_scale", (s, d) => {
      // RobustScaler: (x − median) / IQR per group — order statistics
      // resist the tails that drag a mean/σ standardization
      operators.Feature.robustScale(s.table("lineitem"), "l_quantity",
          Seq("l_returnflag"))
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_quantity_robust"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Feature.robustScale: quantile_cont ≡ exact percentile, the
      // same (x − med) / (q3 − q1) tree.
      """WITH b AS (
        |  SELECT l_returnflag,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.5) AS med,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.25) AS q1,
        |    quantile_cont(CAST(l_quantity AS DOUBLE), 0.75) AS q3
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l_orderkey, l_linenumber,
        |  CASE WHEN q3 <> q1
        |       THEN (CAST(l_quantity AS DOUBLE) - med) / (q3 - q1) END
        |    AS l_quantity_robust
        |FROM lineitem JOIN b USING (l_returnflag)
        |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    Gate("q_label_index", (s, d) => {
      // StringIndexer contract: dense 0-based ids, most frequent first,
      // alphabetical tie-break — a pure function of the corpus
      operators.Feature.labelIndex(s.table("orders"), "o_orderpriority")
        .orderBy(col("label_index"))
    },
      // Replays Feature.labelIndex: rank by (count DESC, label ASC) − 1.
      """SELECT o_orderpriority, n,
        |  CAST(row_number() OVER (ORDER BY n DESC, o_orderpriority ASC) - 1
        |    AS INT) AS label_index
        |FROM (SELECT o_orderpriority, count(*) AS n
        |      FROM orders GROUP BY 1) c
        |ORDER BY label_index""".stripMargin),
    Gate("q_target_encode", (s, d) => {
      // m-estimate target encoding: category mean shrunk toward the
      // global prior by m pseudo-observations
      operators.Feature.targetEncode(s.table("lineitem"), "l_returnflag",
          "l_quantity", m = 10.0)
        .orderBy(col("l_returnflag"))
    },
      // Replays Feature.targetEncode: (Σy_c + m·(S/N)) / (n_c + m), exact
      // integer sums, one fixed division tree.
      """WITH c AS (
        |  SELECT l_returnflag, count(l_quantity) AS n,
        |    sum(CAST(l_quantity AS DOUBLE)) AS sy
        |  FROM lineitem GROUP BY 1),
        |g AS (SELECT count(l_quantity) AS nn,
        |        sum(CAST(l_quantity AS DOUBLE)) AS ss FROM lineitem)
        |SELECT l_returnflag, n,
        |  (sy + 10.0::DOUBLE * (ss / nn)) / (n + 10.0::DOUBLE) AS target_enc
        |FROM c, g ORDER BY l_returnflag""".stripMargin),
    Gate("q_shuffle_shards", (s, d) => {
      // reproducible training-order shuffle: 8 shards, hash-ordered within
      operators.Split.shuffleShards(s.table("documents"), "doc_id", numShards = 8)
        .select(col("doc_id"), col("shard"), col("shuffle_rank"))
        .orderBy(col("shard"), col("shuffle_rank"))
    },
      // Replays Split.shuffleShards: shard = hash mod 8, rank by (hash, key).
      """SELECT doc_id, shard,
        |  CAST(row_number() OVER (PARTITION BY shard ORDER BY h, doc_id)
        |    AS BIGINT) AS shuffle_rank
        |FROM (
        |  SELECT doc_id,
        |    CAST(h % 8 AS INT) AS shard, h
        |  FROM (SELECT doc_id,
        |          CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) AS h
        |        FROM documents) i) s
        |ORDER BY shard, shuffle_rank""".stripMargin),
    Gate("q_source_entropy", (s, d) => {
      // corpus-mixture drift monitor: per-source token entropy and
      // KL(source || corpus) over the global top-30 vocabulary — the
      // double sums fold in token order, replayable in any engine
      operators.Divergence.tokenEntropy(s.table("documents"), "source",
          "text", topK = 30)
        .orderBy(col("source"))
    },
      // Replays Divergence.tokenEntropy: same tokenizer, global top-30
      // vocab (count DESC, token ASC), token-ordered left folds of the
      // identical entropy/KL term trees.
      """WITH tok0 AS (
        |  SELECT source, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |  FROM documents),
        |tk AS (SELECT source, w AS token FROM tok0 WHERE w <> ''),
        |counts AS (SELECT source, token, count(*) AS n FROM tk GROUP BY 1, 2),
        |vocab AS (
        |  SELECT token, CAST(sum(n) AS BIGINT) AS gn FROM counts
        |  GROUP BY token ORDER BY gn DESC, token ASC LIMIT 30),
        |g AS (SELECT CAST(sum(gn) AS BIGINT) AS gt FROM vocab),
        |sup AS (
        |  SELECT c.source, c.token, c.n, v.gn
        |  FROM counts c JOIN vocab v USING (token)),
        |agg AS (
        |  SELECT source, CAST(sum(n) AS BIGINT) AS n_tokens,
        |    list(struct_pack(t := token, n := n, gn := gn) ORDER BY token) AS ts
        |  FROM sup GROUP BY source)
        |SELECT source, n_tokens,
        |  round(ln(CAST(n_tokens AS DOUBLE))
        |    - list_reduce(list_transform(ts,
        |        e -> CAST(e.n AS DOUBLE) * ln(CAST(e.n AS DOUBLE))),
        |        (a, b) -> a + b) / CAST(n_tokens AS DOUBLE), 10)
        |    + 0.0::DOUBLE AS entropy,
        |  round(list_reduce(list_transform(ts,
        |      e -> (CAST(e.n AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |        * ln((CAST(e.n AS DOUBLE) / CAST(n_tokens AS DOUBLE))
        |             / (CAST(e.gn AS DOUBLE) / CAST(gt AS DOUBLE)))),
        |      (a, b) -> a + b), 10) + 0.0::DOUBLE AS kl
        |FROM agg, g ORDER BY source""".stripMargin),
    Gate("q_grubbs", (s, d) => {
      // per-supplier Grubbs max-outlier statistic on the close — one
      // map-side aggregate, integer-exact deviation via n·max − Σx
      operators.Anomaly.grubbs(dailyBars(s), "close", Seq("l_suppkey"),
          scale = 2)
        .orderBy(col("l_suppkey"))
    },
      // Replays Anomaly.grubbs: exact integer (n, Σx, Σx², min, max), the
      // n-multiplied deviation, the one fixed G tree (sums < 2^53 — no
      // VARCHAR bridge needed).
      s"""WITH bars AS (
         |$duckBarsSql
         |), q AS (
         |  SELECT l_suppkey,
         |    CAST(round(close * 100.0::DOUBLE) AS BIGINT) AS x
         |  FROM bars
         |), g AS (
         |  SELECT l_suppkey, CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(x) AS BIGINT) AS sx,
         |    CAST(sum(CAST(x AS HUGEINT) * x) AS BIGINT) AS sxx,
         |    CAST(min(x) AS BIGINT) AS mn, CAST(max(x) AS BIGINT) AS mx
         |  FROM q GROUP BY l_suppkey)
         |SELECT l_suppkey, n,
         |  CASE WHEN n >= 3 THEN
         |    (CAST(greatest(n * mx - sx, sx - n * mn) AS DOUBLE)
         |        / CAST(n AS DOUBLE))
         |      / sqrt((CASE WHEN CAST(n * sxx - sx * sx AS DOUBLE)
         |            > 0.0::DOUBLE
         |          THEN CAST(n * sxx - sx * sx AS DOUBLE) END)
         |        / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1.0::DOUBLE)))
         |  END AS grubbs_g,
         |  CAST(CASE WHEN n * mx - sx >= sx - n * mn THEN mx ELSE mn END
         |    AS DOUBLE) / 100.0::DOUBLE AS suspect,
         |  CASE WHEN n * mx - sx >= sx - n * mn THEN 'high' ELSE 'low' END
         |    AS suspect_side
         |FROM g ORDER BY l_suppkey""".stripMargin),
    Gate("q_ks_uniform", (s, d) => {
      // split-fairness gate: is the golden-ratio Weyl score of doc_id
      // uniform within each lang slice — one-sample KS vs U[0,1]
      val docs = s.table("documents").select(col("lang"),
        ((col("doc_id").cast("double") * lit(0.6180339887498949)) %
          lit(1.0)).as("u"))
      operators.Divergence.ksUniform(docs, "u", Seq("lang"))
        .orderBy(col("lang"))
    },
      // Replays Divergence.ksUniform: the same Weyl score (double fmod),
      // rank-ladder terms, order-independent max, √n scaling.
      """WITH d AS (
        |  SELECT lang,
        |    (CAST(doc_id AS DOUBLE) * 0.6180339887498949::DOUBLE)
        |      % 1.0::DOUBLE AS u
        |  FROM documents),
        |r AS (
        |  SELECT lang, u,
        |    CAST(row_number() OVER (PARTITION BY lang ORDER BY u)
        |      AS BIGINT) AS i,
        |    CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n
        |  FROM d),
        |g AS (
        |  SELECT lang, n,
        |    max(greatest(
        |      CAST(i AS DOUBLE) / CAST(n AS DOUBLE) - u,
        |      u - CAST(i - 1 AS DOUBLE) / CAST(n AS DOUBLE))) AS ks_d
        |  FROM r GROUP BY lang, n)
        |SELECT lang, n, ks_d,
        |  sqrt(CAST(n AS DOUBLE)) * ks_d AS ks_stat
        |FROM g ORDER BY lang""".stripMargin),
    Gate("q_attribution", (s, d) => {
      // multi-touch attribution over the event log: touches credit the
      // next purchase (linear/first/last in one pass); µs-truncated
      // ordering for cross-engine tie parity
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), expr("ts DIV 1000").as("ts_us"),
          col("event_id"), col("event_type"))
      operators.EventAnalytics.attribution(ev, "user_id", "event_type",
          "purchase", Seq("ts_us", "event_id"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
      // Replays EventAnalytics.attribution: running conversion index off
      // the (ts_us, event_id) order, next-conversion assignment, per-conv
      // touch counts and rank flags, the 1/k linear credit.
      """WITH e AS (
        |  SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS ts_us,
        |    event_id, event_type,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS ic
        |  FROM events),
        |i AS (
        |  SELECT *,
        |    sum(ic) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - ic + 1
        |      AS conv_idx
        |  FROM e),
        |nc AS (
        |  SELECT user_id, CAST(sum(ic) AS BIGINT) AS nconv
        |  FROM e GROUP BY user_id),
        |t AS (
        |  SELECT i.user_id, i.conv_idx, i.ts_us, i.event_id, i.event_type
        |  FROM i JOIN nc ON i.user_id = nc.user_id
        |  WHERE i.ic = 0 AND i.conv_idx <= nc.nconv),
        |r AS (
        |  SELECT user_id, CAST(conv_idx AS BIGINT) AS conv_idx, ts_us,
        |    event_id, event_type,
        |    CAST(count(*) OVER (PARTITION BY user_id, conv_idx) AS BIGINT)
        |      AS n_touches,
        |    row_number() OVER (PARTITION BY user_id, conv_idx
        |      ORDER BY ts_us, event_id) AS tr
        |  FROM t)
        |SELECT user_id, conv_idx, ts_us, event_id, event_type, n_touches,
        |  1.0::DOUBLE / CAST(n_touches AS DOUBLE) AS credit_linear,
        |  tr = 1 AS is_first_touch,
        |  tr = n_touches AS is_last_touch
        |FROM r ORDER BY user_id, ts_us, event_id""".stripMargin),
    Gate("q_wasserstein", (s, d) => {
      // 1-Wasserstein (earth-mover) distance between purchase and view
      // event-value distributions — the how-far-did-mass-move drift
      // metric beside q_ks's largest-gap; integer step terms summed as
      // DECIMAL, one final division chain
      val ev = readEventsNanos(s, d)
      operators.Divergence.wasserstein1(
        ev.filter(col("event_type") === "purchase").select("value"),
        ev.filter(col("event_type") === "view").select("value"),
        "value", scale = 2)
    },
      // Replays Divergence.wasserstein1: per-side scaled-value counts,
      // merged ECDF cumulatives, |cumA*n_b - cumB*n_a| * (next v - v)
      // summed exactly, ONE division chain / (n_a*n_b) / 10^scale.
      """WITH ca AS (
        |  SELECT CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS v,
        |    count(*) AS na
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
        |cb AS (
        |  SELECT CAST(round(value * 100.0::DOUBLE) AS BIGINT) AS v,
        |    count(*) AS nb
        |  FROM events WHERE event_type = 'view' GROUP BY 1),
        |comb AS (SELECT coalesce(ca.v, cb.v) AS v,
        |           CAST(coalesce(na, 0) AS BIGINT) AS na,
        |           CAST(coalesce(nb, 0) AS BIGINT) AS nb
        |         FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |cum AS (SELECT v,
        |          CAST(sum(na) OVER wc AS HUGEINT) AS cna,
        |          CAST(sum(nb) OVER wc AS HUGEINT) AS cnb,
        |          lead(v) OVER (ORDER BY v) AS nxt
        |        FROM comb
        |        WINDOW wc AS (ORDER BY v
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |          CAST(sum(nb) AS BIGINT) AS n_b FROM comb)
        |SELECT n_a, n_b,
        |  CAST(sum(abs(cna * n_b - cnb * n_a) * (nxt - v)) AS DOUBLE)
        |    / (CAST(n_a AS DOUBLE) * CAST(n_b AS DOUBLE)) / 100.0::DOUBLE AS w1
        |FROM cum, tot WHERE nxt IS NOT NULL GROUP BY n_a, n_b""".stripMargin),
    Gate("q_transitions", (s, d) => {
      // first-order Markov transition matrix of per-user event streams
      // (counts, row-conditional p, mean inter-event gap in MICROS —
      // DuckDB truncates nano timestamps to µs, so the gate compares at
      // the shared precision); event_id breaks ties layout-exactly
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("ts_us"), col("event_type"))
      operators.EventAnalytics.transitions(ev,
          "user_id", "ts_us", "event_type", "event_id")
        .orderBy(col("from_type"), col("to_type"))
    },
      // Replays EventAnalytics.transitions: same (ts_us, event_id) ordering
      // (µs — Spark's nanos DIV 1000 == DuckDB's truncated TIMESTAMP),
      // integer micro-gap sums, single IEEE divisions for p and mean_gap.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsn, event_type
        |           FROM events),
        |p AS (SELECT event_type AS t,
        |        lag(event_type) OVER
        |          (PARTITION BY user_id ORDER BY tsn, event_id) AS pt,
        |        tsn - lag(tsn) OVER
        |          (PARTITION BY user_id ORDER BY tsn, event_id) AS gap
        |      FROM e),
        |m AS (SELECT pt AS from_type, t AS to_type,
        |        CAST(count(*) AS BIGINT) AS n, CAST(sum(gap) AS BIGINT) AS g
        |      FROM p WHERE pt IS NOT NULL GROUP BY 1, 2),
        |rt AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS tot FROM m GROUP BY 1)
        |SELECT m.from_type, m.to_type, m.n,
        |  CAST(m.n AS DOUBLE) / CAST(rt.tot AS DOUBLE) AS p,
        |  CAST(m.g AS DOUBLE) / CAST(m.n AS DOUBLE) AS mean_gap
        |FROM m JOIN rt USING (from_type)
        |ORDER BY from_type, to_type""".stripMargin),
    Gate("q_transition_entropy", (s, d) => {
      // per-user transition entropy (behavioral regularity / bot score)
      // at µs precision with event_id tie-break
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000").as("ts_us"), col("event_type"))
      operators.EventAnalytics.transitionEntropy(ev,
          "user_id", "ts_us", "event_type", "event_id")
        .orderBy(col("user_id"))
    },
      // Replays EventAnalytics.transitionEntropy: same pairing, per-user
      // (from, to)-ordered fold of −p·ln p, round(_, 10)+0.0.
      """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type
        |           FROM events),
        |p AS (SELECT user_id, event_type AS t,
        |        lag(event_type) OVER
        |          (PARTITION BY user_id ORDER BY tsu, event_id) AS pt
        |      FROM e),
        |c AS (SELECT user_id, pt, t, CAST(count(*) AS BIGINT) AS n
        |      FROM p WHERE pt IS NOT NULL GROUP BY 1, 2, 3),
        |g AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_transitions,
        |        list(n ORDER BY pt, t) AS ns
        |      FROM c GROUP BY user_id)
        |SELECT user_id, n_transitions,
        |  round(list_reduce(list_transform(ns, x ->
        |    -((CAST(x AS DOUBLE) / CAST(n_transitions AS DOUBLE))
        |      * ln(CAST(x AS DOUBLE) / CAST(n_transitions AS DOUBLE)))),
        |    (a, b) -> a + b), 10) + 0.0 AS transition_entropy
        |FROM g ORDER BY user_id""".stripMargin),
    Gate("q_jsd", (s, d) => {
      // symmetric corpus divergence: JSD between English and non-English
      // documents over the combined top-100 vocabulary
      val docs = s.table("documents")
      operators.Divergence.jsDivergence(
          docs.filter(col("lang") === "en"),
          docs.filter(col("lang") =!= "en"),
          "text", topK = 100)
    },
      // Replays Divergence.jsDivergence: combined top-100 vocab (total desc,
      // token asc), token-ordered fold of 0.5·p·ln(p/m) + 0.5·q·ln(q/m)
      // with the 0·ln0=0 convention, round(_,10)+0.0.
      """WITH ta AS (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |            FROM documents WHERE lang = 'en'),
        |ca AS (SELECT w AS token, count(*) AS na FROM ta WHERE w <> '' GROUP BY 1),
        |tb AS (SELECT unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |       FROM documents WHERE lang <> 'en'),
        |cb AS (SELECT w AS token, count(*) AS nb FROM tb WHERE w <> '' GROUP BY 1),
        |comb AS (SELECT coalesce(ca.token, cb.token) AS token,
        |           CAST(coalesce(na, 0) AS BIGINT) AS na,
        |           CAST(coalesce(nb, 0) AS BIGINT) AS nb
        |         FROM ca FULL OUTER JOIN cb ON ca.token = cb.token),
        |vocab AS (SELECT token, na, nb FROM comb
        |          ORDER BY (na + nb) DESC, token ASC LIMIT 100),
        |f AS (SELECT CAST(sum(na) AS BIGINT) AS n_tokens_a,
        |        CAST(sum(nb) AS BIGINT) AS n_tokens_b,
        |        list(struct_pack(t := token, a := na, b := nb)
        |          ORDER BY token) AS ts
        |      FROM vocab)
        |SELECT n_tokens_a, n_tokens_b,
        |  round(list_reduce(list_transform(ts, e ->
        |    (CASE WHEN e.a > 0 THEN
        |       0.5 * (CAST(e.a AS DOUBLE) / CAST(n_tokens_a AS DOUBLE))
        |       * ln((CAST(e.a AS DOUBLE) / CAST(n_tokens_a AS DOUBLE))
        |         / ((CAST(e.a AS DOUBLE) / CAST(n_tokens_a AS DOUBLE)
        |             + CAST(e.b AS DOUBLE) / CAST(n_tokens_b AS DOUBLE)) / 2.0))
        |     ELSE 0.0 END)
        |    + (CASE WHEN e.b > 0 THEN
        |         0.5 * (CAST(e.b AS DOUBLE) / CAST(n_tokens_b AS DOUBLE))
        |         * ln((CAST(e.b AS DOUBLE) / CAST(n_tokens_b AS DOUBLE))
        |           / ((CAST(e.a AS DOUBLE) / CAST(n_tokens_a AS DOUBLE)
        |               + CAST(e.b AS DOUBLE) / CAST(n_tokens_b AS DOUBLE)) / 2.0))
        |       ELSE 0.0 END)),
        |    (x, y) -> x + y), 10) + 0.0 AS jsd
        |FROM f""".stripMargin),
    Gate("q_negative_pairs", (s, d) => {
      // deterministic contrastive negatives: hash-ring neighbors, k=2,
      // 16 buckets — same pairs on any layout/engine/retry
      operators.Sampling.negativePairs(
          s.table("documents").select("doc_id"), "doc_id", k = 2,
          nBuckets = 16)
        .orderBy(col("anchor"), col("j"))
    },
      // Replays Sampling.negativePairs: same md5 ring, hex-prefix bucket,
      // modular neighbor walk, self-pair filter.
      """WITH ring0 AS (
        |  SELECT doc_id, md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
        |ring AS (
        |  SELECT doc_id, h,
        |    CAST('0x' || substr(h, 1, 4) AS BIGINT) % 16 AS bk
        |  FROM ring0),
        |rk AS (
        |  SELECT doc_id, bk,
        |    CAST(row_number() OVER (PARTITION BY bk ORDER BY h, doc_id)
        |      AS BIGINT) AS r,
        |    CAST(count(*) OVER (PARTITION BY bk) AS BIGINT) AS m
        |  FROM ring),
        |a AS (
        |  SELECT rk.doc_id AS anchor, rk.bk, rk.r, rk.m,
        |    CAST(j AS INT) AS j,
        |    ((rk.r - 1 + j) % rk.m) + 1 AS r2
        |  FROM rk, unnest(range(1, 3)) AS t(j)),
        |p AS (SELECT * FROM a WHERE r2 <> r)
        |SELECT p.anchor, n.doc_id AS negative, p.j
        |FROM p JOIN rk n ON n.bk = p.bk AND n.r = p.r2
        |ORDER BY p.anchor, p.j""".stripMargin),
    Gate("q_temperature_rates", (s, d) => {
      // temperature-scaled mixture rates (τ=0.5, 300-row target) over the
      // document sources — ordered pow-fold + 10-dp rounding
      operators.Sampling.temperatureRates(s.table("documents"), "source",
          tau = 0.5, targetRows = 300L)
        .orderBy(col("source"))
    },
      // Replays Sampling.temperatureRates: same source-ordered pow fold for
      // the denominator, same round(_,10)+0.0 on mix_p/rate; the sample
      // oracle also rebuilds the hash thresholds with floor(rate·2^60)
      // (floor == Scala toLong truncation for nonnegative rates).
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows
        |           FROM documents GROUP BY source),
        |p AS (SELECT source, n_rows, pow(CAST(n_rows AS DOUBLE), 0.5) AS pw FROM c),
        |dl AS (SELECT list(struct_pack(s := source, w := pw) ORDER BY source) AS l FROM p),
        |dd AS (SELECT list_reduce(list_transform(l, e -> CAST(e.w AS DOUBLE)),
        |         (a, b) -> a + b) AS denom FROM dl)
        |SELECT source, n_rows,
        |  round(pw / dd.denom, 10) + 0.0 AS mix_p,
        |  round(LEAST(1.0, 300.0 * (pw / dd.denom) / CAST(n_rows AS DOUBLE)), 10)
        |    + 0.0 AS rate
        |FROM p, dd ORDER BY source""".stripMargin),
    Gate("q_temperature_sample", (s, d) => {
      // the realized mixture: per-source membership fingerprints; the
      // oracle recomputes the rates AND the hash thresholds in SQL
      operators.Sampling.temperatureSample(s.table("documents"), "doc_id",
          "source", tau = 0.5, targetRows = 300L)
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n"), sum(col("doc_id")).as("sum_id"))
        .orderBy(col("source"))
    },
      """WITH c AS (SELECT source, CAST(count(*) AS BIGINT) AS n_rows
        |           FROM documents GROUP BY source),
        |p AS (SELECT source, n_rows, pow(CAST(n_rows AS DOUBLE), 0.5) AS pw FROM c),
        |dl AS (SELECT list(struct_pack(s := source, w := pw) ORDER BY source) AS l FROM p),
        |dd AS (SELECT list_reduce(list_transform(l, e -> CAST(e.w AS DOUBLE)),
        |         (a, b) -> a + b) AS denom FROM dl),
        |r AS (SELECT source,
        |        round(LEAST(1.0, 300.0 * (pw / dd.denom) / CAST(n_rows AS DOUBLE)), 10)
        |          + 0.0 AS rate
        |      FROM p, dd)
        |SELECT d.source, count(*) AS n, CAST(sum(d.doc_id) AS BIGINT) AS sum_id
        |FROM documents d JOIN r ON d.source = r.source
        |WHERE CAST('0x' || substr(md5(d.doc_id::VARCHAR), 1, 15) AS BIGINT)
        |  < CAST(floor(r.rate * 1152921504606846976.0) AS BIGINT)
        |GROUP BY d.source ORDER BY d.source""".stripMargin),
    Gate("q_psi", (s, d) => {
      // population-stability-index drift screen: pre- vs post-1995
      // shipment quantity distributions, 10 fixed bins over [0, 50),
      // add-one smoothing, one row per bin (drift dashboards plot bins;
      // callers sum psi_term for the scalar)
      val li = s.table("lineitem")
      operators.Divergence.psi(
          li.filter(col("l_shipdate") < "1995-01-01"),
          li.filter(col("l_shipdate") >= "1995-01-01"),
          "l_quantity", nBins = 10, lo = 0.0, hi = 50.0)
        .orderBy(col("bin"))
    },
      // Replays Divergence.psi: same clamped fixed-width bins, same
      // add-one smoothed (n+1)/(N+nBins) probabilities, same
      // (p-q)*round(ln(p/q),10) term per bin.
      """WITH b AS (
        |  SELECT LEAST(9, GREATEST(0, CAST(floor((l_quantity - 0.0) / 5.0) AS INT))) AS bin,
        |    CASE WHEN l_shipdate < TIMESTAMP '1995-01-01' THEN 1 ELSE 0 END AS isref
        |  FROM lineitem),
        |spine AS (SELECT CAST(unnest(range(10)) AS INT) AS bin),
        |c AS (SELECT spine.bin,
        |        CAST(coalesce(sum(CASE WHEN isref = 1 THEN 1 END), 0) AS BIGINT) AS n_ref,
        |        CAST(coalesce(sum(CASE WHEN isref = 0 THEN 1 END), 0) AS BIGINT) AS n_cur
        |      FROM spine LEFT JOIN b USING (bin) GROUP BY spine.bin),
        |t AS (SELECT CAST(sum(n_ref) AS BIGINT) AS tr,
        |        CAST(sum(n_cur) AS BIGINT) AS tc FROM c)
        |SELECT bin, 0.0 + bin * 5.0 AS bin_lo, n_ref, n_cur,
        |  (CAST(n_ref AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 10.0) AS p_ref,
        |  (CAST(n_cur AS DOUBLE) + 1.0) / (CAST(tc AS DOUBLE) + 10.0) AS p_cur,
        |  ((CAST(n_ref AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 10.0)
        |    - (CAST(n_cur AS DOUBLE) + 1.0) / (CAST(tc AS DOUBLE) + 10.0))
        |  * (round(ln(((CAST(n_ref AS DOUBLE) + 1.0) / (CAST(tr AS DOUBLE) + 10.0))
        |      / ((CAST(n_cur AS DOUBLE) + 1.0) / (CAST(tc AS DOUBLE) + 10.0))), 10)
        |     + 0.0) AS psi_term
        |FROM c, t ORDER BY bin""".stripMargin),
    Gate("q_ks", (s, d) => {
      // two-sample Kolmogorov–Smirnov drift statistic between purchase
      // and view event-value distributions — integer ECDF steps, exact
      // divisions, order-independent max: bit-exact with no rounding
      val ev = readEventsNanos(s, d)
      operators.Divergence.ksTest(
          ev.filter(col("event_type") === "purchase").select("value"),
          ev.filter(col("event_type") === "view").select("value"),
          "value")
    },
      // Replays Divergence.ksTest with a single global cumulative window —
      // the Spark side's bucketed two-level prefix sum decomposes the same
      // integer cumsums, so D matches bit-for-bit with no rounding.
      """WITH ca AS (SELECT value AS v, count(*) AS na FROM events
        |            WHERE event_type = 'purchase' GROUP BY 1),
        |cb AS (SELECT value AS v, count(*) AS nb FROM events
        |       WHERE event_type = 'view' GROUP BY 1),
        |comb AS (SELECT coalesce(ca.v, cb.v) AS v,
        |           CAST(coalesce(na, 0) AS BIGINT) AS na,
        |           CAST(coalesce(nb, 0) AS BIGINT) AS nb
        |         FROM ca FULL OUTER JOIN cb ON ca.v = cb.v),
        |cum AS (SELECT v, sum(na) OVER (ORDER BY v) AS cna,
        |          sum(nb) OVER (ORDER BY v) AS cnb FROM comb),
        |tot AS (SELECT CAST(sum(na) AS BIGINT) AS n_a,
        |          CAST(sum(nb) AS BIGINT) AS n_b FROM comb)
        |SELECT n_a, n_b,
        |  max(abs(CAST(cna AS DOUBLE) / CAST(n_a AS DOUBLE)
        |        - CAST(cnb AS DOUBLE) / CAST(n_b AS DOUBLE))) AS ks_d
        |FROM cum, tot GROUP BY n_a, n_b""".stripMargin),
    Gate("q_session_window", (s, d) => {
      // Spark's NATIVE session_window operator, gated through the batch
      // execution of the STREAMING operator (watermark is a no-op in
      // batch — the q_stream_indicators precedent) over second-truncated
      // event times, 12h gap; the oracle pins the merge-iff-gap<=window
      // boundary contract
      val ev = readEventsNanos(s, d)
        .select(col("user_id"),
          expr("timestamp_seconds(ts DIV 1000000000)").as("ts"))
      operators.Sessionize.streamingSessionStats(ev, "user_id", "ts",
          gap = "12 hours", watermarkDelay = "1 minute")
        .select(col("user_id"),
          unix_timestamp(col("session_start")).as("start_sec"),
          unix_timestamp(col("session_end")).as("end_sec"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_sec"))
    },
      // Replays session_window semantics via gap islands: NEW session only
      // when the gap EXCEEDS 43200 (Spark still merges a gap exactly equal
      // to the window — boundary-inclusive); window end = last event + gap.
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000000000 AS ts_sec FROM events),
        |f AS (
        |  SELECT user_id, ts_sec,
        |    CASE WHEN lag(ts_sec) OVER w IS NULL
        |              OR ts_sec - lag(ts_sec) OVER w > 43200
        |         THEN 1 ELSE 0 END AS ns
        |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec)),
        |g AS (
        |  SELECT user_id, ts_sec,
        |    sum(ns) OVER (PARTITION BY user_id ORDER BY ts_sec
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM f)
        |SELECT user_id, min(ts_sec) AS start_sec,
        |  max(ts_sec) + 43200 AS end_sec, count(*) AS n_events
        |FROM g GROUP BY user_id, sid
        |ORDER BY user_id, start_sec""".stripMargin),
    // Sessionization (operators/Sessionize.scala): gap-based session ids —
    // one hash exchange on user_id, then a single window pass (lag → flag →
    // running sum). 12h gap ≈ the corpus' median inter-event gap × 1.6.
    Gate("q_sessionize", (s, d) => {
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000000000").as("ts_sec"))
      operators.Sessionize.assignSessions(ev, "user_id", "ts_sec",
          gapSeconds = 43200, tieCols = Seq("event_id"))
        .orderBy(col("user_id"), col("ts_sec"), col("event_id"))
    },
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec
         |  FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, ts_sec,
         |    CASE WHEN lag(ts_sec) OVER w IS NULL
         |              OR ts_sec - lag(ts_sec) OVER w > 43200
         |         THEN 1 ELSE 0 END AS ns
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         |)
         |SELECT user_id, event_id, ts_sec,
         |  count(CASE WHEN ns = 1 THEN 1 END)
         |    OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |FROM flagged ORDER BY user_id, ts_sec, event_id""".stripMargin),
    Gate("q_session_stats", (s, d) => {
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), col("event_id"),
          expr("ts DIV 1000000000").as("ts_sec"))
      val sess = operators.Sessionize.assignSessions(ev, "user_id", "ts_sec",
        gapSeconds = 43200, tieCols = Seq("event_id"))
      operators.Sessionize.sessionStats(sess, "user_id", "ts_sec")
        .orderBy(col("user_id"), col("session_id"))
    },
      s"""WITH e AS (
         |  SELECT user_id, event_id, epoch_ns(ts) // 1000000000 AS ts_sec
         |  FROM events
         |), flagged AS (
         |  SELECT user_id, event_id, ts_sec,
         |    CASE WHEN lag(ts_sec) OVER w IS NULL
         |              OR ts_sec - lag(ts_sec) OVER w > 43200
         |         THEN 1 ELSE 0 END AS ns
         |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ts_sec, event_id)
         |), sess AS (
         |  SELECT user_id, ts_sec,
         |    count(CASE WHEN ns = 1 THEN 1 END)
         |      OVER (PARTITION BY user_id ORDER BY ts_sec, event_id
         |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
         |  FROM flagged
         |)
         |SELECT user_id, session_id, count(*) AS n_events,
         |  max(ts_sec) - min(ts_sec) AS span_seconds,
         |  min(ts_sec) AS session_start, max(ts_sec) AS session_end
         |FROM sess GROUP BY user_id, session_id
         |ORDER BY user_id, session_id""".stripMargin),
    // Deterministic hash-threshold sampling (operators/Sampling.scala):
    // partitioning-independent, engine-independent — the oracle replays the
    // exact inclusion decisions.
    Gate("q_sample_strata", (s, d) => {
      operators.Sampling.stratifiedSample(s.table("documents"), "doc_id",
          "lang", Map("en" -> 0.5, "de" -> 1.0, "zh" -> 0.2),
          defaultRate = 0.25)
        .select(col("doc_id"), col("lang"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, lang FROM documents
         |WHERE CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) <
         |  CASE lang
         |    WHEN 'en' THEN ${operators.Sampling.threshold(0.5)}
         |    WHEN 'de' THEN ${operators.Sampling.threshold(1.0)}
         |    WHEN 'zh' THEN ${operators.Sampling.threshold(0.2)}
         |    ELSE ${operators.Sampling.threshold(0.25)} END
         |ORDER BY doc_id""".stripMargin),
    Gate("q_anomaly", (s, d) => {
      // grouped z-score outlier screen; l_quantity is integer-valued, so
      // the (n, Σx, Σx²) sums are exact doubles in any aggregation order
      // and the whole z computation is a fixed IEEE tree → bit-exact oracle
      operators.Anomaly.zscoreOutliers(
          s.table("lineitem").select("l_orderkey", "l_linenumber",
            "l_returnflag", "l_quantity"),
          "l_quantity", Seq("l_returnflag"), threshold = 1.6)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
      // Replays Anomaly.zscoreOutliers: μ = Σx/n and σ = sqrt(Σx²/n − μ²)
      // re-derived with the identical IEEE tree; the integer-valued quantity
      // column makes both sums exact in any aggregation order.
      """WITH stats AS (
        |  SELECT l_returnflag, count(l_quantity) AS n, sum(l_quantity) AS s,
        |         sum(l_quantity * l_quantity) AS ss
        |  FROM lineitem GROUP BY l_returnflag)
        |SELECT l.l_orderkey, l.l_linenumber, l.l_returnflag, l.l_quantity,
        |  CASE WHEN sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n)) > 0.0
        |       THEN (l.l_quantity - st.s / st.n)
        |            / sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n))
        |       ELSE 0.0::DOUBLE END AS z_score,
        |  abs(CASE WHEN sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n)) > 0.0
        |       THEN (l.l_quantity - st.s / st.n)
        |            / sqrt(st.ss / st.n - (st.s / st.n) * (st.s / st.n))
        |       ELSE 0.0::DOUBLE END) > 1.6 AS is_outlier
        |FROM lineitem l JOIN stats st USING (l_returnflag)
        |ORDER BY l.l_orderkey, l.l_linenumber""".stripMargin),
    Gate("q_eqfreq_bins", (s, d) => {
      // quantile discretizer: per-language quartile bins over doc length,
      // reported as per-bin counts and ranges (integer-exact end to end)
      operators.Profile.equalFrequencyBins(
          s.table("documents").select("doc_id", "lang", "n_chars"),
          "n_chars", Seq("lang"), nBins = 4)
        .groupBy(col("lang"), col("bin"))
        .agg(count(lit(1)).as("n_docs"),
          min("n_chars").as("lo_chars"), max("n_chars").as("hi_chars"))
        .orderBy(col("lang"), col("bin"))
    },
      // Replays Profile.equalFrequencyBins: quantile_cont edges (exact on
      // integer n_chars), ties fall to the lower bin in both engines
      """WITH e AS (
        |  SELECT lang,
        |    quantile_cont(n_chars, 0.25) AS q1,
        |    quantile_cont(n_chars, 0.5) AS q2,
        |    quantile_cont(n_chars, 0.75) AS q3
        |  FROM documents GROUP BY lang),
        |b AS (
        |  SELECT d.lang, d.n_chars,
        |    CASE WHEN d.n_chars > e.q3 THEN 3
        |         WHEN d.n_chars > e.q2 THEN 2
        |         WHEN d.n_chars > e.q1 THEN 1 ELSE 0 END AS bin
        |  FROM documents d JOIN e USING (lang))
        |SELECT lang, bin, count(*) AS n_docs,
        |  min(n_chars) AS lo_chars, max(n_chars) AS hi_chars
        |FROM b GROUP BY lang, bin ORDER BY lang, bin""".stripMargin),
    Gate("q_cohort", (s, d) => {
      // cohort retention triangle on the event log; day number is pure
      // integer nanos arithmetic (events ts reads as nano longs)
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      operators.EventAnalytics.cohortRetention(ev, "user_id", "day")
        .orderBy(col("cohort_day"), col("day_offset"))
    },
      // Replays EventAnalytics.cohortRetention: integer epoch-day numbers
      // (DuckDB date subtraction ≡ Spark nano DIV — both floor positive ts)
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
        |SELECT f.cohort_day, e.day - f.cohort_day AS day_offset,
        |  count(DISTINCT e.user_id) AS n_users
        |FROM e JOIN f USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
    Gate("q_cohort_kmv", (s, d) => {
      // the named huge-cohort swap, executable and gated: the KMV sketch's
      // md5 hashing is deterministic, so even the ESTIMATE replays
      // bit-for-bit in DuckDB; k=32 < the ~112-user median cell, so the
      // estimator path (not the exact-below-k path) is what's being gated
      val ev = readEventsNanos(s, d)
        .select(col("user_id"), expr("ts DIV 86400000000000").as("day"))
      operators.EventAnalytics.cohortRetention(ev, "user_id", "day",
          approxDistinct = true, sketchK = 32)
        .withColumnRenamed("n_users", "n_users_est")
        .orderBy(col("cohort_day"), col("day_offset"))
    },
      // Replays the KMV-sketch cohort variant: per-cell distinct 60-bit md5
      // hashes, estimate = (k-1)/(k-th smallest / 2^60) past k distinct,
      // exact count below — the same arithmetic tree as KmvBuffer.estimate.
      """WITH e AS (
        |  SELECT user_id,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS day
        |  FROM events),
        |f AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id),
        |j AS (SELECT e.user_id, f.cohort_day, e.day - f.cohort_day AS day_offset
        |      FROM e JOIN f USING (user_id)),
        |h AS (SELECT DISTINCT cohort_day, day_offset,
        |        CAST('0x' || substr(md5(user_id::VARCHAR), 1, 15) AS BIGINT) AS h
        |      FROM j),
        |r AS (SELECT cohort_day, day_offset, h,
        |        row_number() OVER (PARTITION BY cohort_day, day_offset ORDER BY h) AS rn,
        |        count(*) OVER (PARTITION BY cohort_day, day_offset) AS n
        |      FROM h)
        |SELECT cohort_day, day_offset,
        |  CASE WHEN max(n) < 32 THEN CAST(max(n) AS DOUBLE)
        |       ELSE 31.0::DOUBLE / (CAST(max(CASE WHEN rn = 32 THEN h END) AS DOUBLE)
        |         / 1152921504606846976.0::DOUBLE)
        |  END AS n_users_est
        |FROM r GROUP BY cohort_day, day_offset
        |ORDER BY cohort_day, day_offset""".stripMargin),
    Gate("q_funnel", (s, d) => {
      // ordered view→click→purchase funnel over first-occurrence times
      val ev = readEventsNanos(s, d)
      operators.EventAnalytics.funnel(ev, "user_id", "event_type", "ts",
          Seq("view", "click", "purchase"))
        .orderBy(col("step_index"))
    },
      // Replays EventAnalytics.funnel: per-user first-occurrence times, a
      // user reaches step k iff t0 < t1 < … strictly (missing step breaks)
      """WITH pu AS (
        |  SELECT user_id,
        |    min(CASE WHEN event_type = 'view' THEN ts END) AS t0,
        |    min(CASE WHEN event_type = 'click' THEN ts END) AS t1,
        |    min(CASE WHEN event_type = 'purchase' THEN ts END) AS t2
        |  FROM events GROUP BY user_id)
        |SELECT 1 AS step_index, 'view' AS step,
        |  count(CASE WHEN t0 IS NOT NULL THEN 1 END) AS n_users FROM pu
        |UNION ALL
        |SELECT 2, 'click',
        |  count(CASE WHEN t0 IS NOT NULL AND t0 < t1 THEN 1 END) FROM pu
        |UNION ALL
        |SELECT 3, 'purchase',
        |  count(CASE WHEN t0 IS NOT NULL AND t0 < t1 AND t1 < t2 THEN 1 END) FROM pu
        |ORDER BY step_index""".stripMargin),
    Gate("q_iqr_outliers", (s, d) => {
      // robust Tukey-fence screen on per-language doc lengths; n_chars is
      // integer-valued so the interpolated quartiles are exact binary
      // fractions and the fence arithmetic is a fixed IEEE tree
      operators.Anomaly.iqrOutliers(
          s.table("documents").select("doc_id", "lang", "n_chars"),
          "n_chars", Seq("lang"), k = 1.5)
        .orderBy(col("doc_id"))
    },
      // Replays Anomaly.iqrOutliers: quantile_cont matches Spark's exact
      // percentile interpolation on integer inputs (proven by q_quantiles);
      // the fence arithmetic is the identical IEEE tree. ::DOUBLE keeps the
      // 1.5 literal out of DuckDB's DECIMAL arithmetic.
      """WITH bounds AS (
        |  SELECT lang, quantile_cont(n_chars, 0.25) AS q1,
        |         quantile_cont(n_chars, 0.75) AS q3
        |  FROM documents GROUP BY lang)
        |SELECT d.doc_id, d.lang, d.n_chars,
        |  b.q1 - 1.5::DOUBLE * (b.q3 - b.q1) AS lo_bound,
        |  b.q3 + 1.5::DOUBLE * (b.q3 - b.q1) AS hi_bound,
        |  (d.n_chars < b.q1 - 1.5::DOUBLE * (b.q3 - b.q1))
        |    OR (d.n_chars > b.q3 + 1.5::DOUBLE * (b.q3 - b.q1)) AS is_outlier
        |FROM documents d JOIN bounds b USING (lang)
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_quantile_norm", (s, d) => {
      // quantile-normalize per-language doc lengths onto the pooled
      // distribution — cross-source calibration; ranks on the distinct
      // frame, pooled positions via the bucketed prefix kernel, lookups
      // as bucketized range joins
      operators.Feature.quantileNormalize(
          s.table("documents").select("doc_id", "lang", "n_chars"),
          "n_chars", Seq("lang"))
        .orderBy(col("doc_id"))
    },
      // Replays Feature.quantileNormalize: distinct-frame ranks, pooled
      // position segments from a global cumsum (≡ the engine's bucketed
      // decomposition), identical p/h/interpolation expression trees.
      """WITH base AS (SELECT doc_id, lang, CAST(n_chars AS DOUBLE) AS v,
        |                n_chars
        |              FROM documents),
        |dvv AS (SELECT DISTINCT lang, v FROM base),
        |dv AS (SELECT lang, v,
        |         row_number() OVER (PARTITION BY lang ORDER BY v) AS r,
        |         count(*) OVER (PARTITION BY lang) AS n
        |       FROM dvv),
        |pool AS (SELECT v AS pv, CAST(count(*) AS BIGINT) AS cnt
        |         FROM base GROUP BY 1),
        |poolc AS (SELECT pv, cnt, sum(cnt) OVER (ORDER BY pv) AS cum FROM pool),
        |seg AS (SELECT pv, CAST(cum - cnt AS BIGINT) AS lo,
        |          CAST(cum - 1 AS BIGINT) AS hi FROM poolc),
        |tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS ntot FROM pool),
        |pos AS (SELECT lang, v,
        |          (CASE WHEN dv.n = 1 THEN 0.5::DOUBLE
        |           ELSE CAST(dv.r - 1 AS DOUBLE) / CAST(dv.n - 1 AS DOUBLE) END)
        |          * (CAST(ntot AS DOUBLE) - 1.0::DOUBLE) AS hh, ntot
        |        FROM dv CROSS JOIN tot),
        |ks AS (SELECT lang, v, hh, CAST(floor(hh) AS BIGINT) AS k,
        |         least(CAST(floor(hh) AS BIGINT) + 1, ntot - 1) AS kk FROM pos),
        |v1 AS (SELECT ks.lang, ks.v, ks.hh, ks.kk, s1.pv AS pv1
        |       FROM ks JOIN seg s1 ON ks.k BETWEEN s1.lo AND s1.hi),
        |v2 AS (SELECT v1.lang, v1.v, v1.hh, v1.pv1, s2.pv AS pv2
        |       FROM v1 JOIN seg s2 ON v1.kk BETWEEN s2.lo AND s2.hi)
        |SELECT b.doc_id, b.lang, b.n_chars,
        |  pv1 + (hh - floor(hh)) * (pv2 - pv1) AS quantile_normalized
        |FROM base b JOIN v2 ON v2.lang = b.lang AND v2.v = b.v
        |ORDER BY b.doc_id""".stripMargin),
    Gate("q_benford", (s, d) => {
      // Benford first-digit screen over order totals (scale 2) — digit
      // from the scaled BIGINT's string form (integer rendering is
      // engine-identical; float log10 extraction is ulp-fragile)
      operators.Anomaly.benford(
          s.table("orders").select("o_totalprice"), "o_totalprice", scale = 2)
        .orderBy(col("digit"))
    },
      // Replays Anomaly.benford at scale=2: first digit from the scaled
      // BIGINT's VARCHAR form, in-engine rounded log10 probabilities,
      // identically-parenthesized chi² terms.
      """WITH x AS (
        |  SELECT CAST(round(o_totalprice * 100.0::DOUBLE) AS BIGINT) AS xi
        |  FROM orders),
        |c AS (SELECT CAST(substr(CAST(xi AS VARCHAR), 1, 1) AS INT) AS digit,
        |        CAST(count(*) AS BIGINT) AS n
        |      FROM x GROUP BY 1),
        |spine AS (SELECT CAST(unnest(range(1, 10)) AS INT) AS digit),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS N FROM c),
        |b AS (SELECT s.digit, CAST(coalesce(c.n, 0) AS BIGINT) AS n,
        |        round(log10(1.0::DOUBLE + 1.0::DOUBLE / CAST(s.digit AS DOUBLE)), 10)
        |          + 0.0 AS p_benford
        |      FROM spine s LEFT JOIN c USING (digit))
        |SELECT b.digit, b.n,
        |  CAST(b.n AS DOUBLE) / CAST(t.N AS DOUBLE) AS p_obs, b.p_benford,
        |  (CAST(b.n AS DOUBLE) - CAST(t.N AS DOUBLE) * b.p_benford)
        |    * (CAST(b.n AS DOUBLE) - CAST(t.N AS DOUBLE) * b.p_benford)
        |    / (CAST(t.N AS DOUBLE) * b.p_benford) AS chi2_term
        |FROM b CROSS JOIN t
        |ORDER BY digit""".stripMargin),
    Gate("q_cusum", (s, d) => {
      // two-sided CUSUM drift screen per supplier over time-ordered
      // shipment quantities (target 25.5, slack 2, h 40, scale 1) — the
      // max-0 recurrence run declaratively as cumsum − running-min
      operators.Anomaly.cusum(
          s.table("lineitem").select("l_suppkey", "l_shipdate",
            "l_orderkey", "l_linenumber", "l_quantity"),
          "l_quantity", Seq("l_suppkey"),
          Seq("l_shipdate", "l_orderkey", "l_linenumber"),
          target = 25.5, slack = 2.0, threshold = 40.0, scale = 1)
        .orderBy(col("l_suppkey"), col("l_shipdate"), col("l_orderkey"),
          col("l_linenumber"))
    },
      // Replays Anomaly.cusum at scale=1: integer deviation cumsums,
      // running min floored at 0, descale division — the same two-level
      // window over the identical total order.
      """WITH s AS (
        |  SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |    CAST(round(l_quantity * 10.0::DOUBLE) AS BIGINT) AS xi
        |  FROM lineitem),
        |c AS (
        |  SELECT *, sum(xi - 275) OVER wsp AS chi, sum(235 - xi) OVER wsp AS clo
        |  FROM s
        |  WINDOW wsp AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
        |f AS (
        |  SELECT *, chi - least(0, min(chi) OVER wsp) AS shi,
        |    clo - least(0, min(clo) OVER wsp) AS slo
        |  FROM c
        |  WINDOW wsp AS (PARTITION BY l_suppkey
        |    ORDER BY l_shipdate, l_orderkey, l_linenumber
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
        |SELECT l_suppkey, l_shipdate, l_orderkey, l_linenumber, l_quantity,
        |  CAST(shi AS DOUBLE) / 10.0::DOUBLE AS cusum_hi,
        |  CAST(slo AS DOUBLE) / 10.0::DOUBLE AS cusum_lo,
        |  (shi >= 400 OR slo >= 400) AS is_shift
        |FROM f
        |ORDER BY l_suppkey, l_shipdate, l_orderkey, l_linenumber""".stripMargin),
    Gate("q_mad_outliers", (s, d) => {
      // median/MAD modified-z screen on per-language doc lengths — the
      // 50%-breakdown robust sibling of q_anomaly/q_iqr_outliers;
      // integer-valued n_chars keeps both interpolated medians exact
      operators.Anomaly.madOutliers(
          s.table("documents").select("doc_id", "lang", "n_chars"),
          "n_chars", Seq("lang"), threshold = 3.5)
        .orderBy(col("doc_id"))
    },
      // Replays Anomaly.madOutliers: two quantile_cont passes (median, then
      // median of absolute deviations), identical division/multiply order,
      // MAD=0 → z=0/never flags.
      """WITH m AS (
        |  SELECT lang, quantile_cont(n_chars, 0.5) AS med
        |  FROM documents GROUP BY lang),
        |dev AS (
        |  SELECT d.doc_id, d.lang, d.n_chars, m.med,
        |    abs(d.n_chars - m.med) AS dv
        |  FROM documents d JOIN m USING (lang)),
        |md AS (SELECT lang, quantile_cont(dv, 0.5) AS mad FROM dev GROUP BY lang)
        |SELECT dev.doc_id, dev.lang, dev.n_chars, dev.med, md.mad,
        |  CASE WHEN md.mad > 0.0 THEN
        |    (dev.n_chars - dev.med) / (1.4826::DOUBLE * md.mad)
        |  ELSE 0.0 END AS robust_z,
        |  CASE WHEN md.mad > 0.0 THEN
        |    abs((dev.n_chars - dev.med) / (1.4826::DOUBLE * md.mad)) > 3.5::DOUBLE
        |  ELSE FALSE END AS is_outlier
        |FROM dev JOIN md USING (lang)
        |ORDER BY dev.doc_id""".stripMargin),
    Gate("q_histogram", (s, d) => {
      // 24 × 25000-wide bins over order totals; clamped edge bins
      operators.Profile.histogram(s.table("orders"), "o_totalprice",
          lo = 0.0, hi = 600000.0, nBins = 24)
        .orderBy(col("bin"))
    },
      """SELECT least(greatest(CAST(floor((o_totalprice - 0.0) / 25000.0) AS BIGINT), 0), 23) AS bin,
        |  count(*) AS cnt
        |FROM orders WHERE o_totalprice IS NOT NULL
        |GROUP BY 1 ORDER BY bin""".stripMargin),
    Gate("q_profile", (s, d) => {
      // per-column completeness/range report (string-rendered min/max)
      operators.Profile.columnProfile(s.table("orders"),
          Seq("o_orderkey", "o_orderstatus", "o_orderpriority"))
        .orderBy(col("col_name"))
    },
      """SELECT 'o_orderkey' AS col_name, count(*) AS n_rows,
        |  count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS n_nulls,
        |  min(o_orderkey)::VARCHAR AS min_value, max(o_orderkey)::VARCHAR AS max_value,
        |  count(DISTINCT o_orderkey) AS n_distinct
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderstatus', count(*),
        |  count(CASE WHEN o_orderstatus IS NULL THEN 1 END),
        |  min(o_orderstatus), max(o_orderstatus), count(DISTINCT o_orderstatus)
        |FROM orders
        |UNION ALL
        |SELECT 'o_orderpriority', count(*),
        |  count(CASE WHEN o_orderpriority IS NULL THEN 1 END),
        |  min(o_orderpriority), max(o_orderpriority), count(DISTINCT o_orderpriority)
        |FROM orders
        |ORDER BY col_name""".stripMargin),
    Gate("q_profile_kmv", (s, d) => {
      // profile-everything at 100 TB: KMV sketch distincts (no Expand, k
      // longs of state); o_orderkey exceeds k=256 so the ESTIMATOR path is
      // gated, the low-cardinality columns take the exact-below-k path
      operators.Profile.columnProfile(s.table("orders"),
          Seq("o_orderkey", "o_orderstatus", "o_orderpriority"),
          approxDistinct = true, sketchK = 256)
        .orderBy(col("col_name"))
    },
      duckProfileKmvSql),
    Gate("q_profile_hll", (s, d) => {
      // the smallest-state profile path: HLL registers (2^8 BYTES per
      // column) replace the KMV longs; same report shape, estimate via
      // the shared SQL fragment. o_orderkey exercises the raw branch,
      // the low-cardinality columns the linear-counting branch.
      operators.Profile.columnProfileHll(s.table("orders"),
          Seq("o_orderkey", "o_orderstatus", "o_orderpriority"), p = 8)
        .orderBy(col("col_name"))
    },
      duckProfileHllSql),
    Gate("q_sample_weighted", (s, d) => {
      // Efraimidis–Spirakis weighted top-64 by n_chars (longer docs more
      // likely); hash-derived priorities, so the draw is reproducible
      operators.Sampling.weightedSample(s.table("documents"), "doc_id",
          "n_chars", k = 64)
        .select(col("doc_id"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // Replays Sampling.weightedSample: rank = ln((hash+1)/2^60)/weight,
      // top-64 by rank (ties on doc_id). ln's last-ulp rounding can differ
      // between engines, but a selection flip needs two ranks within one ulp
      // of each other AND straddling the k-th place — vanishingly unlikely.
      s"""SELECT doc_id, n_chars FROM (
         |  SELECT doc_id, n_chars FROM documents
         |  ORDER BY ln((CAST(CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) AS DOUBLE)
         |      + 1.0::DOUBLE) / 1152921504606846976.0::DOUBLE)
         |    / CAST(n_chars AS DOUBLE) DESC, doc_id
         |  LIMIT 64) t
         |ORDER BY doc_id""".stripMargin),
    Gate("q_sample_per_group", (s, d) => {
      // deterministic ≤20-docs-per-source cap via the bounded-heap topk_by
      // aggregate (48-bit hash ranking, ties to the lower doc_id)
      operators.Sampling.samplePerGroup(s.table("documents"), "doc_id",
          "source", n = 20)
        .orderBy(col("source"), col("rank"))
    },
      // Replays Sampling.samplePerGroup: 48-bit md5 key hash (exact in the
      // heap's double ordering), per-source rank ascending, ties to the
      // lower doc_id, keep rank <= 20.
      s"""WITH h AS (
         |  SELECT source, doc_id,
         |    CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 12) AS BIGINT) AS h48
         |  FROM documents
         |), r AS (
         |  SELECT source, doc_id,
         |    CAST(row_number() OVER (PARTITION BY source ORDER BY h48, doc_id)
         |      AS BIGINT) AS rank
         |  FROM h
         |)
         |SELECT source, doc_id, rank FROM r
         |WHERE rank <= 20 ORDER BY source, rank""".stripMargin),
    Gate("q_corpus_mix", (s, d) => {
      val docs = s.table("documents")
      operators.Sampling.mixCorpora(Seq(
          (docs.filter(col("source") === "src0"), 1.0),
          (docs.filter(col("source") === "src1"), 0.5),
          (docs.filter(col("source") === "src2"), 0.2)), "doc_id")
        .select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id, source FROM documents WHERE source = 'src0'
         |  AND CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) < ${operators.Sampling.threshold(1.0)}
         |UNION ALL
         |SELECT doc_id, source FROM documents WHERE source = 'src1'
         |  AND CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) < ${operators.Sampling.threshold(0.5)}
         |UNION ALL
         |SELECT doc_id, source FROM documents WHERE source = 'src2'
         |  AND CAST('0x' || substr(md5(doc_id::VARCHAR), 1, 15) AS BIGINT) < ${operators.Sampling.threshold(0.2)}
         |ORDER BY doc_id""".stripMargin)
  )
}
