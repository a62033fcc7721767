package graft
package gates

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, expr, lit, raise_error, when}

/** SQL fragments and input frames shared by more than one gate family:
  * the supplier window spec and its DuckDB frame, the daily-bars inputs
  * and their DuckDB replay, the sequential folds the indicator oracles
  * reuse, and the text, shingle and k-means CTE chains. A helper used by
  * one family lives in that family's file. */
private[gates] object GateSql {

  /** Daily per-supplier OHLC bars from lineitem ticks, shared by the bar
    * gates. The tick tie-break packs (l_orderkey, l_linenumber) into ONE
    * BIGINT (linenumber ∈ [1,7], so ×8 is order-isomorphic) — a single
    * atomic ordering column keeps the min_by/max_by buffers
    * hash-aggregable (see `Bars.ohlc`'s SortAggregate note). */
  def dailyBars(s: SparkSession): DataFrame = {
    operators.Bars.ohlc(
      s.table("lineitem").withColumn("l_tick",
        expr("l_orderkey * 8 + l_linenumber")),
      "l_quantity", "l_extendedprice", Seq("l_suppkey"), "l_shipdate",
      Seq("l_tick"), volScale = 2)
  }

  /** [[dailyBars]] pre-clustered by supplier RANGE for the window-consuming
    * gates (r15, guide §2.4 "remove shuffles outright"): every one of these
    * gates windows by `l_suppkey` and ends in a global
    * `ORDER BY l_suppkey, …`, which used to plan THREE exchanges — the agg
    * hash exchange, a second hash exchange for the window, and a final
    * range exchange whose bound-sampling job recomputes the window stage.
    * `RangePartitioning(l_suppkey)` satisfies BOTH the window's
    * ClusteredDistribution (equal keys co-locate) and the final sort's
    * OrderedDistribution (prefix rule), so the window and the global sort
    * reuse ONE range exchange planned below the window: 3 exchanges → 2,
    * the bars frame crosses the wire once instead of twice, and the range
    * sampler now samples the (reusable) agg shuffle output instead of
    * re-running the window. Same row set, same total output order; the
    * map-side tick→bar collapse of the agg exchange is untouched, so the
    * shape is strictly better at any scale (skew bound unchanged — the
    * window already required per-supplier locality). Gates that re-key
    * downstream (q_event_study, q_ic, q_rbo, q_corr_matrix, q_theil_sen,
    * q_kendall) keep plain [[dailyBars]]. */
  def dailyBarsW(s: SparkSession): DataFrame = {
    dailyBars(s).repartitionByRange(col("l_suppkey"))
  }

  // Shared window spec: partition by supplier, total order within partition.
  val W =
    "PARTITION BY l_suppkey ORDER BY l_shipdate, l_orderkey, l_linenumber"

  /** DuckDB sequential-fold EMA over a prefix list — bit-identical to the
    * Ema expression's update order. */
  // NB: literals must be ::DOUBLE — DuckDB otherwise does DECIMAL division,
  // which is not the IEEE quotient Spark computes.
  def duckEma(list: String, n: Int): String =
    s"list_reduce($list, (acc,x) -> (2.0::DOUBLE/${n + 1}.0::DOUBLE)*x + (1.0::DOUBLE - 2.0::DOUBLE/${n + 1}.0::DOUBLE)*acc)"

  /** Replays Bars.ohlc on lineitem: open/close picked by rank over the
    * unique tick order (min_by/max_by equivalent — (l_orderkey,
    * l_linenumber) is unique), scaled-BIGINT volume sum. Shared by the
    * bars gate and the ATR gate that consumes the bars. */
  val duckBarsSql =
    """SELECT l_suppkey, l_shipdate,
      |  max(CASE WHEN ra = 1 THEN x END) AS open,
      |  max(x) AS high, min(x) AS low,
      |  max(CASE WHEN rd = 1 THEN x END) AS close,
      |  CAST(sum(vi) AS DOUBLE) / 100.0::DOUBLE AS volume,
      |  count(*) AS n_ticks
      |FROM (
      |  SELECT l_suppkey, l_shipdate, CAST(l_quantity AS DOUBLE) AS x,
      |    CAST(round(CAST(l_extendedprice AS DOUBLE) * 100.0::DOUBLE) AS BIGINT) AS vi,
      |    row_number() OVER (PARTITION BY l_suppkey, l_shipdate
      |      ORDER BY l_orderkey, l_linenumber) AS ra,
      |    row_number() OVER (PARTITION BY l_suppkey, l_shipdate
      |      ORDER BY l_orderkey DESC, l_linenumber DESC) AS rd
      |  FROM lineitem) t
      |GROUP BY l_suppkey, l_shipdate""".stripMargin

  /** The struct accumulator for the prefix list `(p,g,l,c)` — p is the raw
    * value column wrapped per row. */
  def rsiStructList(valueCol: String): String =
    s"list(struct_pack(p := $valueCol, g := 0.0::DOUBLE, l := 0.0::DOUBLE, c := 0.0::DOUBLE)) OVER w"

  /** DuckDB sequential RSI fold replicating Rsi's update order (seed =
    * simple mean of first n gains/losses, then Wilder
    * avg' = avg*(1-1/n) + g*(1/n)). */
  def rsiFold(listExpr: String, n: Int): String = {
    val nd = s"$n.0::DOUBLE"
    s"""list_reduce($listExpr, (acc, e) -> CASE
       |      WHEN acc.c + 1.0 < $nd THEN struct_pack(p := e.p, g := acc.g + greatest(e.p - acc.p, 0.0::DOUBLE), l := acc.l + greatest(acc.p - e.p, 0.0::DOUBLE), c := acc.c + 1.0)
       |      WHEN acc.c + 1.0 = $nd THEN struct_pack(p := e.p, g := (acc.g + greatest(e.p - acc.p, 0.0::DOUBLE))/$nd, l := (acc.l + greatest(acc.p - e.p, 0.0::DOUBLE))/$nd, c := acc.c + 1.0)
       |      ELSE struct_pack(p := e.p, g := acc.g*(1.0::DOUBLE - 1.0::DOUBLE/$nd) + greatest(e.p - acc.p, 0.0::DOUBLE)*(1.0::DOUBLE/$nd), l := acc.l*(1.0::DOUBLE - 1.0::DOUBLE/$nd) + greatest(acc.p - e.p, 0.0::DOUBLE)*(1.0::DOUBLE/$nd), c := acc.c + 1.0)
       |    END)""".stripMargin
  }

  def rsiEval(s: String, n: Int): String =
    s"CASE WHEN $s.c >= $n.0::DOUBLE THEN CASE WHEN $s.l = 0.0 THEN 100.0::DOUBLE ELSE 100.0 - (100.0 / (1.0 + $s.g/$s.l)) END END"

  /** Per-row oracle-precondition guard: passes `text` through unchanged, or
    * raises at runtime if a document violates a contract the DuckDB replica
    * depends on. The precondition is thereby checked against WHATEVER corpus
    * Verify/Bench actually runs on (the specs only sample sf0.001), so a
    * violating document at another scale factor fails loudly here instead of
    * surfacing as an opaque gate hash mismatch. Codegen'd per-row predicate —
    * no extra pass, no plan change. */
  def textChecked(text: org.apache.spark.sql.Column,
                          violation: org.apache.spark.sql.Column,
                          msg: String): org.apache.spark.sql.Column = {
    when(violation, raise_error(lit(msg))).otherwise(text)
  }

  /** events table with `ts` as NANOSECOND Longs — delegates to
    * [[sources.Events.readNanos]], which reads the raw INT64 through an
    * explicit LongType schema and normalizes whatever unit the parquet
    * footer declares (the generator has shipped both ns and µs files). */
  def readEventsNanos(s: SparkSession, d: String): DataFrame =
    sources.Events.readNanos(s, d)

  /** Tokenized (doc_id, w, pos) and distinct (doc_id, shingle) CTE bodies —
    * mirror TextOps.tokens / TextOps.shingles. */
  val duckToks =
    """toks0 AS (
      |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w,
      |         generate_subscripts(string_split_regex(lower(text), '[^a-z0-9]+'), 1) AS pos
      |  FROM documents
      |), toks AS (SELECT doc_id, w, pos FROM toks0 WHERE w <> '')""".stripMargin

  /** Word-3-gram CTEs under the canonical `sh0`/`sh` names most oracles
    * reference — the single source is [[duckShinglesN]]. */
  lazy val duckShingles = duckShinglesN(3, "sh")

  /** Word-n-gram CTEs (`<cte>0` with duplicates, `<cte>` distinct) —
    * mirrors TextOps.shingles for any n. */
  def duckShinglesN(n: Int, cte: String = "shn"): String = {
    val concat = ("w" +: (1 until n).map(k => s"lead(w,$k) OVER win")).mkString(" || ' ' || ")
    s"""$duckToks, ${cte}0 AS (
       |  SELECT doc_id, $concat AS shingle
       |  FROM toks WINDOW win AS (PARTITION BY doc_id ORDER BY pos)
       |  QUALIFY lead(w,${n - 1}) OVER win IS NOT NULL
       |), $cte AS (SELECT DISTINCT doc_id, shingle FROM ${cte}0)""".stripMargin
  }

  /** The minhash CTE chain through candidate pairs (shared by the near-dup,
    * connected-components, and incremental-dedup oracles). `candCond`
    * restricts which band collisions become candidates (default: each
    * unordered pair once). */
  def duckMinhashCtes(candCond: String = "a.doc_id < b.doc_id"): String = {
    val coeffs = operators.Dedup.minhashCoeffs(16).zipWithIndex
      .map { case ((a, b), i) => s"($i, ${a}::BIGINT, ${b}::BIGINT)" }
      .mkString(", ")
    s"""$duckShingles,
       |hm AS (
       |  SELECT doc_id,
       |    (CAST('0x' || substr(md5(shingle), 1, 15) AS BIGINT) % ${operators.Dedup.MinhashP}) AS hm
       |  FROM sh
       |),
       |coeffs(i, a, b) AS (VALUES $coeffs),
       |mh AS (
       |  SELECT doc_id, i, min((a * hm + b) % ${operators.Dedup.MinhashP}) AS mh
       |  FROM hm CROSS JOIN coeffs
       |  GROUP BY doc_id, i
       |),
       |bands AS (
       |  SELECT doc_id, i // 4 AS band, string_agg(CAST(mh AS VARCHAR), '|' ORDER BY i) AS sig
       |  FROM mh GROUP BY doc_id, i // 4
       |),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM bands a JOIN bands b
       |    ON a.band = b.band AND a.sig = b.sig AND $candCond
       |)""".stripMargin
  }

  /** [[duckComponentsCtes]] with STAR candidates: per-(band, sig) bucket
    * rep = min(doc_id), edges only rep→member (verified) — replays
    * `Dedup.starNearDupClusters` for the q_dedup_star oracle. */
  def duckStarComponentsCtes: String =
    s"""${duckMinhashCtes()},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |reps AS (SELECT band, sig, min(doc_id) AS rep FROM bands GROUP BY band, sig),
       |scand AS (
       |  SELECT DISTINCT r.rep AS id_a, b.doc_id AS id_b
       |  FROM bands b JOIN reps r ON r.band = b.band AND r.sig = b.sig
       |  WHERE b.doc_id > r.rep
       |),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM scand c
       |  JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY c.id_a, c.id_b
       |),
       |spairs AS (
       |  SELECT i.id_a, i.id_b
       |  FROM inter i
       |  JOIN sizes na ON na.doc_id = i.id_a
       |  JOIN sizes nb ON nb.doc_id = i.id_b
       |  WHERE CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) >= 0.5
       |),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM spairs
       |  UNION SELECT id_b, id_a FROM spairs
       |),
       |verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.src, r.r FROM reach r JOIN edges e ON e.dst = r.id
       |)""".stripMargin
}
