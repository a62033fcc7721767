package graft
package gates

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, concat, explode, expr, lit,
  posexplode, sequence, substring, when}
import GateSql._

/** Near-duplicate and vector-search gates: [[operators.Dedup]],
  * [[operators.Similarity]], [[operators.Pq]], [[operators.Sq]] and the
  * HLL / KMV sketches. */
private[gates] object DedupGates {

  /** Session-scoped root for q_winnow_ingest_persisted's on-disk index
    * (ADVICE r14): ONE temp root per JVM, swept by a shutdown hook
    * (the StreamingLive.ckptRoot pattern), instead of a fresh leaked
    * directory per invocation — Bench's min-of-2/min-of-3 reruns reuse
    * the written index so only the cold parquet probe join is timed. */
  private lazy val winnowIdxRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_winnow_idx")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      try {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(root).iterator().asScala.toSeq.reverse
          .foreach(p => java.nio.file.Files.deleteIfExists(p))
      } catch { case _: Throwable => }
    }))
    root
  }

  /** corpus dir → its written winnow-index parquet path (built once per
    * session per corpus; the per-invocation measured plan is the probe). */
  private val winnowIdxDirs =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  /** Deterministic replica flood of the documents table for the
    * pair-budget family gates (q_*_flood): every 25th document × 4 copies,
    * copy r > 0 tagged with a 2-token suffix so replicas are NEAR-dups
    * (tag shingles are a tiny fraction of a document's set), ids shifted
    * by r·1e6 (doc_id stays far below 1e6 at every test SF). The DuckDB
    * twin is [[duckFloodDocs]]. */
  private def floodDocs(s: SparkSession): DataFrame = {
    s.table("documents").filter(col("doc_id") % 25 === 0)
      .select(col("doc_id"), col("text"),
        explode(sequence(lit(0), lit(3))).as("r"))
      .select((col("doc_id") + col("r") * lit(1000000L)).as("doc_id"),
        when(col("r") === 0, col("text"))
          .otherwise(concat(col("text"), lit(" flood f"),
            col("r").cast("string"))).as("text"))
  }

  /** DuckDB twin of [[floodDocs]] for the q_*_flood oracles: a CTE named
    * `documents` SHADOWS the base view for every downstream CTE (duckToks,
    * duckShingles, duckSimhashSql all read `FROM documents` unchanged);
    * the base view is reached through the explicit `main` schema. */
  private val duckFloodDocs: String =
    """documents AS (
      |  SELECT doc_id + r*1000000 AS doc_id,
      |    CASE WHEN r = 0 THEN text
      |         ELSE text || ' flood f' || r::VARCHAR END AS text
      |  FROM (SELECT doc_id, text FROM main.documents WHERE doc_id % 25 = 0) fd,
      |       range(4) t(r))""".stripMargin

  private def duckJaccardTail(threshold: Double = 0.5): String =
    s"""sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
      |inter AS (
      |  SELECT c.id_a, c.id_b, count(*) AS inter
      |  FROM cand c
      |  JOIN sh sa ON sa.doc_id = c.id_a
      |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
      |  GROUP BY c.id_a, c.id_b
      |)
      |SELECT i.id_a, i.id_b,
      |  CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) AS jaccard
      |FROM inter i
      |JOIN sizes na ON na.doc_id = i.id_a
      |JOIN sizes nb ON nb.doc_id = i.id_b
      |WHERE CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) >= $threshold
      |ORDER BY i.id_a, i.id_b""".stripMargin

  /** The value-identical DuckDB twin of the winnow kernel's gram hash
    * ([[graft.functions.WinnowKernel]]) at noise=21: the first 10 hex
    * chars of md5(gram) as a BIGINT — the same '0x'-cast md5 derivation
    * the minhash oracles use. Evaluates over the same `text`/`pos`
    * columns the selection CTE exposes. */
  private val duckWinnowHash: String =
    s"CAST('0x' || substring(md5(substring(text, pos, 21)), 1, " +
      s"${operators.Dedup.WinnowHashHexChars}) AS BIGINT)"

  /** Shared selection CTEs replaying [[operators.Dedup.winnowFingerprints]]
    * at minLen=30, noise=21 (w=10) over `documents`: the same packed
    * `hash(40b) ∥ pos(21b) ∥ validStart(1b)` BIGINT key (62 bits total —
    * WinnowHashHexChars = 10 hex chars = 40 hash bits, matching the
    * Dedup.scala constants doc), per-doc window
    * min ordered by the position bits, flag-filtered winners, gram TEXT
    * recovered by joining the winners back to the documents — ends with
    * `sel(doc_id, pos, gram)`. */
  private val duckWinnowSelCtes: String =
    s"""p AS (
       |  SELECT doc_id, length(text) - 29 AS last_start,
       |    unnest(generate_series(1, length(text) - 20)) AS pos, text
       |  FROM documents WHERE length(text) >= 30
       |),
       |occ AS (
       |  SELECT doc_id,
       |    ($duckWinnowHash * 4194304) + (pos * 2)
       |      + (CASE WHEN pos <= last_start THEN 1 ELSE 0 END) AS key
       |  FROM p
       |),
       |winm AS (
       |  SELECT doc_id, key,
       |    min(key) OVER (PARTITION BY doc_id ORDER BY ((key >> 1) & 2097151)
       |      ROWS BETWEEN CURRENT ROW AND 9 FOLLOWING) AS winkey
       |  FROM occ
       |),
       |selp AS (
       |  SELECT DISTINCT doc_id,
       |    CAST(((winkey >> 1) & 2097151) AS INTEGER) AS pos
       |  FROM winm WHERE (key & 1) = 1
       |),
       |sel AS (
       |  SELECT s.doc_id, s.pos, substring(d.text, s.pos, 21) AS gram
       |  FROM selp s JOIN documents d ON d.doc_id = s.doc_id
       |)""".stripMargin

  /** Replays Dedup.winnowedCut per-CHARACTER (the q_substring_cut
    * anti-join formulation over the winnowed selection): a char survives
    * iff no duplicate-marked fingerprint span covers it, each span
    * stretched `pad` chars both ways (edgePad). */
  private def duckWinnowCutSql(pad: Int): String =
    s"""WITH $duckWinnowSelCtes,
       |marked AS (
       |  SELECT doc_id, pos,
       |    count(*) OVER (PARTITION BY gram) AS cnt,
       |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
       |  FROM sel
       |),
       |dup AS (
       |  SELECT doc_id, pos - $pad AS s, pos + 20 + $pad AS e FROM marked
       |  WHERE cnt >= 2 AND rn > 1
       |),
       |chars AS (
       |  SELECT d.doc_id, t.i AS cpos, substring(d.text, t.i, 1) AS ch
       |  FROM documents d, unnest(generate_series(1, length(d.text))) AS t(i)
       |),
       |kept AS (
       |  SELECT c.doc_id, c.cpos, c.ch
       |  FROM chars c LEFT JOIN dup u
       |    ON u.doc_id = c.doc_id AND c.cpos BETWEEN u.s AND u.e
       |  GROUP BY c.doc_id, c.cpos, c.ch
       |  HAVING count(u.doc_id) = 0
       |),
       |agg AS (
       |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS cleaned_text
       |  FROM kept GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text,
       |  length(d.text) - length(coalesce(a.cleaned_text, '')) AS removed_chars
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |ORDER BY d.doc_id""".stripMargin

  /** Replays Dedup.winnowIncrementalDedup over the even(ref)/odd(new)
    * doc_id split — shared verbatim by q_winnow_ingest and
    * q_winnow_ingest_persisted (the parquet round-trip of the index must
    * not change a single row). */
  private val duckWinnowIngestSql: String =
    s"""WITH $duckWinnowSelCtes,
       |refidx AS (
       |  SELECT DISTINCT gram FROM sel WHERE doc_id % 2 = 0
       |),
       |agg AS (
       |  SELECT s.doc_id, count(*) AS n_fp,
       |    count(r.gram) AS n_dup
       |  FROM sel s LEFT JOIN refidx r ON r.gram = s.gram
       |  WHERE s.doc_id % 2 = 1
       |  GROUP BY s.doc_id
       |)
       |SELECT d.doc_id, coalesce(a.n_fp, 0) AS n_fp,
       |  coalesce(a.n_dup, 0) AS n_dup
       |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
       |WHERE d.doc_id % 2 = 1
       |ORDER BY d.doc_id""".stripMargin

  private val duckCos =
    "list_reduce(list_transform(list_zip({A}, {B}), t -> CAST(t[1] AS DOUBLE)*CAST(t[2] AS DOUBLE)), (a,b) -> a + b)"

  private def cosSql(a: String, b: String): String =
    duckCos.replace("{A}", a).replace("{B}", b)

  /** The q_embed_project sign matrix as DuckDB VALUES rows — the exact
    * [[operators.Similarity.signMatrix]](64, 16) entries (±1.0), one
    * `(dim_idx, DOUBLE[64])` row per output dimension, so both engines
    * fold the IDENTICAL signs in the identical order. */
  private lazy val duckSignRows: String =
    operators.Similarity.signMatrix(64, 16).zipWithIndex.map { case (row, j) =>
      row.map(v => if (v > 0) "1.0" else "-1.0")
        .mkString(s"  ($j, [", ", ", s"])")
    }.mkString(",\n")

  /** Squared L2 as the same `a·a − 2·a·b + b·b` tree over the
    * sequential-fold dot product that [[operators.Pq.sqDist]] evaluates. */
  private def sqdSql(a: String, b: String): String =
    s"(${cosSql(a, a)} - 2.0::DOUBLE * ${cosSql(a, b)} + ${cosSql(b, b)})"

  /** PQ training/encode/reconstruct CTE chain (per-subspace k-means with
    * the shared init/rounding/tie protocol, ending in
    * `recon(vec_id, recon)`), shared by the plain-ADC and IVF-ADC
    * oracles. CTE names (s0…, i0…, m0_1…, f0…, r0…) are disjoint from
    * [[duckKmeansCtes]]'s, so the two chains compose in one WITH. */
  private def duckPqReconCtes(m: Int, k: Int, iters: Int, width: Int): String = {
    def assignCte(name: String, src: String, cents: String) =
      s"""$name AS (
         |  SELECT vec_id, sl, cid FROM (
         |    SELECT s.vec_id, s.sl, c.cid,
         |      row_number() OVER (PARTITION BY s.vec_id
         |        ORDER BY ${sqdSql("s.sl", "c.centroid")}, c.cid) AS r
         |    FROM $src s CROSS JOIN $cents c) WHERE r = 1)""".stripMargin
    val subs = (0 until m).map { j =>
      val (lo, hi) = (j * width + 1, (j + 1) * width)
      val rounds = (1 to iters).map { i =>
        assignCte(s"m${j}_$i", s"s$j", if (i == 1) s"i$j" else s"c${j}_${i - 1}") +
        s""",
           |d${j}_$i AS (
           |  SELECT cid, unnest(sl) AS v, generate_subscripts(sl, 1) AS pos
           |  FROM m${j}_$i),
           |cd${j}_$i AS (
           |  SELECT cid, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cv
           |  FROM d${j}_$i GROUP BY cid, pos),
           |c${j}_$i AS (
           |  SELECT cid, list(cv ORDER BY pos) AS centroid
           |  FROM cd${j}_$i GROUP BY cid)""".stripMargin
      }.mkString(",\n")
      s"""s$j AS (SELECT vec_id, embedding[$lo:$hi] AS sl FROM embeddings),
         |i$j AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cid,
         |    list_transform(sl, x -> CAST(x AS DOUBLE)) AS centroid
         |  FROM (SELECT vec_id, sl FROM s$j ORDER BY vec_id LIMIT $k)),
         |$rounds,
         |${assignCte(s"f$j", s"s$j", s"c${j}_$iters")},
         |r$j AS (SELECT f.vec_id, c.centroid FROM f$j f JOIN c${j}_$iters c USING (cid))""".stripMargin
    }.mkString(",\n")
    val concat = (0 until m).map(j => s"r$j.centroid").mkString(" || ")
    val joins = (1 until m).map(j => s"JOIN r$j USING (vec_id)").mkString(" ")
    s"""$subs,
       |recon AS (
       |  SELECT r0.vec_id, $concat AS recon
       |  FROM r0 $joins)""".stripMargin
  }

  /** Replays Pq.adcKnn: per-subspace L2 k-means (same init/rounding/tie
    * protocol as the IVF oracle), encode, reconstruct by list concat, ADC
    * = squared L2 to the reconstruction as the same a·a − 2·a·b + b·b
    * tree over the sequential-fold dot product. */
  private def duckPqSql: String =
    s"""WITH ${duckPqReconCtes(m = 4, k = 4, iters = 2, width = 16)},
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 10),
       |sc AS (
       |  SELECT q.query_id, r.vec_id AS neighbor_id,
       |    ${sqdSql("q.q_emb", "r.recon")} AS adc_dist
       |  FROM recon r CROSS JOIN q WHERE q.query_id <> r.vec_id),
       |rk AS (
       |  SELECT query_id, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT query_id, neighbor_id, adc_dist, rank FROM rk
       |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Replays [[operators.Pq.ivfAdcKnn]]: the shared coarse-k-means chain
    * (`mf`) routes each query to its best cluster, the shared PQ chain
    * (`recon`) supplies reconstructions, ADC ranks only the probed
    * cluster's members. */
  private def duckIvfPqSql: String =
    s"""WITH ${duckKmeansCtes(nlist = 8, iters = 2)},
       |${duckPqReconCtes(m = 4, k = 4, iters = 2, width = 16)},
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb
       |      FROM embeddings WHERE vec_id < 10),
       |qc AS (
       |  SELECT q.query_id, q.q_emb, c.cl,
       |    ${cosSql("q.q_emb", "c.centroid")} AS ccos
       |  FROM q CROSS JOIN c2 c
       |),
       |assigned AS (
       |  SELECT query_id, q_emb, cl FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cl) AS r FROM qc
       |  ) WHERE r <= 1
       |),
       |sc AS (
       |  SELECT a.query_id, a.cl, r.vec_id AS neighbor_id,
       |    ${sqdSql("a.q_emb", "r.recon")} AS adc_dist
       |  FROM recon r
       |  JOIN mf m ON m.vec_id = r.vec_id
       |  JOIN assigned a ON m.cl = a.cl
       |  WHERE a.query_id <> r.vec_id),
       |rk AS (
       |  SELECT query_id, cl, neighbor_id, adc_dist,
       |    CAST(row_number() OVER (PARTITION BY query_id
       |      ORDER BY adc_dist, neighbor_id) AS BIGINT) AS rank
       |  FROM sc)
       |SELECT query_id, CAST(cl AS INT) AS probed_cluster, neighbor_id,
       |  adc_dist, rank
       |FROM rk WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  /** Deterministic-k-means CTE chain shared by the learned-IVF and
    * semantic-dedup oracles: init → `iters` assignment/update rounds →
    * final member assignment `mf(vec_id, embedding, cl)`. */
  private def duckKmeansCtes(nlist: Int, iters: Int): String = {
    def assignCtes(i: String, centCte: String) =
      s"""a$i AS (
         |  SELECT e.vec_id, e.embedding, c.cl,
         |    row_number() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${cosSql("e.embedding", "c.centroid")} DESC, c.cl) AS r
         |  FROM embeddings e CROSS JOIN $centCte c
         |),
         |m$i AS (SELECT vec_id, embedding, cl FROM a$i WHERE r = 1)""".stripMargin
    def centCtes(i: Int) =
      s"""d$i AS (
         |  SELECT cl, unnest(embedding) AS v, generate_subscripts(embedding, 1) AS pos
         |  FROM m$i
         |),
         |cd$i AS (SELECT cl, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cv FROM d$i GROUP BY cl, pos),
         |c$i AS (SELECT cl, list(cv ORDER BY pos) AS centroid FROM cd$i GROUP BY cl)""".stripMargin
    val rounds = (1 to iters).map { i =>
      assignCtes(i.toString, if (i == 1) "init" else s"c${i - 1}") + ",\n" + centCtes(i)
    }.mkString(",\n")
    s"""init AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cl,
       |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS centroid
       |  FROM embeddings ORDER BY vec_id LIMIT $nlist
       |),
       |$rounds,
       |${assignCtes("f", s"c$iters")}""".stripMargin
  }

  /** DuckDB replay of [[operators.Similarity.ivfKnnLearned]]: the same
    * deterministic k-means (init = 8 lowest-id vectors, 2 assignment/update
    * rounds, means rounded to 6 decimals) unrolled as generated CTEs, then
    * the same nprobe=1 probe. Iteration count is a compile-time constant on
    * both sides, so the SQL is finite by construction. */
  private def duckIvfLearnedSql: String = {
    s"""WITH ${duckKmeansCtes(nlist = 8, iters = 2)},
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
       |qc AS (
       |  SELECT q.query_id, q.q_emb, c.cl,
       |    ${cosSql("q.q_emb", "c.centroid")} AS ccos
       |  FROM q CROSS JOIN c2 c
       |),
       |assigned AS (
       |  SELECT query_id, q_emb, cl FROM (
       |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cl) AS r FROM qc
       |  ) WHERE r = 1
       |),
       |scored AS (
       |  SELECT a.query_id, a.cl, m.vec_id AS neighbor_id,
       |    ${cosSql("a.q_emb", "m.embedding")} AS cos
       |  FROM mf m JOIN assigned a ON m.cl = a.cl
       |  WHERE m.vec_id <> a.query_id
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM scored
       |)
       |SELECT query_id, CAST(cl AS INT) AS probed_cluster, neighbor_id,
       |  cos AS cosine, rank
       |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin
  }

  /** Replays [[operators.Similarity.semanticDedup]]: the shared k-means
    * chain clusters the corpus, same-cluster pairs above the cosine
    * threshold mark their higher id as a drop, survivors anti-join. */
  private def duckSemanticDedupSql: String =
    s"""WITH ${duckKmeansCtes(nlist = 8, iters = 2)},
       |drops AS (
       |  SELECT DISTINCT b.vec_id AS drop_id
       |  FROM mf a JOIN mf b ON a.cl = b.cl AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3::DOUBLE
       |)
       |SELECT e.vec_id, e.label FROM embeddings e
       |LEFT JOIN drops d ON d.drop_id = e.vec_id
       |WHERE d.drop_id IS NULL ORDER BY e.vec_id""".stripMargin

  /** Replays the maxClusterSize-guarded [[operators.Similarity
    * .semanticDedup]]: the same k-means chain, then BOTH guard stages —
    * the sign-bit LSH sub-split (mask = 2^ceil(log2(csz/cap))−1, ≤16
    * bits, over the 16 leading dims) and the Lehmer id-hash salt for
    * sub-buckets still over the cap — before the same-block pair
    * compare. The mask is the SAME pure-integer threshold ladder the
    * Spark side folds (csz vs cap·2^b literals baked here, saturated
    * driver-side) — no engine log2/pow whose rounding could straddle an
    * integer at exact power-of-two ratios — and every `%` is wrapped to
    * mirror Spark's `pmod` (non-negative residues even for negative
    * ids), so both stages are engine-portable by construction. */
  private def duckSemanticDedupGuardedSql(cap: Long): String = {
    def capAt(b: Int): Long =
      if (cap > (Long.MaxValue >> b)) Long.MaxValue else cap << b
    val maskLadder = (0 to 15).map(b =>
        s"WHEN s.csz <= ${capAt(b)} THEN CAST(${(1L << b) - 1L} AS BIGINT)")
      .mkString("\n       ") + "\n       ELSE CAST(65535 AS BIGINT)"
    s"""WITH ${duckKmeansCtes(nlist = 8, iters = 2)},
       |csizes AS (SELECT cl, count(*) AS csz FROM mf GROUP BY cl),
       |sub1 AS (
       |  SELECT m.vec_id, m.embedding, m.cl,
       |    CASE WHEN s.csz <= $cap THEN CAST(0 AS BIGINT)
       |    ELSE list_reduce(list_transform(generate_series(1, 16),
       |        j -> CASE WHEN m.embedding[j] > 0
       |             THEN CAST(1 AS BIGINT) << (j - 1) ELSE CAST(0 AS BIGINT) END),
       |      (a, b) -> a + b)
       |      & (CASE $maskLadder END)
       |    END AS sub
       |  FROM mf m JOIN csizes s USING (cl)
       |),
       |ssizes AS (SELECT cl, sub, count(*) AS ssz FROM sub1 GROUP BY cl, sub),
       |salted AS (
       |  SELECT t.vec_id, t.embedding, t.cl, t.sub,
       |    CASE WHEN z.ssz <= $cap THEN CAST(0 AS BIGINT)
       |    ELSE (((((t.vec_id % 2147483647) + 2147483647) % 2147483647)
       |            * 48271 % 2147483647) * 48271 % 2147483647)
       |         % GREATEST(CAST(ceil(CAST(z.ssz AS DOUBLE) / $cap.0::DOUBLE) AS BIGINT),
       |             CAST(1 AS BIGINT))
       |    END AS sub2
       |  FROM sub1 t JOIN ssizes z ON z.cl = t.cl AND z.sub = t.sub
       |),
       |drops AS (
       |  SELECT DISTINCT b.vec_id AS drop_id
       |  FROM salted a JOIN salted b
       |    ON a.cl = b.cl AND a.sub = b.sub AND a.sub2 = b.sub2
       |    AND a.vec_id < b.vec_id
       |  WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.3::DOUBLE
       |)
       |SELECT e.vec_id, e.label FROM embeddings e
       |LEFT JOIN drops d ON d.drop_id = e.vec_id
       |WHERE d.drop_id IS NULL ORDER BY e.vec_id""".stripMargin
  }

  /** Shared CTE chain: minhash near-dup pairs → undirected edges → recursive
    * reachability (`reach`), from which components are `min(r)` per id.
    * Used by the q_dedup_components and q_dedup_keep oracles. */
  private def duckComponentsCtes: String =
    s"""${duckMinhashCtes()},
       |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
       |inter AS (
       |  SELECT c.id_a, c.id_b, count(*) AS inter
       |  FROM cand c
       |  JOIN sh sa ON sa.doc_id = c.id_a
       |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
       |  GROUP BY c.id_a, c.id_b
       |),
       |pairs AS (
       |  SELECT i.id_a, i.id_b
       |  FROM inter i
       |  JOIN sizes na ON na.doc_id = i.id_a
       |  JOIN sizes nb ON nb.doc_id = i.id_b
       |  WHERE CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) >= 0.5
       |),
       |edges AS MATERIALIZED (
       |  SELECT id_a AS src, id_b AS dst FROM pairs
       |  UNION SELECT id_b, id_a FROM pairs
       |),
       |verts AS (SELECT DISTINCT src AS id FROM edges),
       |reach(id, r) AS (
       |  SELECT id, id FROM verts
       |  UNION
       |  SELECT e.src, r.r FROM reach r JOIN edges e ON e.dst = r.id
       |)""".stripMargin

  /** SimHash fingerprints CTE (doc_id, simhash) — mirrors Dedup.simhash. */
  private def duckSimhashSql: String =
    s"""WITH $duckToks,
       |dtoks AS (SELECT DISTINCT doc_id, w FROM toks),
       |h AS (SELECT doc_id, CAST('0x' || substr(md5(w), 1, 8) AS BIGINT) AS h FROM dtoks),
       |bits AS (
       |  SELECT doc_id, j,
       |    CASE WHEN (h & (1::BIGINT << j)) > 0 THEN 1 ELSE -1 END AS contrib
       |  FROM h CROSS JOIN generate_series(0, 31) t(j)
       |),
       |votes AS (SELECT doc_id, j, sum(contrib) AS vote FROM bits GROUP BY doc_id, j),
       |fps AS (
       |  SELECT doc_id,
       |    CAST(sum(CASE WHEN vote > 0 THEN (1::BIGINT << j) ELSE 0 END) AS BIGINT) AS simhash
       |  FROM votes GROUP BY doc_id
       |)""".stripMargin

  val all: Seq[Gate] = Seq(
    Gate("q_record_linkage", (s, d) => {
      // Fellegi–Sunter scoring over SORTED-NEIGHBORHOOD candidates —
      // the bounded generator (candidates ∝ n·window, never block²)
      // feeding source/length/prefix agreements, plan-folded log2
      // weights, threshold classes: linkage as candidates → score
      val docs = s.table("documents")
      val pairs = operators.Dedup.sortedNeighborhoodPairs(docs, "doc_id",
          "text", substring(col("text"), 1, 8), col("text"),
          window = 4, n = 3, threshold = 0.3)
        .select("id_a", "id_b")
      val a = docs.select(col("doc_id").as("id_a"),
        col("source").as("src_a"), col("n_chars").as("nc_a"),
        substring(col("text"), 1, 16).as("p_a"))
      val b = docs.select(col("doc_id").as("id_b"),
        col("source").as("src_b"), col("n_chars").as("nc_b"),
        substring(col("text"), 1, 16).as("p_b"))
      val feat = pairs.join(a, "id_a").join(b, "id_b")
        .select(col("id_a"), col("id_b"),
          (col("src_a") === col("src_b")).as("agree_src"),
          (expr("nc_a DIV 50") === expr("nc_b DIV 50")).as("agree_len"),
          (col("p_a") === col("p_b")).as("agree_prefix"))
      operators.FuzzyJoin.fellegiSunter(feat,
          Seq("agree_src", "agree_len", "agree_prefix"),
          Seq((0.9, 0.3), (0.8, 0.2), (0.7, 0.05)),
          upper = 2.0, lower = -1.0)
        .orderBy(col("id_a"), col("id_b"))
    }, {
      // Replays FuzzyJoin.fellegiSunter over the same blocked pairs: the
      // Scala-folded log2 weights ride in as VARCHAR-bridged literals
      // (the identical doubles), the left-assoc sum and threshold CASEs.
      val ln2 = math.log(2.0)
      def w(m: Double, u: Double): (String, String) =
        (s"CAST('${math.log(m / u) / ln2}' AS DOUBLE)",
          s"CAST('${math.log((1.0 - m) / (1.0 - u)) / ln2}' AS DOUBLE)")
      val (wa1, wd1) = w(0.9, 0.3)
      val (wa2, wd2) = w(0.8, 0.2)
      val (wa3, wd3) = w(0.7, 0.05)
      def term(c: String, wa: String, wd: String): String =
        s"(CASE WHEN $c IS NULL THEN 0.0::DOUBLE WHEN $c THEN $wa ELSE $wd END)"
      s"""WITH pairs AS (
         |  WITH $duckShingles,
         |  ranked AS (
         |    SELECT doc_id, substr(text, 1, 8) AS snm_block,
         |      row_number() OVER (PARTITION BY substr(text, 1, 8)
         |        ORDER BY text, doc_id) AS rn
         |    FROM documents
         |  ),
         |  cand AS (
         |    SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |    FROM ranked a JOIN ranked b
         |      ON a.snm_block = b.snm_block
         |     AND b.rn > a.rn AND b.rn <= a.rn + 4
         |  ),
         |  ${duckJaccardTail(0.3)}
         |), p AS (
         |  SELECT pr.id_a, pr.id_b,
         |    a.source = b.source AS agree_src,
         |    (a.n_chars // 50) = (b.n_chars // 50) AS agree_len,
         |    substr(a.text, 1, 16) = substr(b.text, 1, 16) AS agree_prefix
         |  FROM pairs pr
         |  JOIN documents a ON a.doc_id = pr.id_a
         |  JOIN documents b ON b.doc_id = pr.id_b
         |), s AS (
         |  SELECT id_a, id_b, agree_src, agree_len, agree_prefix,
         |    ((${term("agree_src", wa1, wd1)}
         |      + ${term("agree_len", wa2, wd2)})
         |      + ${term("agree_prefix", wa3, wd3)}) AS fs_weight
         |  FROM p)
         |SELECT id_a, id_b, agree_src, agree_len, agree_prefix, fs_weight,
         |  CASE WHEN fs_weight >= 2.0::DOUBLE THEN 'match'
         |       WHEN fs_weight > -1.0::DOUBLE THEN 'possible'
         |       ELSE 'nonmatch' END AS fs_class
         |FROM s ORDER BY id_a, id_b""".stripMargin
    }),
    Gate("q_sorted_neighborhood", (s, d) => {
      // sorted-neighborhood near-dup pairs: block on the first 8 chars,
      // sort by full text within block, rank distance <= 4, exact 3-gram
      // Jaccard >= 0.3 verify — the skew-immune candidate generator
      operators.Dedup.sortedNeighborhoodPairs(s.table("documents"),
          "doc_id", "text", substring(col("text"), 1, 8), col("text"),
          window = 4, n = 3, threshold = 0.3)
        .orderBy("id_a", "id_b")
    },
      // Replays Dedup.sortedNeighborhoodPairs: block on the first 8 chars,
      // rank by (text, doc_id) within block, pair at rank distance <= 4,
      // verify with exact word-3-gram Jaccard >= 0.3 off the shared shingle
      // CTEs. id_a is the lower-RANK row (not lower id), as in the operator.
      s"""WITH $duckShingles,
         |ranked AS (
         |  SELECT doc_id, substr(text, 1, 8) AS snm_block,
         |    row_number() OVER (PARTITION BY substr(text, 1, 8)
         |      ORDER BY text, doc_id) AS rn
         |  FROM documents
         |),
         |cand AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ranked a JOIN ranked b
         |    ON a.snm_block = b.snm_block
         |   AND b.rn > a.rn AND b.rn <= a.rn + 4
         |),
         |${duckJaccardTail(0.3)}""".stripMargin),
    Gate("q_embed_project", (s, d) => {
      // Johnson–Lindenstrauss ±1 random projection 64→16 over the
      // embeddings, exploded to (vec_id, dim_idx, v) scalar rows; the
      // deterministic sign matrix (Similarity.signMatrix) bakes into
      // both engines, so the fold arithmetic is what's gated.
      operators.Similarity.randomProjection(
          s.table("embeddings"), "embedding", inDim = 64, outDim = 16)
        .select(col("vec_id"), posexplode(col("proj")))
        .withColumnRenamed("pos", "dim_idx").withColumnRenamed("col", "v")
        .orderBy("vec_id", "dim_idx")
    },
      // Replays Similarity.randomProjection 64→16: the IDENTICAL
      // deterministic ±1 matrix (Similarity.signMatrix, baked in below as
      // literals) dotted against each embedding with the same left-to-right
      // fold, scaled by 1/√16 = 0.25 (exact in binary — order-insensitive).
      s"""WITH signs(dim_idx, s) AS (VALUES
         |$duckSignRows
         |)
         |SELECT e.vec_id, g.dim_idx,
         |  0.25 * ${cosSql("e.embedding", "g.s")} AS v
         |FROM embeddings e CROSS JOIN signs g
         |ORDER BY vec_id, dim_idx""".stripMargin),
    Gate("q_span_dedup", (s, d) => {
      // C4-style repeated-span removal at 8-token granularity
      operators.Dedup.spanDedup(s.table("documents"), "doc_id", "text", n = 8)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.spanDedup at n=8. The winner aggregation is expressed as
      // row_number here (first occurrence by (doc_id, chunk_id)) — identical
      // result to Spark's min(struct) winner.
      s"""WITH $duckToks,
         |tr AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rpos FROM toks),
         |spans AS (
         |  SELECT doc_id, CAST((rpos - 1) // 8 AS INT) AS chunk_id,
         |    string_agg(w, ' ' ORDER BY rpos) AS chunk_text
         |  FROM tr GROUP BY doc_id, (rpos - 1) // 8
         |),
         |marked AS (
         |  SELECT doc_id, chunk_id, chunk_text,
         |    row_number() OVER (PARTITION BY chunk_text ORDER BY doc_id, chunk_id) = 1 AS keep
         |  FROM spans
         |),
         |agg AS (
         |  SELECT doc_id, count(*) AS n_spans,
         |    count(CASE WHEN keep THEN 1 END) AS n_kept,
         |    coalesce(string_agg(CASE WHEN keep THEN chunk_text END, ' ' ORDER BY chunk_id), '') AS text_dedup
         |  FROM marked GROUP BY doc_id
         |)
         |SELECT d.doc_id, coalesce(a.n_spans, 0) AS n_spans,
         |  coalesce(a.n_kept, 0) AS n_kept, coalesce(a.text_dedup, '') AS text_dedup
         |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_substring_dedup", (s, d) => {
      // Lee et al.-style exact duplicated-substring mass: 30-char grams at
      // stride 10, per-doc duplicate-occurrence counts
      operators.Dedup.substringDedup(s.table("documents"), "doc_id", "text",
          minLen = 30, stride = 10)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.substringDedup at minLen=30, stride=10. Spark's winner
      // is min(struct(doc_id, pos)); the oracle expresses the same canonical
      // first occurrence as row_number() = 1 over (doc_id, pos) order.
      """WITH p AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 29, 10)) AS pos, text
        |  FROM documents WHERE length(text) >= 30
        |),
        |occ AS (
        |  SELECT doc_id, pos, substring(text, pos, 30) AS gram FROM p
        |),
        |marked AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY gram) AS cnt,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM occ
        |),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_grams,
        |    count(CASE WHEN cnt >= 2 AND rn > 1 THEN 1 END) AS n_dup
        |  FROM marked GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.n_grams, 0) AS n_grams,
        |  coalesce(a.n_dup, 0) AS n_dup
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_substring_cut", (s, d) => {
      // the cut pass: duplicate-marked 30-char grams removed (canonical
      // first occurrence kept), merged-interval splice per document
      operators.Dedup.substringCut(s.table("documents"), "doc_id", "text",
          minLen = 30, stride = 10)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.substringCut per-CHARACTER: a char survives iff no
      // duplicate-marked span covers it — the anti-join formulation needs no
      // interval merge and is independent of the Spark side's sweep+splice,
      // so it cross-checks the merge logic rather than re-deriving it. Only
      // viable at test scale (one row per character).
      """WITH p AS (
        |  SELECT doc_id, unnest(generate_series(1, length(text) - 29, 10)) AS pos, text
        |  FROM documents WHERE length(text) >= 30
        |),
        |occ AS (
        |  SELECT doc_id, pos, substring(text, pos, 30) AS gram FROM p
        |),
        |marked AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY gram) AS cnt,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM occ
        |),
        |dup AS (
        |  SELECT doc_id, pos AS s, pos + 29 AS e FROM marked
        |  WHERE cnt >= 2 AND rn > 1
        |),
        |chars AS (
        |  SELECT d.doc_id, t.i AS cpos, substring(d.text, t.i, 1) AS ch
        |  FROM documents d, unnest(generate_series(1, length(d.text))) AS t(i)
        |),
        |kept AS (
        |  SELECT c.doc_id, c.cpos, c.ch
        |  FROM chars c LEFT JOIN dup u
        |    ON u.doc_id = c.doc_id AND c.cpos BETWEEN u.s AND u.e
        |  GROUP BY c.doc_id, c.cpos, c.ch
        |  HAVING count(u.doc_id) = 0
        |),
        |agg AS (
        |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS cleaned_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text,
        |  length(d.text) - length(coalesce(a.cleaned_text, '')) AS removed_chars
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_winnow_dedup", (s, d) => {
      // phase-robust duplicated-substring mass via winnowing (Schleimer
      // et al. 2003): 21-char fingerprints, guarantee threshold 30 —
      // every shared >=30-char substring is caught at ANY alignment
      operators.Dedup.winnowedDedup(s.table("documents"), "doc_id", "text",
          minLen = 30, noise = 21)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.winnowedDedup at minLen=30, noise=21 (w=10): the
      // winnowing selection is the window min over the same packed
      // hash∥pos∥flag BIGINT key the Spark side uses (duckWinnowSelCtes),
      // full windows only; dup marking mirrors q_substring_dedup's
      // row_number shape.
      s"""WITH $duckWinnowSelCtes,
        |marked AS (
        |  SELECT doc_id, pos,
        |    count(*) OVER (PARTITION BY gram) AS cnt,
        |    row_number() OVER (PARTITION BY gram ORDER BY doc_id, pos) AS rn
        |  FROM sel
        |),
        |agg AS (
        |  SELECT doc_id, count(*) AS n_fp,
        |    count(CASE WHEN cnt >= 2 AND rn > 1 THEN 1 END) AS n_dup
        |  FROM marked GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.n_fp, 0) AS n_fp,
        |  coalesce(a.n_dup, 0) AS n_dup
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_winnow_cut", (s, d) => {
      // the cut pass over winnowed fingerprints: duplicate-marked 21-char
      // spans removed, canonical first occurrence kept corpus-wide
      operators.Dedup.winnowedCut(s.table("documents"), "doc_id", "text",
          minLen = 30, noise = 21)
        .orderBy(col("doc_id"))
    },
      duckWinnowCutSql(0)),
    Gate("q_winnow_cut_padded", (s, d) => {
      // edgePad = w−1 = 9: complete coverage of every guaranteed
      // (≥minLen) duplicated region — adversarial caught char mass
      // 0.80 → 1.00 — at a measured 19–24% over-cut
      // (substringfloor.json pad rows); the recall-first cut dial
      operators.Dedup.winnowedCut(s.table("documents"), "doc_id", "text",
          minLen = 30, noise = 21, edgePad = 9)
        .orderBy(col("doc_id"))
    },
      // the edgePad = w−1 variant: every dup span stretched 9 chars both
      // ways before the per-char anti-join — same independent oracle shape
      duckWinnowCutSql(9)),
    Gate("q_winnow_pairs", (s, d) => {
      // MOSS-style overlap pairs: documents sharing >= 2 distinct winnow
      // fingerprints, scored by containment-normalized shared count
      operators.Dedup.winnowOverlapPairs(s.table("documents"), "doc_id",
          "text", minLen = 30, noise = 21, minShared = 2)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Replays Dedup.winnowOverlapPairs: the q_winnow_dedup selection CTEs,
      // then distinct fingerprint sets per doc, per-gram self-join with
      // id_a < id_b, shared counts, containment normalization by the smaller
      // set size.
      s"""WITH $duckWinnowSelCtes,
        |fpset AS (
        |  SELECT DISTINCT doc_id, gram FROM sel
        |),
        |nfp AS (
        |  SELECT doc_id, count(*) AS n FROM fpset GROUP BY doc_id
        |),
        |pairs AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS shared
        |  FROM fpset a JOIN fpset b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT pr.id_a, pr.id_b, pr.shared,
        |  CAST(pr.shared AS DOUBLE) / CAST(least(na.n, nb.n) AS DOUBLE) AS overlap
        |FROM pairs pr
        |JOIN nfp na ON na.doc_id = pr.id_a
        |JOIN nfp nb ON nb.doc_id = pr.id_b
        |WHERE pr.shared >= 2
        |ORDER BY pr.id_a, pr.id_b""".stripMargin),
    Gate("q_winnow_ingest", (s, d) => {
      // incremental ingestion vs a winnow fingerprint INDEX of the
      // reference corpus (even doc_ids): per new (odd) document, the
      // fingerprint count and how many collide with the reference —
      // substring-level cross-corpus detection, no pair emission
      val docs = s.table("documents")
      val index = operators.Dedup.buildWinnowIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        minLen = 30, noise = 21)
      operators.Dedup.winnowIncrementalDedup(
          docs.filter(col("doc_id") % 2 === 1), index, "doc_id", "text",
          minLen = 30, noise = 21)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.winnowIncrementalDedup: the winnow selection CTEs run
      // over BOTH corpus halves (even doc_ids = reference, odd = new); the
      // reference's distinct fingerprint grams are the index, and each new
      // document's fingerprints are counted and flagged by index membership.
      duckWinnowIngestSql),
    Gate("q_winnow_ingest_cut", (s, d) => {
      // the cut pass: reference-duplicated fingerprint spans spliced out
      // of each new document
      val docs = s.table("documents")
      val index = operators.Dedup.buildWinnowIndex(
        docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
        minLen = 30, noise = 21)
      operators.Dedup.winnowIncrementalCut(
          docs.filter(col("doc_id") % 2 === 1), index, "doc_id", "text",
          minLen = 30, noise = 21)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.winnowIncrementalCut per-CHARACTER (the established
      // anti-join cut oracle): a new-doc char survives iff no
      // index-matched fingerprint span covers it.
      s"""WITH $duckWinnowSelCtes,
        |refidx AS (
        |  SELECT DISTINCT gram FROM sel WHERE doc_id % 2 = 0
        |),
        |dup AS (
        |  SELECT s.doc_id, s.pos AS st, s.pos + 20 AS e
        |  FROM sel s JOIN refidx r ON r.gram = s.gram
        |  WHERE s.doc_id % 2 = 1
        |),
        |chars AS (
        |  SELECT d.doc_id, t.i AS cpos, substring(d.text, t.i, 1) AS ch
        |  FROM documents d, unnest(generate_series(1, length(d.text))) AS t(i)
        |  WHERE d.doc_id % 2 = 1
        |),
        |kept AS (
        |  SELECT c.doc_id, c.cpos, c.ch
        |  FROM chars c LEFT JOIN dup u
        |    ON u.doc_id = c.doc_id AND c.cpos BETWEEN u.st AND u.e
        |  GROUP BY c.doc_id, c.cpos, c.ch
        |  HAVING count(u.doc_id) = 0
        |),
        |agg AS (
        |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS cleaned_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text,
        |  length(d.text) - length(coalesce(a.cleaned_text, '')) AS removed_chars
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |WHERE d.doc_id % 2 = 1
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_winnow_ingest_persisted", (s, d) => {
      // the PERSISTED index flow buildWinnowIndex's contract promises
      // ("write the frame out once; probe every ingestion batch"): the
      // reference index round-trips through parquet on disk and the probe
      // reads it back cold — proving schema/content round-trip stability,
      // not just the in-plan path q_winnow_ingest covers. The write is
      // eager but happens ONCE per (session, corpus) under the
      // shutdown-swept winnowIdxRoot (ADVICE r14) — repeat invocations
      // (Bench min-of-N) time ONLY the probe join, matching the
      // steady-state ingestion flow where the index pre-exists.
      val docs = s.table("documents")
      val idxDir = winnowIdxDirs.computeIfAbsent(d, dir => {
        val out = winnowIdxRoot.resolve(
          "idx_" + java.lang.Integer.toHexString(dir.hashCode)).toString
        operators.Dedup.buildWinnowIndex(
            docs.filter(col("doc_id") % 2 === 0), "doc_id", "text",
            minLen = 30, noise = 21)
          .write.mode("overwrite").parquet(out)
        out
      })
      operators.Dedup.winnowIncrementalDedup(
          docs.filter(col("doc_id") % 2 === 1), s.read.parquet(idxDir),
          "doc_id", "text", minLen = 30, noise = 21)
        .orderBy(col("doc_id"))
    },
      // The persisted-index gate's SEMANTICS are identical — the parquet
      // round-trip must be invisible to the result, which is exactly what
      // sharing the oracle asserts.
      duckWinnowIngestSql),
    Gate("q_decontaminate", (s, d) => {
      // span-level benchmark decontamination: src0 documents are the
      // "benchmark"; any 20-char substring of a training doc (src1..19)
      // that appears anywhere in src0 is cut (training side sampled at
      // stride 5 — detection floor 24 shared chars)
      val docs = s.table("documents")
      operators.Dedup.decontaminationCut(
          docs.filter(col("source") =!= "src0"), "doc_id", "text",
          docs.filter(col("source") === "src0"), "text",
          minLen = 20, stride = 5)
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.decontaminationCut per-CHARACTER (same independent
      // anti-join formulation as q_substring_cut's oracle): a training-doc
      // char survives iff no probe-matched span covers it. Probe grams are
      // exhaustive (stride 1), training grams sampled at stride 5.
      """WITH probe AS (
        |  SELECT DISTINCT substring(text, p.i, 20) AS gram
        |  FROM documents d, unnest(generate_series(1, length(d.text) - 19, 1)) AS p(i)
        |  WHERE d.source = 'src0' AND length(d.text) >= 20
        |),
        |occ AS (
        |  SELECT doc_id, t.i AS pos, substring(text, t.i, 20) AS gram
        |  FROM documents d, unnest(generate_series(1, length(d.text) - 19, 5)) AS t(i)
        |  WHERE d.source <> 'src0' AND length(d.text) >= 20
        |),
        |dup AS (
        |  SELECT doc_id, pos AS s, pos + 19 AS e FROM occ JOIN probe USING (gram)
        |),
        |chars AS (
        |  SELECT d.doc_id, t.i AS cpos, substring(d.text, t.i, 1) AS ch
        |  FROM documents d, unnest(generate_series(1, length(d.text))) AS t(i)
        |  WHERE d.source <> 'src0'
        |),
        |kept AS (
        |  SELECT c.doc_id, c.cpos, c.ch
        |  FROM chars c LEFT JOIN dup u
        |    ON u.doc_id = c.doc_id AND c.cpos BETWEEN u.s AND u.e
        |  GROUP BY c.doc_id, c.cpos, c.ch
        |  HAVING count(u.doc_id) = 0
        |),
        |agg AS (
        |  SELECT doc_id, string_agg(ch, '' ORDER BY cpos) AS cleaned_text
        |  FROM kept GROUP BY doc_id
        |)
        |SELECT d.doc_id, coalesce(a.cleaned_text, '') AS cleaned_text,
        |  length(d.text) - length(coalesce(a.cleaned_text, '')) AS removed_chars
        |FROM documents d LEFT JOIN agg a ON a.doc_id = d.doc_id
        |WHERE d.source <> 'src0'
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_incremental_dedup", (s, d) => {
      // incremental ingestion: odd doc_ids are the new batch, even the
      // existing reference corpus; survivors duplicate nothing in the ref
      val docs = s.table("documents")
      val ref = docs.filter(col("doc_id") % 2 === 0)
      val fresh = docs.filter(col("doc_id") % 2 === 1)
      operators.Dedup.incrementalDedup(fresh, ref, "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // Replays Dedup.incrementalDedup over the odd(new)/even(ref) split. The
      // oracle computes near-dups over ALL odd docs while Spark restricts to
      // exact-survivors — equivalent: new docs never pair with each other, so
      // dropping a new doc cannot change any other new doc's outcome, and the
      // difference (exact ∩ near) is removed by both predicates.
      s"""WITH ${duckMinhashCtes("a.doc_id % 2 = 1 AND b.doc_id % 2 = 0")},
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT c.id_a, c.id_b, count(*) AS inter
         |  FROM cand c
         |  JOIN sh sa ON sa.doc_id = c.id_a
         |  JOIN sh sb ON sb.doc_id = c.id_b AND sb.shingle = sa.shingle
         |  GROUP BY c.id_a, c.id_b
         |),
         |neardup AS (
         |  SELECT DISTINCT i.id_a FROM inter i
         |  JOIN sizes na ON na.doc_id = i.id_a
         |  JOIN sizes nb ON nb.doc_id = i.id_b
         |  WHERE CAST(i.inter AS DOUBLE) / CAST(na.n + nb.n - i.inter AS DOUBLE) >= 0.5
         |),
         |exact_dup AS (
         |  SELECT DISTINCT n.doc_id FROM documents n JOIN documents r
         |  ON md5(n.text) = md5(r.text) AND n.doc_id % 2 = 1 AND r.doc_id % 2 = 0
         |)
         |SELECT d.doc_id, d.lang, d.n_chars FROM documents d
         |WHERE d.doc_id % 2 = 1
         |  AND d.doc_id NOT IN (SELECT doc_id FROM exact_dup)
         |  AND d.doc_id NOT IN (SELECT id_a FROM neardup)
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_dedup_exact", (s, d) => {
      operators.Dedup.exact(s.table("documents"), "doc_id", "text")
        .orderBy(col("keep_id"))
    },
      """SELECT md5(text) AS text_md5, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin),
    Gate("q_dedup_minhash", (s, d) => {
      operators.Dedup.minhashNearDups(s.table("documents"), "doc_id", "text",
          k = 16, rowsPerBand = 4, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"WITH ${duckMinhashCtes()},\n${duckJaccardTail()}"),
    Gate("q_dedup_components", (s, d) => {
      val pairs = operators.Dedup.minhashNearDups(s.table("documents"), "doc_id", "text")
      operators.Dedup.connectedComponents(pairs).orderBy(col("id"))
    },
      // components of the minhash near-dup graph: min reachable id via a
      // recursive closure (exact; graph is small after LSH+verify)
      s"""WITH RECURSIVE $duckComponentsCtes
         |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin),
    Gate("q_dedup_star", (s, d) => {
      // flooded-corpus scale path: per-bucket star edges to the bucket rep
      // (verified) instead of all-pairs — O(members) per LSH bucket
      operators.Dedup.starNearDupClusters(s.table("documents"), "doc_id", "text")
        .orderBy(col("id"))
    },
      // star-verified clusters: same reachability closure, edges restricted
      // to verified rep->member stars per LSH bucket
      s"""WITH RECURSIVE $duckStarComponentsCtes
         |SELECT id, min(r) AS component FROM reach GROUP BY id ORDER BY id""".stripMargin),
    Gate("q_dedup_keep", (s, d) => {
      // the full dedup composite a pipeline actually runs, through the
      // r13 DEFAULT cluster path: star-verified edges per LSH bucket
      // (O(members), flood exponent 0.36) → components → drop everything
      // but each cluster's min-id representative. AllPairsEdges is the
      // explicit opt-in for maximal recall (q_dedup_components gates it).
      operators.Dedup.nearDupKeep(s.table("documents"), "doc_id", "text")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // end-to-end dedup through the r13 STAR default: star-verified
      // rep->member edges per bucket (duckStarComponentsCtes), then keep
      // one representative (min id) per component; docs in no component
      // survive untouched
      s"""WITH RECURSIVE $duckStarComponentsCtes,
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |drop_ids AS (SELECT id FROM comp WHERE id <> component)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d LEFT JOIN drop_ids x ON x.id = d.doc_id
         |WHERE x.id IS NULL
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_dedup_keep_best", (s, d) => {
      // quality-aware variant on the same star-default cluster path: each
      // near-dup cluster keeps its LONGEST member (n_chars as the quality
      // stand-in), ties to the lower id
      operators.Dedup.nearDupKeepBest(s.table("documents"), "doc_id", "text",
          "n_chars")
        .select(col("doc_id"), col("lang"), col("n_chars"))
        .orderBy(col("doc_id"))
    },
      // Replays keepBestRepresentatives over the same recursive STAR
      // components: per-cluster winner = max (n_chars, −id) ≡
      // argmin(−score, ties low id).
      s"""WITH RECURSIVE $duckStarComponentsCtes,
         |comp AS (SELECT id, min(r) AS component FROM reach GROUP BY id),
         |scored AS (SELECT c.id, c.component, d.n_chars
         |           FROM comp c JOIN documents d ON d.doc_id = c.id),
         |win AS (SELECT component,
         |          max(struct_pack(s := CAST(n_chars AS DOUBLE), i := -id)) AS w
         |        FROM scored GROUP BY component),
         |keep AS (SELECT -(w.i) AS id FROM win)
         |SELECT d.doc_id, d.lang, d.n_chars
         |FROM documents d
         |WHERE d.doc_id NOT IN (SELECT id FROM comp)
         |   OR d.doc_id IN (SELECT id FROM keep)
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_dedup_simhash", (s, d) => {
      operators.Dedup.simhash(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      (duckSimhashSql + "\nSELECT doc_id, simhash FROM fps ORDER BY doc_id")),
    Gate("q_simhash_pairs", (s, d) => {
      // cache: the pair search self-joins the fingerprint frame — without
      // the cache both join branches recompute every md5. Registered so the
      // harness releases it after the consuming action.
      val fps = graft.CacheScope.register(
        operators.Dedup.simhash(s.table("documents"), "doc_id", "text").cache())
      operators.Dedup.simhashPairs(fps, "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      (duckSimhashSql +
        s""",
           |chunked AS (
           |  SELECT doc_id, simhash, c, (simhash >> (c*8)) & 255 AS chunk_val
           |  FROM fps CROSS JOIN generate_series(0, 3) t(c)
           |),
           |cand AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |    a.simhash AS fp_a, b.simhash AS fp_b
           |  FROM chunked a JOIN chunked b
           |    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
           |)
           |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
           |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
           |ORDER BY id_a, id_b""".stripMargin)),
    Gate("q_ngram_jaccard", (s, d) => {
      operators.Dedup.ngramJaccardPairs(s.table("documents"), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $duckShingles,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |),
         |${duckJaccardTail()}""".stripMargin),
    // Flood-fixture gates for the pair-budget families (r13): each runs its
    // pair operator over a deterministic REPLICA FLOOD of the documents
    // table (every 25th doc × 4 tagged near-identical copies) with the
    // default budget ENGAGED (the prediction runs, stays under the 1e9
    // default, and the results still match the oracle — the guard changes
    // failure mode, never results). The over-budget loud failure is
    // spec-asserted in PairBudgetSpec on the same flood shape.
    Gate("q_ngram_flood", (s, d) => {
      operators.Dedup.ngramJaccardPairs(floodDocs(s), "doc_id", "text",
          n = 3, threshold = 0.5)
        .orderBy(col("id_a"), col("id_b"))
    },
      // The q_*_flood oracles replay the SAME operator SQL over the
      // duckFloodDocs replica flood (the budget guard changes only the
      // failure mode, never results — identical tails).
      s"""WITH $duckFloodDocs,
         |$duckShingles,
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |),
         |${duckJaccardTail()}""".stripMargin),
    Gate("q_containment_flood", (s, d) => {
      // first oracle gate for containmentPairs (excerpt detection): the
      // flood's tagged copies are mutual near-containments of the original
      operators.Dedup.containmentPairs(floodDocs(s), "doc_id", "text",
          n = 3, threshold = 0.8)
        .orderBy(col("inner_id"), col("outer_id"))
    },
      // Replays containmentPairs: shared-shingle intersection counts, inner =
      // the smaller-set side (ties to the lower id — id_a by construction),
      // containment = inter / n_inner.
      s"""WITH $duckFloodDocs,
         |$duckShingles,
         |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
         |inter AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS inter
         |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY a.doc_id, b.doc_id
         |),
         |sized AS (
         |  SELECT i.id_a, i.id_b, i.inter, na.n AS n_a, nb.n AS n_b
         |  FROM inter i
         |  JOIN sizes na ON na.doc_id = i.id_a
         |  JOIN sizes nb ON nb.doc_id = i.id_b
         |)
         |SELECT
         |  CASE WHEN n_a < n_b OR (n_a = n_b) THEN id_a ELSE id_b END AS inner_id,
         |  CASE WHEN n_a < n_b OR (n_a = n_b) THEN id_b ELSE id_a END AS outer_id,
         |  CAST(least(n_a, n_b) AS INT) AS n_inner,
         |  CAST(greatest(n_a, n_b) AS INT) AS n_outer,
         |  CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) AS containment
         |FROM sized
         |WHERE CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) >= 0.8
         |ORDER BY inner_id, outer_id""".stripMargin),
    Gate("q_simhash_flood", (s, d) => {
      val fps = graft.CacheScope.register(
        operators.Dedup.simhash(floodDocs(s), "doc_id", "text").cache())
      operators.Dedup.simhashPairs(fps, "doc_id", maxHamming = 3)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH $duckFloodDocs,
         |${duckSimhashSql.stripPrefix("WITH ")},
         |chunked AS (
         |  SELECT doc_id, simhash, c, (simhash >> (c*8)) & 255 AS chunk_val
         |  FROM fps CROSS JOIN generate_series(0, 3) t2(c)
         |),
         |cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
         |    a.simhash AS fp_a, b.simhash AS fp_b
         |  FROM chunked a JOIN chunked b
         |    ON a.c = b.c AND a.chunk_val = b.chunk_val AND a.doc_id < b.doc_id
         |)
         |SELECT id_a, id_b, CAST(bit_count(xor(fp_a, fp_b)) AS INT) AS hamming
         |FROM cand WHERE bit_count(xor(fp_a, fp_b)) <= 3
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_embed_knn", (s, d) => {
      val emb = s.table("embeddings")
      operators.Similarity.bruteForceKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id,
         |    ${cosSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, cosine, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("q_hard_negatives", (s, d) => {
      // hard-negative mining: top-5 most similar DIFFERENT-label vectors
      // per query — the boundary-hugging negatives metric training needs
      val emb = s.table("embeddings")
      operators.Similarity.hardNegatives(emb,
          emb.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      // Replays Similarity.hardNegatives: the kNN oracle with the label
      // inequality in the candidate filter; tag channel surfaces the label.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb, label AS ql
         |           FROM embeddings WHERE vec_id < 10),
         |scored AS (
         |  SELECT q.query_id, e.vec_id AS neighbor_id, e.label AS neg_label,
         |    ${cosSql("q.q_emb", "e.embedding")} AS cosine
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id AND e.label <> q.ql
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, neighbor_id, neg_label, cosine, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("q_embed_ivf_knn", (s, d) => {
      val emb = s.table("embeddings")
      operators.Similarity.ivfKnn(emb, emb.filter(col("vec_id") < 10), k = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      s"""WITH dims AS (
         |  SELECT vec_id, label AS cl, unnest(embedding) AS v,
         |         generate_subscripts(embedding, 1) AS pos
         |  FROM embeddings
         |),
         |cd AS (SELECT cl, pos, round(avg(CAST(v AS DOUBLE)), 6) AS cv FROM dims GROUP BY cl, pos),
         |centroids AS (SELECT cl, list(cv ORDER BY pos) AS centroid FROM cd GROUP BY cl),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb FROM embeddings WHERE vec_id < 10),
         |qc AS (
         |  SELECT q.query_id, q.q_emb, c.cl,
         |    ${cosSql("q.q_emb", "c.centroid")} AS ccos
         |  FROM q CROSS JOIN centroids c
         |),
         |assigned AS (
         |  SELECT query_id, q_emb, cl FROM (
         |    SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY ccos DESC, cl) AS r FROM qc
         |  ) WHERE r = 1
         |),
         |scored AS (
         |  SELECT a.query_id, a.cl, e.vec_id AS neighbor_id,
         |    ${cosSql("a.q_emb", "e.embedding")} AS cos
         |  FROM embeddings e JOIN assigned a ON e.label = a.cl
         |  WHERE e.vec_id <> a.query_id
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
         |  FROM scored
         |)
         |SELECT query_id, CAST(cl AS INT) AS probed_cluster, neighbor_id,
         |  cos AS cosine, rank
         |FROM ranked WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin),
    Gate("q_knn_label_consistency", (s, d) => {
      // embedding-quality probe: per-label fraction of each query's 5
      // nearest neighbors sharing the query's label, over a 200-query
      // panel — exact integer sums, one final division
      val emb = s.table("embeddings")
      operators.Similarity.knnLabelConsistency(emb,
          emb.filter(col("vec_id") < 200), k = 5)
        .orderBy(col("label"))
    },
      // Replays knnLabelConsistency: the kNN oracle's ranked frame joined
      // back to both labels, exact integer hit/scored sums per label.
      s"""WITH q AS (SELECT vec_id AS query_id, embedding AS q_emb,
         |                  CAST(label AS BIGINT) AS ql
         |           FROM embeddings WHERE vec_id < 200),
         |scored AS (
         |  SELECT q.query_id, q.ql, CAST(e.label AS BIGINT) AS nl,
         |    ${cosSql("q.q_emb", "e.embedding")} AS cosine,
         |    e.vec_id AS neighbor_id
         |  FROM embeddings e CROSS JOIN q
         |  WHERE e.vec_id <> q.query_id
         |),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY cosine DESC, neighbor_id) AS rank
         |  FROM scored
         |),
         |perq AS (
         |  SELECT query_id, ql,
         |    CAST(count(*) AS BIGINT) AS n,
         |    CAST(sum(CASE WHEN nl = ql THEN 1 ELSE 0 END) AS BIGINT) AS h
         |  FROM ranked WHERE rank <= 5 GROUP BY query_id, ql
         |)
         |SELECT ql AS label,
         |  CAST(count(*) AS BIGINT) AS n_queries,
         |  CAST(sum(h) AS BIGINT) AS hits,
         |  CAST(sum(n) AS BIGINT) AS n_scored,
         |  CAST(sum(h) AS DOUBLE) / CAST(sum(n) AS DOUBLE) AS consistency
         |FROM perq GROUP BY ql ORDER BY ql""".stripMargin),
    Gate("q_embed_ivf_learned", (s, d) => {
      // IVF with LEARNED centroids: 2 deterministic k-means rounds replace
      // the label column; the oracle replays the identical iterations.
      val emb = s.table("embeddings")
      operators.Similarity.ivfKnnLearned(emb, emb.filter(col("vec_id") < 10),
          k = 5, nlist = 8, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      duckIvfLearnedSql),
    Gate("q_semantic_dedup", (s, d) => {
      // SemDeDup ON ITS DEFAULTS: deterministic k-means clusters (the
      // same replayable iterations as q_embed_ivf_learned), same-cluster
      // cosine >= 0.3 pairs drop their higher id. The DEFAULT now carries
      // the maxClusterSize=10000 pair-space guard — the oracle replays
      // both guard stages verbatim (they no-op at gate scale, but the
      // gate pins the default PATH, not just the default answer)
      operators.Similarity.semanticDedup(s.table("embeddings"),
          threshold = 0.3, nlist = 8, iters = 2)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
      duckSemanticDedupGuardedSql(cap = operators.Similarity.DefaultMaxClusterSize)),
    Gate("q_semantic_dedup_unguarded", (s, d) => {
      // the explicit opt-OUT (maxClusterSize = Unbounded): the exact
      // unguarded same-cluster pair space — full recall, quadratic under
      // cluster skew; kept as the old default's semantics gate
      operators.Similarity.semanticDedup(s.table("embeddings"),
          threshold = 0.3, nlist = 8, iters = 2,
          maxClusterSize = operators.Similarity.Unbounded)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
      duckSemanticDedupSql),
    Gate("q_semantic_dedup_guarded", (s, d) => {
      // SemDeDup with the maxClusterSize=50 pair-space guard: clusters
      // over the cap sub-split by sign-bit LSH, still-oversized
      // sub-buckets salt by the replayable Lehmer id hash — the oracle
      // replays both stages, so the guard path itself is hash-checked
      operators.Similarity.semanticDedup(s.table("embeddings"),
          threshold = 0.3, nlist = 8, iters = 2, maxClusterSize = 50L)
        .select(col("vec_id"), col("label"))
        .orderBy(col("vec_id"))
    },
      duckSemanticDedupGuardedSql(cap = 50L)),
    Gate("q_embed_neardup", (s, d) => {
      // signBits=8: sign-pattern LSH blocking (~2^8 buckets) — the scale
      // path; the oracle mirrors the identical bucketing.
      operators.Similarity.embeddingNearDupPairs(s.table("embeddings"), 0.4, signBits = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
      s"""WITH bkt AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_transform(generate_series(1, 8),
         |      j -> CASE WHEN embedding[j] > 0 THEN 1 << (j - 1) ELSE 0 END),
         |      (a, b) -> a + b) AS bucket
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM bkt a JOIN bkt b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin),
    Gate("q_embed_neardup_mp", (s, d) => {
      // multi-probe: candidates are sign patterns differing in <= 1 bit —
      // catches near-dups that straddle one hyperplane; oracle pairs by
      // hamming(bucket_a, bucket_b) <= 1
      operators.Similarity.embeddingNearDupPairsMultiProbe(
          s.table("embeddings"), 0.4, signBits = 8)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Replays the multi-probe variant: candidate pairs are exactly those
      // whose 8-bit sign patterns differ in <= 1 bit (the unique XOR flip
      // Spark's probe explode generates), same cosine filter.
      s"""WITH bkt AS (
         |  SELECT vec_id, embedding,
         |    list_reduce(list_transform(generate_series(1, 8),
         |      j -> CASE WHEN embedding[j] > 0 THEN 1 << (j - 1) ELSE 0 END),
         |      (a, b) -> a + b) AS bucket
         |  FROM embeddings
         |)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${cosSql("a.embedding", "b.embedding")} AS cosine
         |FROM bkt a JOIN bkt b
         |  ON a.vec_id < b.vec_id AND bit_count(xor(a.bucket, b.bucket)) <= 1
         |WHERE ${cosSql("a.embedding", "b.embedding")} >= 0.4
         |ORDER BY id_a, id_b""".stripMargin),
    // KMV distinct-count sketch (functions/Sketch.scala): bounded k-longs
    // state per group, map-side combinable — COUNT(DISTINCT) accuracy check
    // rides along in the same query. The md5-derived hash keeps the whole
    // estimate engine-independent (bit-exact DuckDB twin).
    // NB: the sketch and the exact count live in SEPARATE aggregations — a
    // mixed distinct/imperative agg makes the planner key the sketch by
    // (flag, partkey), allocating one buffer per distinct key and defeating
    // the bounded-state design (measured 2.4s → 1.1s at sf0.1)
    Gate("q_kmv_distinct", (s, d) => s.sql(
      """WITH est AS (
        |  SELECT l_returnflag,
        |    kmv_distinct(cast(conv(substring(md5(cast(l_partkey AS string)), 1, 15), 16, 10) AS bigint), 256) AS est_parts
        |  FROM lineitem GROUP BY l_returnflag
        |), ex AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |  FROM lineitem GROUP BY l_returnflag
        |)
        |SELECT est.l_returnflag, est.est_parts, ex.exact_parts
        |FROM est JOIN ex ON est.l_returnflag = ex.l_returnflag
        |ORDER BY l_returnflag""".stripMargin),
      """WITH h AS (
        |  SELECT l_returnflag,
        |    CAST('0x' || substr(md5(l_partkey::VARCHAR), 1, 15) AS BIGINT) AS hv
        |  FROM lineitem GROUP BY 1, 2
        |), r AS (
        |  SELECT l_returnflag, hv,
        |    row_number() OVER (PARTITION BY l_returnflag ORDER BY hv) AS rn
        |  FROM h
        |), m AS (
        |  SELECT l_returnflag, max(hv) AS kth, count(*) AS c
        |  FROM r WHERE rn <= 256 GROUP BY 1
        |), x AS (
        |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
        |  FROM lineitem GROUP BY 1
        |)
        |SELECT m.l_returnflag,
        |  CASE WHEN m.c < 256 THEN m.c::DOUBLE
        |       ELSE 255.0::DOUBLE / (m.kth::DOUBLE / 1152921504606846976.0::DOUBLE) END AS est_parts,
        |  x.exact_parts
        |FROM m JOIN x USING (l_returnflag)
        |ORDER BY l_returnflag""".stripMargin),
    // HyperLogLog distinct sketch (functions/Sketch.scala HllSketch): m
    // BYTES of register state per group vs KMV's k longs at the same
    // accuracy — the per-group state that survives profiling thousands of
    // column×group cells at 100 TB. The aggregate emits only exact-integer
    // sufficient statistics (sum_scaled, zeros); the estimate — including
    // the ln() of the small-range linear-counting branch — evaluates in
    // SQL on BOTH engines via the shared Hll.estimateSql fragment, so no
    // JVM float rounding ever needs a DuckDB twin.
    // The sketch-warehouse rollup (functions/Sketch.scala HllRegisters /
    // HllMerge): per-source register BLOBS, then a union over the stored
    // blobs — distinct-over-any-slice without re-scanning raw data (exact
    // distinct counts cannot roll up; register vectors max-merge). The
    // gate pins the rollup identity cross-engine: est_merged must equal
    // est_direct bit-for-bit.
    Gate("q_hll_union", (s, d) => s.sql(
      s"""WITH toks AS (
         |  SELECT source, explode(filter(split(lower(text), '[^a-z0-9]+'), x -> x != '')) AS token
         |  FROM documents
         |), hashed AS (
         |  SELECT source, cast(conv(substring(md5(token), 1, 15), 16, 10) AS bigint) AS hv
         |  FROM toks
         |), per_src AS (
         |  SELECT source, hll_registers(hv, 8) AS regs FROM hashed GROUP BY source
         |), merged AS (
         |  SELECT hll_merge(regs, 8) AS hsk, count(*) AS n_sources FROM per_src
         |), direct AS (
         |  SELECT hll_sketch(hv, 8) AS hsk FROM hashed
         |), ex AS (
         |  SELECT count(DISTINCT token) AS exact_tokens FROM toks
         |)
         |SELECT
         |  ${functions.Hll.estimateSql("merged.hsk.sum_scaled", "merged.hsk.zeros", 8)} AS est_merged,
         |  ${functions.Hll.estimateSql("direct.hsk.sum_scaled", "direct.hsk.zeros", 8)} AS est_direct,
         |  merged.n_sources, ex.exact_tokens
         |FROM merged CROSS JOIN direct CROSS JOIN ex""".stripMargin), {
      // Replays the register-blob rollup: per-source registers (the
      // hll_registers blobs), element-wise max across sources (hll_merge),
      // and the direct path — which by max-associativity is the SAME
      // register vector, so one merged CTE serves both estimate columns.
      val est = functions.Hll.estimateSql("a.sum_scaled", "a.zeros", 8)
      s"""WITH toks AS (
         |  SELECT source,
         |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
         |                       x -> x <> '')) AS token
         |  FROM documents
         |), h AS (
         |  SELECT source,
         |    CAST('0x' || substr(md5(token), 1, 15) AS BIGINT) AS hv
         |  FROM toks GROUP BY 1, 2
         |), b AS (
         |  SELECT source, hv // 4503599627370496 AS j,
         |         hv % 4503599627370496 AS rem
         |  FROM h
         |), r AS (
         |  SELECT source, j,
         |    max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS mj
         |  FROM b GROUP BY 1, 2
         |), mrg AS (
         |  SELECT j, max(mj) AS mj FROM r GROUP BY j
         |), agg AS (
         |  SELECT
         |    CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT)
         |      + (256 - count(*)) * 9007199254740992 AS sum_scaled,
         |    CAST(256 - count(*) AS INT) AS zeros
         |  FROM mrg
         |), nsrc AS (
         |  SELECT count(DISTINCT source) AS n_sources FROM toks
         |), ex AS (
         |  SELECT count(DISTINCT token) AS exact_tokens FROM toks
         |)
         |SELECT $est AS est_merged, $est AS est_direct,
         |  n.n_sources, x.exact_tokens
         |FROM agg a CROSS JOIN nsrc n CROSS JOIN ex x""".stripMargin
    }),
    Gate("q_hll_distinct", (s, d) => s.sql(
      s"""WITH sk AS (
         |  SELECT l_returnflag,
         |    hll_sketch(cast(conv(substring(md5(cast(l_partkey AS string)), 1, 15), 16, 10) AS bigint), 8) AS hsk,
         |    hll_sketch(cast(conv(substring(md5(cast(l_linenumber AS string)), 1, 15), 16, 10) AS bigint), 8) AS lsk
         |  FROM lineitem GROUP BY l_returnflag
         |), ex AS (
         |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
         |  FROM lineitem GROUP BY l_returnflag
         |)
         |SELECT sk.l_returnflag,
         |  ${functions.Hll.estimateSql("hsk.sum_scaled", "hsk.zeros", 8)} AS est_parts,
         |  ${functions.Hll.estimateSql("lsk.sum_scaled", "lsk.zeros", 8)} AS est_lines,
         |  ex.exact_parts
         |FROM sk JOIN ex ON sk.l_returnflag = ex.l_returnflag
         |ORDER BY l_returnflag""".stripMargin), {
      // Replays HllSketch at p=8 (m=256, w=52 remainder bits, rMax=53):
      // register j = hv // 2^52, ρ = 53 − bit_length(remainder) (53 when the
      // remainder is 0), register max per (group, j); sum_scaled adds 2^53
      // for each of the (256 − present) untouched registers — exact integer
      // arithmetic end to end. The estimate then runs the IDENTICAL
      // Hll.estimateSql fragment the Spark gate evaluates.
      // one register-replay CTE block per sketched column (p=8)
      def regs(expr: String, tag: String) =
        s"""h$tag AS (
           |  SELECT l_returnflag,
           |    CAST('0x' || substr(md5($expr), 1, 15) AS BIGINT) AS hv
           |  FROM lineitem GROUP BY 1, 2
           |), b$tag AS (
           |  SELECT l_returnflag, hv // 4503599627370496 AS j,
           |         hv % 4503599627370496 AS rem
           |  FROM h$tag
           |), r$tag AS (
           |  SELECT l_returnflag, j,
           |    max(CASE WHEN rem = 0 THEN 53 ELSE 53 - length(bin(rem)) END) AS mj
           |  FROM b$tag GROUP BY 1, 2
           |), agg$tag AS (
           |  SELECT l_returnflag,
           |    CAST(sum(1::BIGINT << (53 - mj)) AS BIGINT)
           |      + (256 - count(*)) * 9007199254740992 AS sum_scaled,
           |    CAST(256 - count(*) AS INT) AS zeros
           |  FROM r$tag GROUP BY 1
           |)""".stripMargin
      s"""WITH ${regs("l_partkey::VARCHAR", "p")},
         |${regs("l_linenumber::VARCHAR", "l")},
         |ex AS (
         |  SELECT l_returnflag, count(DISTINCT l_partkey) AS exact_parts
         |  FROM lineitem GROUP BY 1
         |)
         |SELECT a.l_returnflag,
         |  ${functions.Hll.estimateSql("a.sum_scaled", "a.zeros", 8)} AS est_parts,
         |  ${functions.Hll.estimateSql("al.sum_scaled", "al.zeros", 8)} AS est_lines,
         |  x.exact_parts
         |FROM aggp a JOIN aggl al USING (l_returnflag) JOIN ex x USING (l_returnflag)
         |ORDER BY l_returnflag""".stripMargin
    }),
    Gate("q_embed_pq", (s, d) => {
      // product-quantized ANN: 4 subspaces × 4 centroids, 2 k-means
      // iterations, ADC top-5 — codes are 4 small ids per vector (the
      // 100 TB compression path); oracle replays training bit-for-bit
      val emb = s.table("embeddings")
      operators.Pq.adcKnn(emb, emb.filter(col("vec_id") < 10), topK = 5,
          dim = 64, m = 4, k = 4, iters = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      duckPqSql),
    Gate("q_embed_ivf_pq", (s, d) => {
      // FAISS-style IVF-ADC: coarse k-means routing (the q_embed_ivf_learned
      // protocol) + PQ reconstructions (the q_embed_pq protocol), ADC over
      // the probed cluster only — the full compressed-ANN composition
      val emb = s.table("embeddings")
      operators.Pq.ivfAdcKnn(emb, emb.filter(col("vec_id") < 10), topK = 5,
          dim = 64, m = 4, k = 4, iters = 2, nlist = 8, nprobe = 1, coarseIters = 2)
        .orderBy(col("query_id"), col("rank"))
    },
      duckIvfPqSql),
    Gate("q_embed_pq_index", (s, d) => {
      // the "build once, search many" path: identical ADC results to
      // q_embed_pq, but through the persistable PqIndex handle — search
      // touches codes + codebooks only (same oracle as q_embed_pq)
      val emb = s.table("embeddings")
      val index = operators.Pq.buildIndex(emb, dim = 64, m = 4, k = 4, iters = 2)
      operators.Pq.adcSearch(index, emb.filter(col("vec_id") < 10), topK = 5)
        .orderBy(col("query_id"), col("rank"))
    },
      duckPqSql),
    Gate("q_embed_sq8", (s, d) => {
      // scalar-quantized (SQ8) ANN: per-dimension 8-bit codes against
      // corpus bounds, asymmetric squared-L2 against the reconstruction —
      // the training-free 4× compression sibling of PQ
      val emb = s.table("embeddings")
      operators.Sq.sq8Knn(emb, emb.filter(col("vec_id") < 10), topK = 5,
          dim = 64)
        .orderBy(col("query_id"), col("rank"))
    },
      // Replays Sq.sq8Knn: exact per-dim bounds, the same quantize→
      // reconstruct IEEE tree (round() is an exact integer ≤ 255, so the
      // int-code round trip on the Spark side cannot differ), the shared
      // squared-L2 fold, row_number ties to the lower neighbor id.
      s"""WITH b AS (
         |  SELECT pos, min(CAST(v AS DOUBLE)) AS lo, max(CAST(v AS DOUBLE)) AS hi
         |  FROM (SELECT unnest(embedding) AS v,
         |          generate_subscripts(embedding, 1) AS pos
         |        FROM embeddings) e
         |  GROUP BY pos),
         |bl AS (SELECT list(lo ORDER BY pos) AS los, list(hi ORDER BY pos) AS his
         |       FROM b),
         |recon AS (
         |  SELECT vec_id,
         |    list_transform(list_zip(embedding, los, his), t ->
         |      CASE WHEN CAST(t[3] AS DOUBLE) = CAST(t[2] AS DOUBLE)
         |           THEN CAST(t[2] AS DOUBLE)
         |           ELSE CAST(t[2] AS DOUBLE)
         |             + round((CAST(t[1] AS DOUBLE) - CAST(t[2] AS DOUBLE))
         |                 / (CAST(t[3] AS DOUBLE) - CAST(t[2] AS DOUBLE))
         |                 * 255.0::DOUBLE)
         |               * (CAST(t[3] AS DOUBLE) - CAST(t[2] AS DOUBLE))
         |               / 255.0::DOUBLE END) AS recon
         |  FROM embeddings, bl),
         |q AS (SELECT vec_id AS query_id, embedding AS q_emb
         |      FROM embeddings WHERE vec_id < 10),
         |sc AS (
         |  SELECT q.query_id, r.vec_id AS neighbor_id,
         |    ${sqdSql("q.q_emb", "r.recon")} AS sq_dist
         |  FROM q CROSS JOIN recon r WHERE q.query_id <> r.vec_id),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY query_id
         |    ORDER BY sq_dist, neighbor_id) AS rank
         |  FROM sc)
         |SELECT query_id, neighbor_id, sq_dist, rank FROM ranked
         |WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin)
  )
}
