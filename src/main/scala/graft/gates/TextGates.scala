package graft
package gates

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, concat, desc, explode, floor, lit,
  lpad, when}
import GateSql._

/** Text gates: [[operators.TextOps]], [[operators.Pii]], [[operators.Freq]]
  * and the BPE token counter. */
private[gates] object TextGates {

  /** Synthetic PII corpus for the q_pii_* gates: email/SSN/phone/IP derived
    * deterministically from doc_id and appended to the real text (the word
    * soup itself contains no digits or '@'); every 5th doc stays clean so
    * the has_pii flag exercises both values. The oracle rebuilds the same
    * strings with DuckDB's `||`/lpad/CASE — what the gates compare is the
    * REGEX behavior of the two engines over identical inputs. */
  private def piiTestText: org.apache.spark.sql.Column = {
    val id = col("doc_id")
    def part(m: Int, len: Int) = lpad((id % m).cast("string"), len, "0")
    val phone = when(id % 2 === 0,
      concat(lit("(555) "), part(1000, 3), lit("-"), part(10000, 4)))
      .otherwise(concat(lit("555-"), part(1000, 3), lit("-"), part(10000, 4)))
    val inj = concat(
      lit(" mail user"), id.cast("string"), lit("@example.com"),
      lit(" ssn "), part(1000, 3), lit("-"), part(100, 2), lit("-"), part(10000, 4),
      lit(" call "), phone,
      lit(" from 10."), (id % 256).cast("string"), lit(".0."),
      ((id * 7) % 256).cast("string"))
    when(id % 5 === 0, col("text")).otherwise(concat(col("text"), inj))
  }

  /** DuckDB replica of [[piiTestText]] — a `pii(doc_id, text)` CTE body.
    * Concatenation operators sit at line ENDS: this snippet is interpolated
    * into oracles that re-run `.stripMargin`, which would eat one pipe off
    * a line-leading `||`. */
  private val duckPii =
    """pii AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0 THEN text ELSE
      |      text || ' mail user' || doc_id::VARCHAR || '@example.com' ||
      |      ' ssn ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
      |      '-' || lpad((doc_id % 100)::VARCHAR, 2, '0') ||
      |      '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') ||
      |      ' call ' || CASE WHEN doc_id % 2 = 0
      |          THEN '(555) ' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
      |               '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0')
      |          ELSE '555-' || lpad((doc_id % 1000)::VARCHAR, 3, '0') ||
      |               '-' || lpad((doc_id % 10000)::VARCHAR, 4, '0') END ||
      |      ' from 10.' || (doc_id % 256)::VARCHAR ||
      |      '.0.' || ((doc_id * 7) % 256)::VARCHAR
      |    END AS text
      |  FROM documents)""".stripMargin

  private val duckStopwordsEn = "['the','and','of','to','in','is','a']"

  private def duckStopCount(words: String): String =
    s"len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> list_contains($words, w)))"

  /** The text-stats SELECT body (no ORDER BY) — shared by q_text_stats and
    * the curation-pipeline oracle. */
  private def duckTextStatsSql: String = {
    val nTok = "CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS INT)"
    val punct = "CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS INT)"
    val stopEn = s"CAST(${duckStopCount(duckStopwordsEn)} AS INT)"
    val langScores = TextOps_LangProfilesSql
    s"""SELECT doc_id,
       |  CAST(length(text) AS INT) AS n_chars,
       |  $nTok AS n_tokens,
       |  $punct AS n_punct,
       |  $stopEn AS n_stopwords,
       |  least(1.0::DOUBLE, CAST($nTok AS DOUBLE) / 100.0::DOUBLE)
       |    * (1.0::DOUBLE - CASE WHEN CAST(length(text) AS DOUBLE) > 0.0 THEN CAST($punct AS DOUBLE) / CAST(length(text) AS DOUBLE) ELSE 0.0::DOUBLE END)
       |    * (0.5::DOUBLE + 0.5::DOUBLE * CASE WHEN CAST($nTok AS DOUBLE) > 0.0 THEN CAST($stopEn AS DOUBLE) / CAST($nTok AS DOUBLE) ELSE 0.0::DOUBLE END) AS quality_score,
       |  $langScores AS lang_pred
       |FROM documents""".stripMargin
  }

  /** DuckDB replica of merge-table BPE, generated from the SAME
    * [[functions.Bpe.DefaultMerges]] the Spark expression applies — single
    * source of truth for the table. Each segment is rendered with every
    * symbol framed by chr(31) (absent from the corpus, asserted in BpeSpec),
    * so one plain `replace` per merge rewrites exactly the full-symbol
    * adjacent pairs, left-to-right non-overlapping — the same semantics as
    * `Bpe.mergePass`. Token count = framing-separator count / 2. */
  private def duckBpeSql: String = {
    val sep = "chr(31)"
    def s(x: String) = "'" + x.replace("'", "''") + "'"
    val merged = functions.Bpe.DefaultMerges.foldLeft("s") { case (acc, (a, b)) =>
      s"replace($acc, $sep||${s(a)}||$sep||$sep||${s(b)}||$sep, $sep||${s(a + b)}||$sep)"
    }
    s"""WITH segs AS (
       |  SELECT doc_id, unnest(regexp_extract_all(text, '${operators.TextOps.BpeSplitRe}')) AS seg
       |  FROM documents
       |), sym AS (
       |  SELECT doc_id, regexp_replace(seg, '([\\s\\S])', $sep || '\\1' || $sep, 'g') AS s
       |  FROM segs
       |), merged AS (
       |  SELECT doc_id, $merged AS m FROM sym
       |), counted AS (
       |  SELECT doc_id,
       |    CAST(sum((length(m) - length(replace(m, $sep, ''))) // 2) AS INT) AS c
       |  FROM merged GROUP BY doc_id
       |)
       |SELECT d.doc_id, coalesce(c.c, 0) AS bpe_tokens
       |FROM documents d LEFT JOIN counted c ON d.doc_id = c.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** DuckDB CASE chain mirroring TextOps.langId (same profiles, same
    * tie-break order). */
  private def TextOps_LangProfilesSql: String = {
    val scores = operators.TextOps.LangProfiles.map { case (lang, words) =>
      val lst = words.map(w => s"'$w'").mkString("[", ",", "]")
      lang -> duckStopCount(lst)
    }
    val best = scores.map(_._2).mkString("greatest(", ", ", ")")
    val whens = scores.map { case (lang, s) =>
      s"WHEN $s = $best AND $best > 0 THEN '$lang'"
    }.mkString(" ")
    s"CASE $whens ELSE 'und' END"
  }

  val all: Seq[Gate] = Seq(
    Gate("q_lexical_diversity", (s, d) => {
      // per-document type-token ratio + hapax share — the vocabulary-
      // richness screen; exact integer counts, two divisions
      operators.TextOps.lexicalDiversity(s.table("documents"), "doc_id",
          "text")
        .orderBy(col("doc_id"))
    },
      // Replays TextOps.lexicalDiversity off the shared tokenizer CTE:
      // (doc, token) counts → per-doc rollup → left join keeps empty docs.
      s"""WITH $duckToks,
         |tc AS (SELECT doc_id, w, count(*) AS c FROM toks GROUP BY doc_id, w),
         |a AS (
         |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_tokens,
         |    count(*) AS n_types,
         |    CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax
         |  FROM tc GROUP BY doc_id
         |)
         |SELECT d.doc_id,
         |  coalesce(a.n_tokens, 0) AS n_tokens,
         |  coalesce(a.n_types, 0) AS n_types,
         |  coalesce(a.n_hapax, 0) AS n_hapax,
         |  CASE WHEN coalesce(a.n_tokens, 0) > 0 THEN
         |    CAST(a.n_types AS DOUBLE) / CAST(a.n_tokens AS DOUBLE) END AS ttr,
         |  CASE WHEN coalesce(a.n_types, 0) > 0 THEN
         |    CAST(a.n_hapax AS DOUBLE) / CAST(a.n_types AS DOUBLE) END AS hapax_share
         |FROM documents d LEFT JOIN a USING (doc_id)
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_blocklist", (s, d) => {
      // banned-term screen over the corpus — token-boundary matches
      // against a literal blocklist, zero-shuffle per-row map
      operators.TextOps.blocklistScreen(s.table("documents"), "doc_id",
          "text", Seq("slow", "hash", "vector", "stream", "nosuchterm"),
          maxHitTerms = 2)
        .orderBy(col("doc_id"))
    },
      // Replays TextOps.blocklistScreen: the shared tokenizer, distinct
      // tokens intersected with the sorted literal blocklist, occurrence
      // count via the same higher-order filter.
      """WITH t AS (
        |  SELECT doc_id,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      w -> w <> '') AS toks
        |  FROM documents)
        |SELECT doc_id,
        |  -- array_to_string([]) is NULL in DuckDB but '' in Spark's
        |  -- array_join; coalesce only when toks itself is non-NULL
        |  coalesce(
        |    array_to_string(list_sort(list_intersect(list_distinct(toks),
        |      ['hash', 'nosuchterm', 'slow', 'stream', 'vector'])), ','),
        |    CASE WHEN toks IS NOT NULL THEN '' END) AS hit_terms,
        |  CAST(len(list_intersect(list_distinct(toks),
        |    ['hash', 'nosuchterm', 'slow', 'stream', 'vector'])) AS BIGINT)
        |    AS n_hit_terms,
        |  CAST(len(list_filter(toks, x -> list_contains(
        |    ['hash', 'nosuchterm', 'slow', 'stream', 'vector'], x)))
        |    AS BIGINT) AS n_hit_tokens,
        |  CAST(len(list_intersect(list_distinct(toks),
        |    ['hash', 'nosuchterm', 'slow', 'stream', 'vector'])) AS BIGINT)
        |    > 2 AS blocked
        |FROM t ORDER BY doc_id""".stripMargin),
    Gate("q_text_stats", (s, d) => {
      operators.TextOps.textStats(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      (duckTextStatsSql + "\nORDER BY doc_id")),
    Gate("q_oov_rate", (s, d) => {
      // per-doc out-of-vocabulary rate vs the corpus's own top-1000
      // vocabulary — the no-external-wordlist gibberish screen
      operators.TextOps.oovRate(s.table("documents"), "doc_id", "text",
          vocabSize = 1000)
        .orderBy(col("doc_id"))
    },
      // Replays oovRate: same tokenizer, (count desc, token asc) top-K
      // vocabulary, integer in/out counts, one final division.
      """WITH tk AS (
        |  SELECT doc_id,
        |    unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      w -> w <> '')) AS tok
        |  FROM documents),
        |vc AS (SELECT tok FROM tk GROUP BY tok
        |       ORDER BY count(*) DESC, tok ASC LIMIT 1000),
        |per AS (
        |  SELECT t.doc_id,
        |    CAST(count(*) AS BIGINT) AS n_tokens,
        |    CAST(sum(CASE WHEN v.tok IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov
        |  FROM tk t LEFT JOIN vc v ON v.tok = t.tok
        |  GROUP BY t.doc_id)
        |SELECT d.doc_id,
        |  COALESCE(p.n_tokens, 0) AS n_tokens,
        |  COALESCE(p.n_oov, 0) AS n_oov,
        |  CASE WHEN p.n_tokens > 0
        |    THEN CAST(p.n_oov AS DOUBLE) / CAST(p.n_tokens AS DOUBLE)
        |  END AS oov_rate
        |FROM (SELECT DISTINCT doc_id FROM documents) d
        |LEFT JOIN per p ON p.doc_id = d.doc_id
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_ngram_diversity", (s, d) => {
      // corpus distinct-n-gram ratios per source (n = 1..3) — the
      // generation-diversity / phrase-level-repetition readout; exact
      // integer counts, one (source, n, gram) shuffle
      operators.TextOps.ngramDiversity(s.table("documents"), "text",
          Seq("source"), maxN = 3)
        .orderBy(col("source"), col("n"))
    },
      // Replays ngramDiversity: same tokenizer regex, 1-based inclusive
      // list slices joined with ' ' (= concat_ws), exact count rollup.
      """WITH tk AS (
        |  SELECT source,
        |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |      w -> w <> '') AS ts
        |  FROM documents),
        |g AS (
        |  SELECT source, nn.n,
        |    unnest(list_transform(generate_series(1, len(ts) - nn.n + 1),
        |      i -> array_to_string(ts[i:i+nn.n-1], ' '))) AS gram
        |  FROM tk CROSS JOIN (VALUES (1), (2), (3)) nn(n)
        |  WHERE len(ts) >= nn.n),
        |pc AS (SELECT source, n, gram, count(*) AS c
        |       FROM g GROUP BY source, n, gram)
        |SELECT source, n,
        |  CAST(sum(c) AS BIGINT) AS total_ngrams,
        |  CAST(count(*) AS BIGINT) AS distinct_ngrams,
        |  CAST(count(*) AS DOUBLE) / CAST(sum(c) AS DOUBLE) AS diversity
        |FROM pc GROUP BY source, n ORDER BY source, n""".stripMargin),
    Gate("q_curation", (s, d) => {
      // end-to-end curation: quality/language filter -> exact dedup -> kept
      // docs with their stats. The composite a training-data pipeline runs.
      import org.apache.spark.sql.functions.{md5 => md5f, min => minf}
      val docs = s.table("documents")
      val stats = operators.TextOps.textStats(docs, "doc_id", "text")
      val filtered = docs.join(stats, "doc_id")
        .filter(col("lang_pred") === "en" &&
          col("quality_score") >= 0.2 && col("n_tokens") >= 10)
      val kept = filtered.groupBy(md5f(col("text")).as("text_md5"))
        .agg(minf(col("doc_id")).as("keep_id"))
      kept.join(
          stats.select(col("doc_id").as("keep_id"), col("n_tokens"), col("quality_score")),
          "keep_id")
        .select("keep_id", "text_md5", "n_tokens", "quality_score")
        .orderBy("keep_id")
    },
      s"""WITH stats AS (
         |$duckTextStatsSql
         |),
         |filtered AS (
         |  SELECT d.doc_id, d.text
         |  FROM documents d JOIN stats s ON s.doc_id = d.doc_id
         |  WHERE s.lang_pred = 'en' AND s.quality_score >= 0.2 AND s.n_tokens >= 10
         |),
         |kept AS (
         |  SELECT md5(text) AS text_md5, min(doc_id) AS keep_id
         |  FROM filtered GROUP BY md5(text)
         |)
         |SELECT k.keep_id, k.text_md5, s.n_tokens, s.quality_score
         |FROM kept k JOIN stats s ON s.doc_id = k.keep_id
         |ORDER BY k.keep_id""".stripMargin),
    Gate("q_token_count", (s, d) => {
      s.table("documents").select(
        col("doc_id"),
        operators.TextOps.tokenCount(col("text")).as("ws_tokens"),
        operators.TextOps.bpeTokenCount(col("text")).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },
      s"""SELECT doc_id,
         |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS INT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '${operators.TextOps.BpeSplitRe}')) AS INT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q_compress_ratio", (s, d) => {
      // compression-ratio quality screen (DEFLATE, JDK zlib). DEFLATE
      // itself is not SQL-expressible, so the oracle joins a committed
      // golden fixture of deflate byte counts keyed by md5(text) — valid
      // at every SF corpus (generated by PYTHON zlib over all three SF
      // corpora — an independent driver of the same codec, verified
      // bit-equal to the JDK Deflater) and recomputes everything else
      // (byte lengths, the ratio division) in DuckDB
      operators.TextOps.compressionRatio(s, s.table("documents"),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // The DEFLATE byte count comes from a committed golden fixture
      // (Python-zlib-generated, bit-equal to the JDK Deflater — see the
      // query comment); DuckDB recomputes the UTF-8 byte length and the
      // ratio division, so only the codec output itself is pinned.
      // fixture keyed by md5(text), not doc_id: the sf0.001/sf0.01 corpora
      // share doc_id ranges with DIFFERENT text, so a doc_id-keyed fixture
      // was only valid at the SF it was generated from (r15 finding); the
      // md5 key makes one committed fixture valid at every SF, bit-equal
      // to the old fixture's sf0.01 values (cross-checked at regeneration)
      """SELECT d.doc_id,
        |  CAST(coalesce(strlen(d.text), 0) AS BIGINT) AS n_bytes,
        |  CASE WHEN coalesce(strlen(d.text), 0) = 0 THEN 1.0::DOUBLE
        |       ELSE CAST(g.n_deflate AS DOUBLE) / CAST(strlen(d.text) AS DOUBLE)
        |  END AS compress_ratio
        |FROM documents d
        |JOIN '/root/repo/src/test/resources/golden/deflate_sizes_by_md5.parquet' g
        |  ON md5(coalesce(d.text, '')) = g.text_md5
        |ORDER BY d.doc_id""".stripMargin),
    Gate("q_assoc_rules", (s, d) => {
      // pairwise association rules over order baskets × part items
      // (minSupport=3): Apriori item pruning before the pair join;
      // confidence/lift are single-division IEEE trees, no rounding
      operators.Freq.associationRules(s.table("lineitem"),
          "l_orderkey", "l_partkey", minSupport = 3L)
        .orderBy(col("antecedent"), col("consequent"))
    },
      // Replays Freq.associationRules: same distinct itemization, frequent
      // pruning, u<v pair counting, two-direction expansion, and
      // single-division confidence/lift.
      """WITH items AS (SELECT DISTINCT l_orderkey AS b, l_partkey AS i
        |               FROM lineitem),
        |sup AS (SELECT i, CAST(count(*) AS BIGINT) AS n FROM items GROUP BY i),
        |freq AS (SELECT i FROM sup WHERE n >= 3),
        |fi AS (SELECT b, i FROM items JOIN freq USING (i)),
        |nb AS (SELECT CAST(count(DISTINCT b) AS BIGINT) AS nbask FROM items),
        |pc AS (SELECT a.i AS i1, c.i AS i2, CAST(count(*) AS BIGINT) AS sp
        |       FROM fi a JOIN fi c ON a.b = c.b AND a.i < c.i
        |       GROUP BY 1, 2 HAVING count(*) >= 3),
        |d AS (SELECT i1 AS a, i2 AS c, sp FROM pc
        |      UNION ALL SELECT i2, i1, sp FROM pc)
        |SELECT d.a AS antecedent, d.c AS consequent, d.sp AS sup_pair,
        |  sa.n AS sup_ante, sc.n AS sup_cons,
        |  CAST(d.sp AS DOUBLE) / CAST(sa.n AS DOUBLE) AS confidence,
        |  CAST(d.sp * nb.nbask AS DOUBLE) / CAST(sa.n * sc.n AS DOUBLE) AS lift
        |FROM d JOIN sup sa ON sa.i = d.a JOIN sup sc ON sc.i = d.c
        |CROSS JOIN nb
        |ORDER BY antecedent, consequent""".stripMargin),
    Gate("q_bigram_pmi", (s, d) => {
      // top-50 adjacent-bigram PMI collocations over the document corpus
      // — linear zip, never a quadratic token window; single rounded ln
      operators.TextOps.bigramPmi(s.table("documents"), "text", topK = 50)
        .orderBy(col("w1"), col("w2"))
    },
      // Replays TextOps.bigramPmi: same adjacent zip, same top-50 cut
      // (count desc, w1, w2), same ln((nab/tb)/((na/tu)*(nb/tu))) tree
      // rounded to 10.
      """WITH tk AS (
        |  SELECT list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    w -> w <> '') AS ts
        |  FROM documents),
        |uni AS (SELECT unnest(ts) AS w FROM tk),
        |uc AS (SELECT w, count(*) AS nu FROM uni GROUP BY w),
        |ut AS (SELECT CAST(sum(nu) AS BIGINT) AS tu FROM uc),
        |bi AS (SELECT unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS z
        |       FROM tk WHERE len(ts) >= 2),
        |bc AS (SELECT z[1] AS w1, z[2] AS w2, count(*) AS n_bigram
        |       FROM bi GROUP BY 1, 2),
        |bt AS (SELECT CAST(sum(n_bigram) AS BIGINT) AS tb FROM bc),
        |top AS (SELECT w1, w2, n_bigram FROM bc
        |        ORDER BY n_bigram DESC, w1 ASC, w2 ASC LIMIT 50)
        |SELECT top.w1, top.w2, top.n_bigram,
        |  round(ln((CAST(top.n_bigram AS DOUBLE) / CAST(bt.tb AS DOUBLE))
        |    / ((CAST(a.nu AS DOUBLE) / CAST(ut.tu AS DOUBLE))
        |       * (CAST(b.nu AS DOUBLE) / CAST(ut.tu AS DOUBLE)))), 10)
        |    + 0.0 AS pmi
        |FROM top
        |JOIN uc a ON a.w = top.w1
        |JOIN uc b ON b.w = top.w2
        |CROSS JOIN bt CROSS JOIN ut
        |ORDER BY w1, w2""".stripMargin),
    Gate("q_surprisal", (s, d) => {
      // unigram-LM surprisal (self-trained top-1000 vocab) — the
      // perplexity-style quality screen; token-ordered fold + 10-dp
      // rounding per the Divergence determinism discipline
      operators.TextOps.unigramSurprisal(s.table("documents"),
          "doc_id", "text", vocabK = 1000)
        .orderBy(col("doc_id"))
    },
      // Replays TextOps.unigramSurprisal: same top-1000 vocabulary (count
      // desc, token asc), same renormalized gn/G model, same token-ordered
      // left fold (list_reduce seedless == Spark's 0.0-seeded aggregate:
      // 0+x1 is exact), same round(_, 10)+0.0.
      """WITH tok0 AS (
        |  SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |  FROM documents),
        |tk AS (SELECT doc_id, w AS token FROM tok0 WHERE w <> ''),
        |counts AS (SELECT doc_id, token, count(*) AS n FROM tk GROUP BY 1, 2),
        |vocab AS (SELECT token, CAST(sum(n) AS BIGINT) AS gn FROM counts
        |          GROUP BY token ORDER BY gn DESC, token ASC LIMIT 1000),
        |g AS (SELECT CAST(sum(gn) AS BIGINT) AS gt FROM vocab),
        |base AS (SELECT doc_id,
        |  CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |sup AS (SELECT c.doc_id, c.token, c.n, v.gn
        |        FROM counts c JOIN vocab v USING (token)),
        |agg AS (SELECT doc_id, CAST(sum(n) AS BIGINT) AS n_iv,
        |          list(struct_pack(t := token, n := n, gn := gn)
        |            ORDER BY token) AS ts
        |        FROM sup GROUP BY doc_id),
        |sc AS (SELECT agg.doc_id, n_iv,
        |         round(-(list_reduce(list_transform(ts,
        |             e -> CAST(e.n AS DOUBLE)
        |               * ln(CAST(e.gn AS DOUBLE) / CAST(g.gt AS DOUBLE))),
        |             (a, b) -> a + b)) / CAST(n_iv AS DOUBLE), 10)
        |           + 0.0 AS surprisal
        |       FROM agg, g)
        |SELECT b.doc_id, b.n_tokens,
        |  b.n_tokens - coalesce(sc.n_iv, 0) AS n_oov, sc.surprisal
        |FROM base b LEFT JOIN sc ON b.doc_id = sc.doc_id
        |ORDER BY b.doc_id""".stripMargin),
    Gate("q_tfidf_pairs", (s, d) => {
      // weighted lexical cosine near-dup pairs (doc_id < 300 slab,
      // threshold .85) — posting-list join, term-ordered folds, no ln
      operators.TextOps.tfidfCosinePairs(
          s.table("documents").filter(col("doc_id") < 300)
            .select("doc_id", "text"),
          "doc_id", "text", threshold = 0.85)
        .orderBy(col("id_a"), col("id_b"))
    },
      // Replays TextOps.tfidfCosinePairs: same rational-idf weights (the
      // q_tfidf expression), term-ordered norm/dot folds, sqrt norms, one
      // division — no ln, no rounding.
      """WITH base AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
        |toks AS (
        |  SELECT doc_id, w FROM (
        |    SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS w
        |    FROM base) t WHERE w <> ''),
        |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |n AS (SELECT count(*) AS n FROM base),
        |wt AS (
        |  SELECT t.doc_id, t.term,
        |    CAST(t.tf AS DOUBLE) *
        |      ((CAST(n.n AS DOUBLE) + 1.0::DOUBLE) / (CAST(d.df AS DOUBLE) + 1.0::DOUBLE)) AS w
        |  FROM tf t JOIN dfq d USING (term) CROSS JOIN n),
        |norms AS (
        |  SELECT doc_id,
        |    sqrt(list_reduce(list(w * w ORDER BY term), (a, b) -> a + b)) AS nrm
        |  FROM wt GROUP BY doc_id),
        |dots AS (
        |  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
        |    CAST(count(*) AS BIGINT) AS n_shared,
        |    list_reduce(list(a.w * b.w ORDER BY a.term), (x, y) -> x + y) AS dot
        |  FROM wt a JOIN wt b ON a.term = b.term AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d.id_a, d.id_b, d.n_shared,
        |  d.dot / (na.nrm * nb.nrm) AS cosine
        |FROM dots d
        |JOIN norms na ON na.doc_id = d.id_a
        |JOIN norms nb ON nb.doc_id = d.id_b
        |WHERE d.dot / (na.nrm * nb.nrm) >= 0.85
        |ORDER BY d.id_a, d.id_b""".stripMargin),
    Gate("q_zipf", (s, d) => {
      // Zipf rank-frequency OLS over the top-1000 vocabulary — the
      // one-row corpus-health fingerprint (natural text ≈ slope −1);
      // pre-rounded ln values make the rank-ordered folds bit-identical
      operators.TextOps.zipfFit(s.table("documents"), "text", topK = 1000)
    },
      // Replays TextOps.zipfFit: same vocab/rank order, pre-rounded ln per
      // element, the same five rank-ordered folds, and identically
      // parenthesized closed forms.
      """WITH tk AS (
        |  SELECT unnest(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    w -> w <> '')) AS token
        |  FROM documents),
        |vc AS (SELECT token, CAST(count(*) AS BIGINT) AS gn FROM tk
        |       GROUP BY token ORDER BY gn DESC, token ASC LIMIT 1000),
        |rk AS (SELECT gn,
        |         row_number() OVER (ORDER BY gn DESC, token ASC) AS r
        |       FROM vc),
        |f AS (SELECT CAST(count(*) AS BIGINT) AS n_types,
        |        list(struct_pack(
        |          x := round(ln(CAST(r AS DOUBLE)), 10) + 0.0,
        |          y := round(ln(CAST(gn AS DOUBLE)), 10) + 0.0)
        |          ORDER BY r) AS ts
        |      FROM rk),
        |s AS (SELECT n_types, CAST(n_types AS DOUBLE) AS n,
        |        list_reduce(list_transform(ts, e -> e.x), (a, b) -> a + b) AS sx,
        |        list_reduce(list_transform(ts, e -> e.y), (a, b) -> a + b) AS sy,
        |        list_reduce(list_transform(ts, e -> e.x * e.y), (a, b) -> a + b) AS sxy,
        |        list_reduce(list_transform(ts, e -> e.x * e.x), (a, b) -> a + b) AS sxx,
        |        list_reduce(list_transform(ts, e -> e.y * e.y), (a, b) -> a + b) AS syy
        |      FROM f)
        |SELECT n_types,
        |  (n * sxy - sx * sy) / (n * sxx - sx * sx) AS slope,
        |  (sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n AS intercept,
        |  CASE WHEN (n * syy - sy * sy) > 0.0 THEN
        |    (n * sxy - sx * sy) * (n * sxy - sx * sy)
        |      / ((n * sxx - sx * sx) * (n * syy - sy * sy))
        |  END AS r2
        |FROM s""".stripMargin),
    Gate("q_cooc_pmi", (s, d) => {
      // top-50 windowed (±3) co-occurrence PMI pairs — the GloVe-style
      // topical-association statistic; pair volume is window·tokens,
      // flattened shifted zips, single rounded ln
      operators.TextOps.cooccurrencePmi(s.table("documents"), "text",
          window = 3, topK = 50)
        .orderBy(col("w1"), col("w2"))
    },
      // Replays TextOps.cooccurrencePmi: position join within distance 3,
      // (least, greatest) canonicalization, identical top-K boundary and
      // rounded ln.
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    w -> w <> '') AS ts
        |  FROM documents),
        |pos AS (SELECT doc_id, unnest(ts) AS w,
        |          generate_subscripts(ts, 1) AS p FROM tk),
        |pairs AS (SELECT least(a.w, b.w) AS w1, greatest(a.w, b.w) AS w2
        |          FROM pos a JOIN pos b
        |            ON a.doc_id = b.doc_id AND b.p > a.p AND b.p <= a.p + 3),
        |pc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS n_pair
        |       FROM pairs GROUP BY 1, 2),
        |tp AS (SELECT CAST(sum(n_pair) AS BIGINT) AS t FROM pc),
        |uc AS (SELECT w, CAST(count(*) AS BIGINT) AS nu FROM pos GROUP BY w),
        |tu AS (SELECT CAST(sum(nu) AS BIGINT) AS t FROM uc),
        |top AS (SELECT w1, w2, n_pair FROM pc
        |        ORDER BY n_pair DESC, w1 ASC, w2 ASC LIMIT 50)
        |SELECT top.w1, top.w2, top.n_pair,
        |  round(ln((CAST(top.n_pair AS DOUBLE) / CAST(tp.t AS DOUBLE))
        |    / ((CAST(a.nu AS DOUBLE) / CAST(tu.t AS DOUBLE))
        |       * (CAST(b.nu AS DOUBLE) / CAST(tu.t AS DOUBLE)))), 10)
        |    + 0.0 AS pmi
        |FROM top
        |JOIN uc a ON a.w = top.w1
        |JOIN uc b ON b.w = top.w2
        |CROSS JOIN tp CROSS JOIN tu
        |ORDER BY w1, w2""".stripMargin),
    Gate("q_bigram_surprisal", (s, d) => {
      // bigram-LM surprisal (add-0.1-smoothed conditionals over the
      // self-trained top-500 vocab) — the word-order-aware quality
      // screen; pair-ordered fold + 10-dp rounding per the Divergence
      // determinism discipline
      operators.TextOps.bigramSurprisal(s.table("documents"),
          "doc_id", "text", vocabK = 500, alpha = 0.1)
        .orderBy(col("doc_id"))
    },
      // Replays TextOps.bigramSurprisal: same top-500 vocab, same in-vocab
      // pair restriction, identical smoothed conditional expression, and
      // the identical (w1, w2)-ordered left fold + round(_, 10)+0.0.
      """WITH tk AS (
        |  SELECT doc_id, list_filter(string_split_regex(lower(text), '[^a-z0-9]+'),
        |    w -> w <> '') AS ts
        |  FROM documents),
        |uni AS (SELECT unnest(ts) AS token FROM tk),
        |vocab AS (SELECT token FROM (
        |  SELECT token, count(*) AS gn FROM uni GROUP BY token
        |  ORDER BY gn DESC, token ASC LIMIT 500) v0),
        |pairs AS (SELECT doc_id, z[1] AS w1, z[2] AS w2 FROM (
        |  SELECT doc_id, unnest(list_zip(ts[1:len(ts)-1], ts[2:len(ts)])) AS z
        |  FROM tk WHERE len(ts) >= 2) p0),
        |iv AS (SELECT p.doc_id, p.w1, p.w2 FROM pairs p
        |       JOIN vocab v1 ON v1.token = p.w1
        |       JOIN vocab v2 ON v2.token = p.w2),
        |cc AS (SELECT w1, w2, CAST(count(*) AS BIGINT) AS c12
        |       FROM iv GROUP BY 1, 2),
        |lt AS (SELECT w1, CAST(sum(c12) AS BIGINT) AS c1 FROM cc GROUP BY 1),
        |dp AS (SELECT doc_id, w1, w2, CAST(count(*) AS BIGINT) AS m
        |       FROM iv GROUP BY 1, 2, 3),
        |j AS (SELECT dp.doc_id, dp.w1, dp.w2, dp.m, cc.c12, lt.c1
        |      FROM dp JOIN cc USING (w1, w2) JOIN lt USING (w1)),
        |g AS (SELECT doc_id, CAST(sum(m) AS BIGINT) AS n_iv,
        |        list(CAST(m AS DOUBLE) *
        |             ln((CAST(c12 AS DOUBLE) + 0.1::DOUBLE)
        |                / (CAST(c1 AS DOUBLE) + 0.1::DOUBLE * 500.0::DOUBLE))
        |          ORDER BY w1, w2) AS es
        |      FROM j GROUP BY doc_id),
        |base AS (SELECT doc_id,
        |           CAST(greatest(len(ts) - 1, 0) AS BIGINT) AS n_bigrams
        |         FROM tk)
        |SELECT b.doc_id, b.n_bigrams,
        |  b.n_bigrams - coalesce(g.n_iv, 0) AS n_oov_bigrams,
        |  CASE WHEN g.n_iv > 0 THEN
        |    round(-(list_reduce(es, (a, e) -> a + e))
        |          / CAST(g.n_iv AS DOUBLE), 10) + 0.0
        |  END AS bigram_surprisal
        |FROM base b LEFT JOIN g USING (doc_id)
        |ORDER BY b.doc_id""".stripMargin),
    Gate("q_bpe_tokens", (s, d) => {
      // real merge-table BPE (vs q_token_count's fast pre-tokenizer count):
      // a native codegen'd expression applying Bpe.DefaultMerges per row
      // oracle precondition: the DuckDB replica frames BPE symbols with
      // chr(31), so the gate is hash-exact only while no document contains
      // that byte — asserted per row against the verified corpus itself
      val guarded = textChecked(col("text"), col("text").contains("\u001f"),
        "q_bpe_tokens oracle precondition violated: document contains chr(31)")
      s.table("documents").select(
        col("doc_id"),
        functions.BpeFunctions.bpeCount(guarded).as("bpe_tokens"))
        .orderBy(col("doc_id"))
    },
      duckBpeSql),
    Gate("q_doc_fingerprint", (s, d) => {
      operators.TextOps.fingerprints(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      s"""WITH $duckShingles,
         |fp AS (SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id)
         |SELECT d.doc_id, coalesce(fp.fingerprint, md5(lower(d.text))) AS fingerprint
         |FROM documents d LEFT JOIN fp ON d.doc_id = fp.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_tfidf", (s, d) => {
      // df/idf from the WHOLE corpus; output filtered to the first 20 docs
      operators.TextOps.tfidf(s.table("documents"), "doc_id", "text")
        .filter(col("doc_id") < 20)
        .orderBy(col("doc_id"), col("term"))
    },
      s"""WITH $duckToks,
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM toks GROUP BY doc_id, w),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |n AS (SELECT count(*) AS n FROM documents)
         |SELECT t.doc_id, t.term, t.tf, d.df,
         |  CAST(t.tf AS DOUBLE) *
         |    ((CAST(n.n AS DOUBLE) + 1.0::DOUBLE) / (CAST(d.df AS DOUBLE) + 1.0::DOUBLE)) AS tfidf
         |FROM tf t JOIN dfq d USING (term) CROSS JOIN n
         |WHERE t.doc_id < 20
         |ORDER BY t.doc_id, t.term""".stripMargin),
    Gate("q_bm25", (s, d) => {
      // Okapi BM25 term scoring (rational-idf gated variant); corpus stats
      // from the whole table, output filtered to the first 20 docs
      operators.TextOps.bm25(s.table("documents"), "doc_id", "text")
        .filter(col("doc_id") < 20)
        .orderBy(col("doc_id"), col("term"))
    },
      // Replays TextOps.bm25's rational-idf arithmetic with the exact same
      // IEEE operation order (every literal ::DOUBLE, parens mirroring the
      // Column expression tree); n counts all docs, sum_dl all token rows.
      s"""WITH $duckToks,
         |tf AS (SELECT doc_id, w AS term, count(*) AS tf FROM toks GROUP BY doc_id, w),
         |dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY doc_id),
         |dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
         |c AS (SELECT (SELECT count(*) FROM documents) AS n,
         |             (SELECT count(*) FROM toks) AS sum_dl)
         |SELECT t.doc_id, t.term, t.tf, l.dl, d.df,
         |  ((CAST(c.n AS DOUBLE) - CAST(d.df AS DOUBLE) + 0.5::DOUBLE)
         |     / (CAST(d.df AS DOUBLE) + 0.5::DOUBLE) + 1.0::DOUBLE)
         |  * (CAST(t.tf AS DOUBLE) * (1.2::DOUBLE + 1.0::DOUBLE))
         |  / (CAST(t.tf AS DOUBLE) + 1.2::DOUBLE * (1.0::DOUBLE - 0.75::DOUBLE
         |       + 0.75::DOUBLE * (CAST(l.dl AS DOUBLE)
         |           / (CAST(c.sum_dl AS DOUBLE) / CAST(c.n AS DOUBLE))))) AS bm25
         |FROM tf t JOIN dl l USING (doc_id) JOIN dfq d USING (term) CROSS JOIN c
         |WHERE t.doc_id < 20
         |ORDER BY t.doc_id, t.term""".stripMargin),
    Gate("q_inverted_index", (s, d) => {
      // term → df + "doc:tf" postings, hapax tail pruned at df >= 5
      operators.Freq.invertedIndex(s.table("documents"), "doc_id", "text",
          minDf = 5L)
        .orderBy(col("term"))
    },
      s"""WITH $duckToks,
         |tf AS (SELECT w AS term, doc_id, count(*) AS tf FROM toks GROUP BY w, doc_id)
         |SELECT term, count(*) AS df,
         |  string_agg(doc_id::VARCHAR || ':' || tf::VARCHAR, ' ' ORDER BY doc_id) AS postings
         |FROM tf GROUP BY term HAVING count(*) >= 5
         |ORDER BY term""".stripMargin),
    Gate("q_repetition", (s, d) => {
      // Gopher-style repeated-n-gram quality signal; pure per-row
      operators.TextOps.repetitionStats(s.table("documents"), "doc_id", "text", n = 3)
        .orderBy(col("doc_id"))
    },
      s"""WITH $duckShingles,
         |tot AS (SELECT doc_id, count(*) AS n FROM sh0 GROUP BY doc_id),
         |dis AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
         |SELECT d.doc_id,
         |  CAST(coalesce(t.n, 0) AS INT) AS n_ngrams,
         |  CAST(coalesce(di.n, 0) AS INT) AS n_distinct,
         |  CASE WHEN coalesce(t.n, 0) > 0
         |       THEN 1.0::DOUBLE - CAST(di.n AS DOUBLE) / CAST(t.n AS DOUBLE)
         |       ELSE 0.0::DOUBLE END AS rep_ratio
         |FROM documents d
         |LEFT JOIN tot t ON t.doc_id = d.doc_id
         |LEFT JOIN dis di ON di.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_quality_rules", (s, d) => {
      // Gopher-style rule-based quality filter: per-document rule metrics
      // plus the conjunctive keep flag; pure per-row, no shuffle
      operators.TextOps.qualityRules(s.table("documents"), "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Replays TextOps.qualityRules: same whitespace class (spelled out — no
      // \s, whose membership differs between Java regex and RE2), same rule
      // thresholds, same guarded IEEE divisions.
      s"""WITH pre AS (
         |  SELECT doc_id, text,
         |    list_filter(string_split_regex(text, '[ \\t\\n\\r\\f]+'), w -> w <> '') AS words,
         |    string_split(text, chr(10)) AS lines,
         |    list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '') AS toks
         |  FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(words) AS INT) AS n_words,
         |    CAST(len(lines) AS INT) AS n_lines,
         |    CAST(length(regexp_replace(text, '[ \\t\\n\\r\\f]', '', 'g')) AS INT) AS sum_lens,
         |    CAST(len(regexp_extract_all(text, '#|\\.\\.\\.')) AS INT) AS n_sym,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '^[ \\t]*[-*\u2022]'))) AS INT) AS n_bullet,
         |    CAST(len(list_filter(lines, l -> regexp_matches(l, '\\.\\.\\.[ \\t]*$$'))) AS INT) AS n_ellipsis,
         |    CAST(len(list_filter(words, w -> regexp_matches(w, '[A-Za-z]'))) AS INT) AS n_alpha,
         |    CAST(len(list_filter(toks, w -> list_contains($duckStopwordsEn, w))) AS INT) AS stop_hits
         |  FROM pre
         |), v AS (
         |  SELECT doc_id, n_words,
         |    CASE WHEN n_words > 0 THEN CAST(sum_lens AS DOUBLE)/CAST(n_words AS DOUBLE) ELSE 0.0::DOUBLE END AS mean_word_len,
         |    CASE WHEN n_words > 0 THEN CAST(n_sym AS DOUBLE)/CAST(n_words AS DOUBLE) ELSE 0.0::DOUBLE END AS symbol_ratio,
         |    CAST(n_bullet AS DOUBLE)/CAST(n_lines AS DOUBLE) AS bullet_frac,
         |    CAST(n_ellipsis AS DOUBLE)/CAST(n_lines AS DOUBLE) AS ellipsis_frac,
         |    CASE WHEN n_words > 0 THEN CAST(n_alpha AS DOUBLE)/CAST(n_words AS DOUBLE) ELSE 0.0::DOUBLE END AS alpha_frac,
         |    stop_hits
         |  FROM m
         |)
         |SELECT doc_id, n_words, mean_word_len, symbol_ratio, bullet_frac,
         |  ellipsis_frac, alpha_frac, stop_hits,
         |  (n_words BETWEEN 50 AND 100000
         |    AND mean_word_len BETWEEN 3.0::DOUBLE AND 10.0::DOUBLE
         |    AND symbol_ratio < 0.1::DOUBLE
         |    AND bullet_frac < 0.9::DOUBLE
         |    AND ellipsis_frac < 0.3::DOUBLE
         |    AND alpha_frac > 0.8::DOUBLE
         |    AND stop_hits >= 2) AS keep
         |FROM v ORDER BY doc_id""".stripMargin),
    Gate("q_clean_text", (s, d) => {
      // corpus cleaning pass: tag strip, URL/email redaction, control-char
      // removal, whitespace collapse — the standard pre-dedup normalizer
      s.table("documents").select(
        col("doc_id"),
        operators.TextOps.cleanText(col("text")).as("clean_text"))
        .orderBy(col("doc_id"))
    },
      // Replays TextOps.cleanText verbatim — every pattern uses only
      // constructs with identical Java-regex/RE2 semantics.
      """SELECT doc_id,
        |  trim(regexp_replace(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
        |    '<[^>]*>', ' ', 'g'),
        |    'https?://[^ \t\n\r\f]+', '<URL>', 'g'),
        |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
        |    '[\x00-\x08\x0b\x0e-\x1f\x7f]', '', 'g'),
        |    '[ \t\n\r\f]+', ' ', 'g')) AS clean_text
        |FROM documents ORDER BY doc_id""".stripMargin),
    Gate("q_pii_stats", (s, d) => {
      // PII scrubbing pass, detection side: deterministic synthetic PII
      // (email/SSN/phone/IP derived from doc_id) spliced into real text —
      // the oracle replays the same construction, so the regex semantics
      // themselves are what's compared. Every 5th doc stays clean.
      operators.Pii.piiStats(
          s.table("documents").select(col("doc_id"), piiTestText.as("text")),
          "doc_id", "text")
        .orderBy(col("doc_id"))
    },
      // Replays Pii.piiStats over the synthetic-PII corpus: identical
      // construction (duckPii ≡ piiTestText), identical patterns — all
      // constructs with the same Java-regex/RE2 semantics.
      s"""WITH $duckPii
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS INT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b')) AS INT) AS n_ssns,
         |  CAST(len(regexp_extract_all(text, '(\\([0-9]{3}\\) |\\b[0-9]{3}-)[0-9]{3}-[0-9]{4}\\b')) AS INT) AS n_phones,
         |  CAST(len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS INT) AS n_ips,
         |  (len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}'))
         |   + len(regexp_extract_all(text, '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b'))
         |   + len(regexp_extract_all(text, '(\\([0-9]{3}\\) |\\b[0-9]{3}-)[0-9]{3}-[0-9]{4}\\b'))
         |   + len(regexp_extract_all(text, '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) > 0) AS has_pii
         |FROM pii ORDER BY doc_id""".stripMargin),
    Gate("q_pii_redact", (s, d) => {
      // PII scrubbing pass, redaction side: same synthetic corpus, full
      // placeholder-replacement chain
      s.table("documents").select(
          col("doc_id"),
          operators.Pii.redact(piiTestText).as("redacted"))
        .orderBy(col("doc_id"))
    },
      s"""WITH $duckPii
         |SELECT doc_id,
         |  regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
         |    '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
         |    '\\b[0-9]{3}-[0-9]{2}-[0-9]{4}\\b', '<SSN>', 'g'),
         |    '(\\([0-9]{3}\\) |\\b[0-9]{3}-)[0-9]{3}-[0-9]{4}\\b', '<PHONE>', 'g'),
         |    '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', '<IP>', 'g') AS redacted
         |FROM pii ORDER BY doc_id""".stripMargin),
    Gate("q_k_anonymity", (s, d) => {
      // k-anonymity screen (Pii.kAnonymity) on documents: quasi-
      // identifiers (lang, source, 500-char length bucket); class sizes
      // + below-k flag at k=5. One hash-agg + key-reusing join — no
      // window over the fact table.
      operators.Pii.kAnonymity(
          s.table("documents").select(col("doc_id"), col("lang"),
            col("source"),
            floor(col("n_chars").cast("double") / 500.0).cast("bigint")
              .as("len_bucket")),
          Seq("lang", "source", "len_bucket"), k = 5)
        .select("doc_id", "lang", "source", "len_bucket", "anon_set",
          "below_k")
        .orderBy("doc_id")
    },
      // Replays Pii.kAnonymity on the (lang, source, 500-char bucket) QI:
      // class sizes via GROUP BY, joined back null-safely (IS NOT DISTINCT
      // FROM) so a NULL QI forms its own class — mirroring the <=> join.
      """WITH base AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(CAST(n_chars AS DOUBLE) / 500.0) AS BIGINT) AS len_bucket
        |  FROM documents
        |), sizes AS (
        |  SELECT lang, source, len_bucket, count(*) AS anon_set
        |  FROM base GROUP BY lang, source, len_bucket
        |)
        |SELECT b.doc_id, b.lang, b.source, b.len_bucket, s.anon_set,
        |  s.anon_set < 5 AS below_k
        |FROM base b JOIN sizes s
        |  ON b.lang IS NOT DISTINCT FROM s.lang
        | AND b.source IS NOT DISTINCT FROM s.source
        | AND b.len_bucket IS NOT DISTINCT FROM s.len_bucket
        |ORDER BY doc_id""".stripMargin),
    Gate("q_l_diversity", (s, d) => {
      // l-diversity companion: distinct sources per (lang, length-bucket)
      // class; below-l flag at l=2
      operators.Pii.lDiversity(
          s.table("documents").select(col("doc_id"), col("lang"),
            col("source"),
            floor(col("n_chars").cast("double") / 500.0).cast("bigint")
              .as("len_bucket")),
          Seq("lang", "len_bucket"), "source", l = 2)
        .select("doc_id", "lang", "len_bucket", "distinct_sensitive",
          "below_l")
        .orderBy("doc_id")
    },
      """WITH base AS (
        |  SELECT doc_id, lang, source,
        |    CAST(floor(CAST(n_chars AS DOUBLE) / 500.0) AS BIGINT) AS len_bucket
        |  FROM documents
        |), div AS (
        |  SELECT lang, len_bucket, count(DISTINCT source) AS distinct_sensitive
        |  FROM base GROUP BY lang, len_bucket
        |)
        |SELECT b.doc_id, b.lang, b.len_bucket, d.distinct_sensitive,
        |  d.distinct_sensitive < 2 AS below_l
        |FROM base b JOIN div d
        |  ON b.lang IS NOT DISTINCT FROM d.lang
        | AND b.len_bucket IS NOT DISTINCT FROM d.len_bucket
        |ORDER BY doc_id""".stripMargin),
    Gate("q_pack", (s, d) => {
      // concat-and-chunk sequence packing: 8 shards, 512-token packs,
      // whitespace token counts as the length measure
      val withLen = s.table("documents").select(
        col("doc_id"),
        (col("doc_id") % 8).cast("int").as("shard"),
        operators.TextOps.tokenCount(col("text")).as("n_tokens"))
      operators.Packing.packAssignments(withLen, "doc_id", "n_tokens", "shard", 512L)
        .orderBy(col("doc_id"))
    },
      // CAST around the window sum: DuckDB sum(INTEGER) returns HUGEINT
      """WITH base AS (
        |  SELECT doc_id,
        |    CAST(doc_id % 8 AS INT) AS shard,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS INT) AS n_tokens
        |  FROM documents
        |), cum AS (
        |  SELECT doc_id, shard, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      - CAST(n_tokens AS BIGINT) AS token_start
        |  FROM base
        |)
        |SELECT doc_id, shard, n_tokens, token_start,
        |  token_start // 512 AS pack_id,
        |  token_start % 512 AS offset_in_pack
        |FROM cum ORDER BY doc_id""".stripMargin),
    Gate("q_contamination", (s, d) => {
      // decontamination pass: 8-gram overlap against a probe "benchmark"
      // set (every 20th doc stands in for the eval corpus)
      val docs = s.table("documents")
      val probes = docs.filter(col("doc_id") % 20 === 0)
      operators.TextOps.contamination(docs, "doc_id", "text", probes, "text", n = 8)
        .orderBy(col("doc_id"))
    },
      s"""WITH ${duckShinglesN(8)},
         |probe AS (SELECT DISTINCT shingle FROM shn WHERE doc_id % 20 = 0),
         |hits AS (
         |  SELECT s.doc_id, count(*) AS n_contaminated
         |  FROM shn s JOIN probe p ON p.shingle = s.shingle
         |  GROUP BY s.doc_id
         |)
         |SELECT d.doc_id, coalesce(h.n_contaminated, 0) AS n_contaminated
         |FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin),
    Gate("q_chunk", (s, d) => {
      // context-window prep: 32-token chunks with 8-token overlap
      operators.TextOps.chunks(s.table("documents"), "doc_id", "text",
          chunkSize = 32, overlap = 8)
        .orderBy(col("doc_id"), col("chunk_id"))
    },
      // Replays TextOps.chunks at (32, 8): contiguous token rank via
      // row_number (duckToks' pos has gaps where empties were filtered),
      // chunk starts from an integer range, slices re-joined in rank order.
      s"""WITH $duckToks,
         |tr AS (SELECT doc_id, w, row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS rpos FROM toks),
         |nt AS (SELECT doc_id, count(*) AS n FROM tr GROUP BY doc_id),
         |starts AS (
         |  SELECT doc_id, n, unnest(range(0, greatest(n - 8 - 1, 0) + 1, 24)) AS s
         |  FROM nt
         |)
         |SELECT t.doc_id, CAST(s.s // 24 AS INT) AS chunk_id,
         |  CAST(least(32, s.n - s.s) AS INT) AS n_tokens,
         |  string_agg(t.w, ' ' ORDER BY t.rpos) AS chunk_text
         |FROM starts s JOIN tr t
         |  ON t.doc_id = s.doc_id AND t.rpos BETWEEN s.s + 1 AND s.s + 32
         |GROUP BY t.doc_id, s.s, s.n
         |ORDER BY t.doc_id, chunk_id""".stripMargin),
    Gate("q_token_budget", (s, d) => {
      // "best 2000 tokens per language": rank docs by length (proxy
      // score), keep each language's prefix within the token budget; the
      // crossing doc is kept (partial fill). Token count binds in its own
      // projection (HOF rule)
      val toks = s.table("documents").select(
        col("doc_id"), col("lang"), col("n_chars"),
        operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      operators.Batching.tokenBudgetSelect(toks, Seq("lang"),
          "n_tokens", "n_chars", "doc_id", budget = 2000L)
        .select(col("doc_id"), col("lang"), col("n_tokens"), col("cum_tokens"))
        .orderBy(col("doc_id"))
    },
      // Replays Batching.tokenBudgetSelect: same score-desc/doc-id window
      // order, keep while tokens_before (= cum − n) < budget
      """WITH toks AS (
        |  SELECT doc_id, lang, n_chars,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, lang, n_tokens,
        |    CAST(sum(n_tokens) OVER (PARTITION BY lang
        |      ORDER BY n_chars DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum_tokens
        |  FROM toks)
        |SELECT doc_id, lang, n_tokens, cum_tokens
        |FROM r WHERE cum_tokens - n_tokens < 2000
        |ORDER BY doc_id""".stripMargin),
    Gate("q_length_buckets", (s, d) => {
      // padding-efficiency ladder over whitespace token counts; the token
      // count binds in its own projection so the bucket CASE/least/greatest
      // reuse one computed value (HOF-binding rule, NOTES.md)
      val toks = s.table("documents").select(col("doc_id"),
        operators.TextOps.tokenCount(col("text")).cast("long").as("n_tokens"))
      operators.Batching.bucketStats(toks, "n_tokens", Seq(16L, 32L, 64L, 128L))
        .orderBy(col("seq_bucket"))
    },
      // Replays Batching.bucketStats: same whitespace tokenization as
      // q_token_count, same CASE ladder, pure integer arithmetic throughout
      // (sums cast out of DuckDB's HUGEINT)
      """WITH toks AS (
        |  SELECT doc_id,
        |    CAST(len(list_filter(string_split_regex(lower(text), '[^a-z0-9]+'), w -> w <> '')) AS BIGINT) AS n_tokens
        |  FROM documents),
        |b AS (
        |  SELECT n_tokens,
        |    CASE WHEN n_tokens <= 16 THEN 16 WHEN n_tokens <= 32 THEN 32
        |         WHEN n_tokens <= 64 THEN 64 ELSE 128 END AS seq_bucket
        |  FROM toks)
        |SELECT CAST(seq_bucket AS BIGINT) AS seq_bucket, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS raw_tokens,
        |  CAST(sum(least(n_tokens, seq_bucket)) AS BIGINT) AS stored_tokens,
        |  CAST(sum(greatest(seq_bucket - n_tokens, 0)) AS BIGINT) AS padding_tokens
        |FROM b GROUP BY seq_bucket ORDER BY seq_bucket""".stripMargin),
    // Vocabulary + count-min sketch (operators/Freq.scala)
    Gate("q_vocab_topk", (s, d) => {
      operators.Freq.vocabulary(s.table("documents"), "text", 100)
    },
      s"""WITH $duckToks
         |SELECT w AS token, count(*) AS cnt FROM toks
         |GROUP BY 1 ORDER BY cnt DESC, token ASC LIMIT 100""".stripMargin),
    Gate("q_cms_estimate", (s, d) => {
      import org.apache.spark.sql.functions.{count => countf, lit => litf}
      val docs = s.table("documents")
      // one tokenization shared by the sketch build AND the top-20 item
      // pick (vocabulary() would re-tokenize); registered for harness release
      val toks = graft.CacheScope.register(docs.select(
        explode(operators.TextOps.tokens(col("text"))).as("token")).cache())
      val sketch = operators.Freq.countMinSketch(toks, "token",
        depth = 4, width = 512)
      val items = toks.groupBy(col("token"))
        .agg(countf(litf(1)).as("c"))
        .orderBy(desc("c"), col("token").asc).limit(20).select("token")
      operators.Freq.cmsEstimate(sketch, items, "token", depth = 4, width = 512)
        .orderBy(col("token"))
    },
      s"""WITH $duckToks,
         |tk AS (SELECT w AS token FROM toks),
         |grid AS (
         |  SELECT i, CAST('0x' || substr(md5(token), 1 + 8*i, 8) AS BIGINT) % 512 AS bucket,
         |         count(*) AS cnt
         |  FROM tk CROSS JOIN generate_series(0, 3) g(i)
         |  GROUP BY 1, 2
         |),
         |items AS (
         |  SELECT token FROM (
         |    SELECT token, count(*) AS c FROM tk GROUP BY 1
         |    ORDER BY c DESC, token ASC LIMIT 20)
         |),
         |h AS (
         |  SELECT token, i, CAST('0x' || substr(md5(token), 1 + 8*i, 8) AS BIGINT) % 512 AS bucket
         |  FROM items CROSS JOIN generate_series(0, 3) g(i)
         |)
         |SELECT token, min(coalesce(cnt, 0)) AS est_cnt
         |FROM h LEFT JOIN grid USING (i, bucket)
         |GROUP BY token ORDER BY token""".stripMargin)
  )
}
