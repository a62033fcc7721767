package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * tokenization, token counting, quality scoring, language ID, and document
  * fingerprinting. All are pure column expressions (whole-stage-codegen
  * friendly, no UDFs) and deterministic, so they parallelize trivially:
  * each is a per-row map over the corpus with no shuffle.
  */
object TextOps {

  /** Tokenizer shared by every text operator: lowercase, split on runs of
    * non-alphanumerics, drop empties. Keep in sync with the DuckDB oracle
    * (`string_split_regex(lower(text), '[^a-z0-9]+')`). */
  val TokenSplitRe = "[^a-z0-9]+"

  def tokens(text: Column): Column =
    filter(split(lower(text), TokenSplitRe), w => w =!= "")

  def tokenCount(text: Column): Column = size(tokens(text))

  /** GPT-2-style pre-tokenizer pattern, simplified to constructs whose
    * match semantics agree between Java regex and RE2-family engines
    * (letter runs, digit runs, punctuation runs, whitespace runs — each
    * with an optional leading space). Kept in sync with the DuckDB oracle. */
  val BpeSplitRe: String = " ?[a-zA-Z]+| ?[0-9]+| ?[^a-zA-Z0-9\\s]+|\\s+"

  /** Fast pre-tokenizer segment count — the cheap screening variant. For
    * true merge-table BPE counting use [[graft.functions.BpeFunctions.bpeCount]]
    * (`bpe_count(text)` in SQL), which applies a learned merge table per
    * segment; this one stops at the segment split. */
  def bpeTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit(BpeSplitRe), lit(0)))

  /** Characters that are neither alphanumeric nor blank, after lowering —
    * a cheap punctuation/noise measure. */
  def punctCount(text: Column): Column =
    length(regexp_replace(lower(text), "[a-z0-9 ]", ""))

  def stopwordCount(text: Column, stopwords: Seq[String]): Column =
    size(filter(tokens(text), w => w.isin(stopwords.map(lit): _*)))

  /** Tiny per-language profiles of very frequent function words. Public
    * knowledge (standard stopword lists), intentionally small. */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "is", "a"),
    "de" -> Seq("der", "die", "und", "das", "ist", "nicht", "ein"),
    "fr" -> Seq("le", "la", "et", "les", "des", "un", "est"),
    "es" -> Seq("el", "los", "de", "y", "que", "una", "es"),
    "zh" -> Seq("de", "shi", "bu", "le", "wo", "zai", "you")
  )

  /** n-gram-heuristic language ID: score each profile by stopword hits and
    * take the first maximal score (fixed tie-break order — deterministic). */
  def langId(text: Column): Column = langIdFromToks(tokens(text))

  /** langId over an already-bound token array (the single source of the
    * tie-break fold — [[textStats]] shares one tokenization through it). */
  def langIdFromToks(toks: Column): Column = {
    val scores = LangProfiles.map { case (lang, words) =>
      lang -> stopCountArr(toks, words)
    }
    val best = scores.map(_._2).reduce((a, b) => greatest(a, b))
    scores.foldRight(lit("und"): Column) { case ((lang, s), acc) =>
      when(s === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Composite quality score in [0,1]:
    * length saturation × (1 − punctuation ratio) × stopword presence boost.
    * Deterministic double arithmetic — the DuckDB oracle mirrors the exact
    * expression tree. */
  def qualityScore(text: Column): Column =
    qualityScoreFromToks(text, tokens(text))

  /** qualityScore over an already-bound token array (single source of the
    * formula; shared by [[textStats]]). */
  def qualityScoreFromToks(text: Column, toks: Column): Column = {
    val nTok = size(toks).cast("double")
    val nChar = length(text).cast("double")
    val punct = punctCount(text).cast("double")
    val stop = stopCountArr(toks, LangProfiles.head._2).cast("double")
    val lenScore = least(lit(1.0), nTok / lit(100.0))
    val punctRatio = when(nChar > 0, punct / nChar).otherwise(lit(0.0))
    val stopRatio = when(nTok > 0, stop / nTok).otherwise(lit(0.0))
    lenScore * (lit(1.0) - punctRatio) * (lit(0.5) + lit(0.5) * stopRatio)
  }

  /** (id, shingle) pairs — distinct word n-grams per document. The shared
    * substrate for fingerprinting, MinHash and n-gram Jaccard dedup.
    *
    * Built entirely with per-row array expressions (tokenize → slide →
    * `array_distinct` → explode): zero shuffles, no window sort, no global
    * distinct — the shingle set is assembled inside the row that owns the
    * document, so the operator scales with corpus bytes, not with a
    * (doc_id-skewed) token shuffle. Requires `idCol` to be unique per row
    * (true for any keyed document table). */
  def shingles(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame =
    shingleSets(df, idCol, textCol, n)
      .select(col(idCol), explode(col("shingles")).as("shingle"))

  /** The sliding word-n-gram array over a tokens column (empty when fewer
    * than n tokens). Retained as the declarative REFERENCE implementation —
    * the hot paths use the codegen'd [[graft.functions.WordShingles]]
    * kernel, whose bit-parity with this chain is property-tested in
    * `ShingleSpec`. */
  private[graft] def shingleArray(toks: Column, n: Int): Column = {
    val arr = transform(
      sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(j => element_at(toks, i + lit(j))): _*))
    when(size(toks) >= n, arr).otherwise(array().cast("array<string>"))
  }

  /** One row per document with its distinct shingle set and its size —
    * the set form dedup verification joins on (one `array_intersect` per
    * candidate pair instead of re-exploding posting lists).
    *
    * Hash-repartitions by `idCol` before the (interpreted-HOF-heavy)
    * shingle assembly: it spreads per-document work across all cores even
    * when the input is a single parquet file, and the resulting
    * hashpartitioning(id) already satisfies every downstream per-doc
    * distribution (minhash `groupBy(id)`, prefix windows, verification
    * joins on id) — so the one shuffle here replaces several later ones. */
  def shingleSets(df: DataFrame, idCol: String, textCol: String, n: Int = 3): DataFrame = {
    require(n >= 1)
    df.repartition(col(idCol))
      .select(col(idCol),
        graft.functions.ShingleFunctions.wordShingles(col(textCol), n).as("shingles"))
      .select(col(idCol), col("shingles"), size(col("shingles")).as("n_shingles"))
  }

  /** Rolling-hash-style document fingerprint: minimum md5 over the word
    * 3-gram shingles (md5 of the whole text for very short docs). Equal
    * fingerprints ⇒ near-identical leading content.
    *
    * Entirely per-row (`array_min` over the hashed shingle array): no
    * explode, no groupBy, no join — a pure map over the corpus. min is
    * duplicate-insensitive, so the distinct pass is skipped too. */
  def fingerprints(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), md5(lower(col(textCol))).as("__whole"),
        // codegen'd one-pass assembly; bound so the md5 transform walks a
        // materialized array (min is duplicate-insensitive → distinct ok)
        graft.functions.ShingleFunctions.wordShingles(col(textCol), 3).as("__sh"))
      .select(
        col(idCol),
        coalesce(
          array_min(transform(col("__sh"), s => md5(s))),
          col("__whole")).as("fingerprint"))

  /** Occurrence count of a small word set inside an already-tokenized
    * array — lets one regex tokenization feed every downstream count. */
  private def stopCountArr(toks: Column, stopwords: Seq[String]): Column =
    size(filter(toks, w => w.isin(stopwords.map(lit): _*)))

  /** Per-document n-gram repetition stats — the Gopher-style repetitiousness
    * quality signal (documents dominated by repeated n-grams are boilerplate
    * or spam): total n-gram occurrences, distinct n-grams, and
    * `rep_ratio = 1 − distinct/total` (0 for documents shorter than n).
    *
    * Pure per-row array arithmetic: no explode, no shuffle — scales with
    * corpus bytes like the other text stats. */
  def repetitionStats(df: DataFrame, idCol: String, textCol: String,
                      n: Int = 3): DataFrame = {
    require(n >= 1)
    // one codegen'd kernel pass builds the (non-distinct) shingle array;
    // bound so both sizes read the same materialized array
    df.select(col(idCol),
        graft.functions.ShingleFunctions.wordShingles(col(textCol), n,
          distinct = false).as("__sh"))
      .select(col(idCol),
        size(col("__sh")).as("n_ngrams"),
        size(array_distinct(col("__sh"))).as("n_distinct"))
      .withColumn("rep_ratio",
        when(col("n_ngrams") > 0,
          lit(1.0) - col("n_distinct").cast("double") / col("n_ngrams").cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Train/test contamination check: for every document, how many distinct
    * n-grams of the (small) probe corpus — a benchmark/eval set — it
    * contains. The standard decontamination pass before training
    * (GPT-3/Gopher-style 8–13-gram overlap).
    *
    * Scale design: the probe n-gram set is benchmark-sized, so it
    * BROADCASTS; the corpus side is one shingle explode + one map-side
    * combinable count per doc — no corpus self-join, no global distinct of
    * corpus n-grams. Docs with zero hits come back with 0 via the final
    * left join (broadcast-able whenever the hit list is small). */
  def contamination(docs: DataFrame, idCol: String, textCol: String,
                    probes: DataFrame, probeTextCol: String,
                    n: Int = 8): DataFrame = {
    require(n >= 1)
    // persisted before the explode — the InferFiltersFromGenerate trap
    // (NOTES.md): exploding a COMPUTED array gets inferred filters that
    // inline the whole shingle-assembly expression and push below the
    // exchange onto the raw scan's single partition, re-evaluating the
    // assembly serially per inferred predicate (measured 47s vs 2s at
    // sf0.1). The persist materializes the arrays once, in parallel.
    val sets = graft.CacheScope.persist(shingleSets(docs, idCol, textCol, n))
    val docSh = sets.select(col(idCol), explode(col("shingles")).as("shingle"))
    val probeSh = probes
      .select(explode(graft.functions.ShingleFunctions
        .wordShingles(col(probeTextCol), n)).as("shingle"))
      .distinct()
    val hits = docSh.join(broadcast(probeSh), "shingle")
      .groupBy(col(idCol)).agg(count(lit(1)).as("n_contaminated"))
    docs.select(col(idCol))
      .join(hits, Seq(idCol), "left")
      .na.fill(0L, Seq("n_contaminated"))
  }

  /** Banned-term screen — the standard corpus-cleaning gate (unsafe
    * words, PII keywords, spam markers): per document, which blocklist
    * terms appear, how many distinct terms hit, how many token
    * OCCURRENCES hit, and a `blocked` flag.
    *
    * Matching is on the shared [[tokens]] tokenizer (lowercased,
    * alphanumeric runs), so "Slow!" matches the term "slow" — substring
    * false-positives ("class" hitting "ass") are impossible by
    * construction. Terms are lowercased and deduped; a term containing a
    * non-alphanumeric character can never match a token and is dropped
    * with a require (caller error, not silent).
    *
    * Scale design: the blocklist rides along as a LITERAL array (fine up
    * to ~10⁴ terms — the broadcast-variable regime; for a million-entry
    * list, explode tokens and semi-join a terms table instead), so the
    * whole screen is a zero-shuffle per-row map: `array_intersect` of
    * the doc's distinct tokens against the term array plus one
    * higher-order occurrence count — no explode, no join, no shuffle at
    * any corpus size. Emits (idCol, `hit_terms` — comma-joined sorted,
    * `n_hit_terms`, `n_hit_tokens`, `blocked`). */
  def blocklistScreen(df: DataFrame, idCol: String, textCol: String,
                      terms: Seq[String], maxHitTerms: Int = 0): DataFrame = {
    require(terms.nonEmpty, "blocklistScreen needs at least one term")
    require(maxHitTerms >= 0, s"maxHitTerms must be >= 0, got $maxHitTerms")
    val cleaned = terms.map(_.toLowerCase).distinct
    val bad = cleaned.filter(!_.matches("[a-z0-9]+"))
    require(bad.isEmpty,
      s"blocklist terms must be single alphanumeric tokens; got: ${bad.mkString(", ")}")
    Guards.requireNoReserved(df.columns,
      Seq("hit_terms", "n_hit_terms", "n_hit_tokens", "blocked", "__toks"),
      "TextOps.blocklistScreen")
    val termArr = array(cleaned.sorted.map(lit): _*)
    df.withColumn("__toks", tokens(col(textCol)))
      .select(col(idCol),
        array_join(array_sort(array_intersect(
          array_distinct(col("__toks")), termArr)), ",").as("hit_terms"),
        size(array_intersect(array_distinct(col("__toks")), termArr))
          .cast("long").as("n_hit_terms"),
        size(filter(col("__toks"), t => array_contains(termArr, t)))
          .cast("long").as("n_hit_tokens"))
      .withColumn("blocked", col("n_hit_terms") > maxHitTerms.toLong)
  }

  /** TF-IDF term scores per document — the standard keyword/relevance
    * primitive for corpus analysis and quality filtering.
    *
    * Two idf variants:
    *  - `logIdf = false` (default): rational idf `(N+1)/(df+1)` — pure IEEE
    *    division, bit-reproducible across engines (the oracle-gated path).
    *  - `logIdf = true`: the textbook `ln((N+1)/(df+1)) + 1` — same ranking
    *    per term (ln is monotone), spec-tested (cross-engine libm `ln` may
    *    differ in the last ulp, so it is not oracle-gated).
    *
    * Scale design: the documents hash-partition by id once, so the tf
    * count on (doc, term) needs no further exchange and its rows stay
    * partitioned by document for per-document consumers
    * ([[tfidfCosinePairs]]' norm fold); df reuses the SAME aggregate
    * output (no second corpus scan) via a per-term count over the tf
    * frame; the (small) per-term df/idf frame broadcasts back onto the tf
    * rows. The corpus is scanned once.
    * Emits (id, term, tf, df, tfidf). */
  def tfidf(df: DataFrame, idCol: String, textCol: String,
            logIdf: Boolean = false, nDocs: Option[Long] = None): DataFrame = {
    val toks = df.select(col(idCol), col(textCol)).repartition(col(idCol))
      .select(col(idCol), explode(tokens(col(textCol))).as("term"))
    val tf = toks.groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"))
    // corpus size: metadata-only on a parquet scan; callers holding a
    // computed frame pass nDocs to skip the extra job
    val n = nDocs.getOrElse(df.count())
    // df counts the (doc, term) groups: sum(least(tf, 1)) equals count(1)
    // since tf >= 1, but it reads `tf`, so column pruning leaves this
    // branch on the SAME aggregate as `tf` and its exchange is reused —
    // with count(1) the pruned branch re-ran the tokenize and the (doc,
    // term) shuffle
    val dfreq = tf.groupBy(col("term"))
      .agg(sum(least(col("tf"), lit(1L))).as("df"))
    val rawIdf = (lit(n + 1.0)) / (col("df") + lit(1.0))
    val idf = if (logIdf) log(rawIdf) + lit(1.0) else rawIdf
    tf.join(broadcast(dfreq.withColumn("idf", idf)), "term")
      .select(col(idCol), col("term"), col("tf"), col("df"),
        (col("tf") * col("idf")).as("tfidf"))
  }

  /** Weighted lexical cosine pair mining — TF-IDF cosine over shared
    * terms, the similarity modality between set-based MinHash/Jaccard
    * (ignores weights) and embedding cosine (needs vectors): near-dup
    * and template detection where REPEATED distinctive terms matter.
    * Emits (`id_a`, `id_b`, `n_shared`, `cosine`) for pairs with
    * cosine ≥ `threshold`.
    *
    * Scale shape: candidates come from the posting-list equi-join on the
    * term — pair volume is Σ df² per term, so `maxDf` PRUNES stopword
    * postings before the join (the classic lexical-pair bound; a term in
    * half the corpus contributes pairs quadratically and ~zero idf
    * signal). Norms and dots are per-doc/per-pair TERM-ORDERED folds
    * over collected weight lists (state bounded by doc/shared terms) —
    * never an unordered float sum; with the rational idf there is no
    * `ln` anywhere, so results are bit-exact with NO rounding. */
  def tfidfCosinePairs(df: DataFrame, idCol: String, textCol: String,
                       threshold: Double, maxDf: Long = Long.MaxValue,
                       nDocs: Option[Long] = None,
                       maxPairs: Long = Guards.DefaultMaxCandidatePairs): DataFrame = {
    require(threshold >= 0.0, s"threshold must be >= 0, got $threshold")
    require(maxDf >= 1, s"maxDf must be >= 1, got $maxDf")
    def foldSq(lst: Column): Column =
      aggregate(transform(lst, t => t.getField("__w") * t.getField("__w")),
        lit(0.0), (acc, x) => acc + x)
    // one row per document until the posting join: its term-ordered weight
    // list gives the norm once, and the postings explode back out of that
    // row carrying `__norm`, so no norm aggregate is joined back per pair.
    // The norm is bound BEFORE the explode: in the generator's own select
    // it would fold, and copy the list, once per output row
    val postings = tfidf(df, idCol, textCol, logIdf = false, nDocs = nDocs)
      .filter(col("df") <= maxDf)
      .groupBy(col(idCol))
      .agg(sort_array(collect_list(struct(col("term"), col("tfidf").as("__w"))))
        .as("__ts"))
      .select(col(idCol), col("__ts"), sqrt(foldSq(col("__ts"))).as("__norm"))
      .select(col(idCol), col("__norm"), explode(col("__ts")).as("__t"))
      .select(col(idCol), col("__t.term").as("term"), col("__t.__w").as("__w"),
        col("__norm"))
    // persisted: consumed by BOTH posting-join sides. The pair budget sits
    // inside the persist, so its posting-size aggregate runs once while the
    // cache builds. The budget backstops maxDf: with the default maxDf = ∞
    // a stopword posting is pair-quadratic, and even a tuned maxDf can
    // flood on replica corpora.
    val weights = graft.CacheScope.persist(Guards.pairBudget(postings,
      Seq("term"), maxPairs, "TextOps.tfidfCosinePairs"))
    val a = weights.select(col(idCol).as("id_a"), col("term"),
      col("__w").as("__wa"), col("__norm").as("__na"))
    val b = weights.select(col(idCol).as("id_b"), col("term"),
      col("__w").as("__wb"), col("__norm").as("__nb"))
    // the dot fold is an aggregate output, so the threshold filter reads
    // it instead of re-running the fold where it is pushed down
    a.join(b, "term").filter(col("id_a") < col("id_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"),
        aggregate(transform(
            sort_array(collect_list(struct(col("term"), col("__wa"), col("__wb")))),
            t => t.getField("__wa") * t.getField("__wb")),
          lit(0.0), (acc, x) => acc + x).as("__dot"),
        first(col("__na")).as("__na"), first(col("__nb")).as("__nb"))
      .select(col("id_a"), col("id_b"), col("n_shared"),
        (col("__dot") / (col("__na") * col("__nb"))).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** Okapi BM25 term scoring (Robertson et al., TREC-3 — the standard
    * lexical relevance / data-selection score): per (doc, term),
    * `idf · tf·(k1+1) / (tf + k1·(1 − b + b·dl/avgdl))` with document
    * length normalization. Same plan shape as [[tfidf]] — tokenize + one
    * (doc,term) aggregation, a broadcast of the tiny per-term df frame, and
    * a broadcast 1-row corpus-stats frame (n docs, total tokens) — the
    * corpus never reshuffles.
    *
    * `logIdf = false` (default, the oracle-gated path) uses the rational
    * idf `(n − df + ½)/(df + ½) + 1` — the BM25+ style idf argument
    * without the outer `ln`, keeping every operation an IEEE quotient the
    * DuckDB oracle reproduces bit-for-bit (`ln` is correctly-rounded in
    * neither engine). `logIdf = true` applies the classic `ln(...)` for
    * production ranking use.
    */
  def bm25(df: DataFrame, idCol: String, textCol: String,
           k1: Double = 1.2, b: Double = 0.75,
           logIdf: Boolean = false): DataFrame = {
    require(k1 > 0 && b >= 0 && b <= 1, s"need k1>0, b in [0,1]; got k1=$k1 b=$b")
    val withDl = df.select(col(idCol), tokens(col(textCol)).as("__toks"))
      .select(col(idCol), col("__toks"), size(col("__toks")).cast("long").as("dl"))
    val tf = withDl
      .select(col(idCol), col("dl"), explode(col("__toks")).as("term"))
      .groupBy(col(idCol), col("term"))
      .agg(count(lit(1)).as("tf"), first(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val corpus = withDl.agg(count(lit(1)).as("__n"), sum(col("dl")).as("__sum_dl"))
    val joined = tf.join(broadcast(dfreq), "term").crossJoin(broadcast(corpus))
    val nD = col("__n").cast("double")
    val dfD = col("df").cast("double")
    val tfD = col("tf").cast("double")
    val avgdl = col("__sum_dl").cast("double") / nD
    val rawIdf = (nD - dfD + lit(0.5)) / (dfD + lit(0.5)) + lit(1.0)
    val idf = if (logIdf) log(rawIdf) else rawIdf
    val score = idf * (tfD * lit(k1 + 1.0)) /
      (tfD + lit(k1) * (lit(1.0) - lit(b) + lit(b) * (col("dl").cast("double") / avgdl)))
    joined.select(col(idCol), col("term"), col("tf"), col("dl"), col("df"),
      score.as("bm25"))
  }

  /** Whitespace character class shared by the quality rules and the text
    * cleaner. Spelled out (not `\s`) because Java regex includes `\x0B`
    * (vertical tab) in `\s` while RE2-family engines (the DuckDB oracle) do
    * not — an explicit class has identical semantics in both. */
  val WsClass = "[ \\t\\n\\r\\f]"

  /** Gopher-style per-document quality rules (Rae et al. 2021 §A1.1, public
    * heuristics): word-count bounds, mean-word-length bounds, symbol-to-word
    * ratio, bullet-started / ellipsis-ended line fractions, alpha-word
    * fraction, and an English-stopword floor, plus the conjunctive `keep`
    * flag. Words are whitespace-delimited (unlike [[tokens]], which is
    * alphanumeric-run based) to match the published rule definitions.
    *
    * Pure per-row expressions over one bound projection (words, lines,
    * tokens are each materialized once — the HOF-binding rule from
    * NOTES.md); no shuffle, scales with corpus bytes. */
  def qualityRules(df: DataFrame, idCol: String, textCol: String,
                   minWords: Int = 50, maxWords: Int = 100000,
                   minMeanLen: Double = 3.0, maxMeanLen: Double = 10.0,
                   maxSymbolRatio: Double = 0.1, maxBulletFrac: Double = 0.9,
                   maxEllipsisFrac: Double = 0.3, minAlphaFrac: Double = 0.8,
                   minStopHits: Int = 2): DataFrame = {
    val pre = df.select(col(idCol), col(textCol).as("__t"),
      filter(split(col(textCol), WsClass + "+"), w => w =!= "").as("__words"),
      split(col(textCol), "\n").as("__lines"),
      tokens(col(textCol)).as("__toks"))
    val t = col("__t"); val words = col("__words"); val lines = col("__lines")
    val nWords = size(words)
    val nLines = size(lines) // >= 1 always (split never returns empty)
    // sum of word lengths == chars left after deleting all whitespace
    val sumLens = length(regexp_replace(t, WsClass, ""))
    val meanLen = when(nWords > 0,
      sumLens.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val nSym = size(regexp_extract_all(t, lit("#|\\.\\.\\."), lit(0)))
    val symRatio = when(nWords > 0,
      nSym.cast("double") / nWords.cast("double")).otherwise(lit(0.0))
    val bulletFrac = size(filter(lines, l => l.rlike("^[ \\t]*[-*\u2022]")))
      .cast("double") / nLines.cast("double")
    val ellipsisFrac = size(filter(lines, l => l.rlike("\\.\\.\\.[ \\t]*$")))
      .cast("double") / nLines.cast("double")
    val alphaFrac = when(nWords > 0,
      size(filter(words, w => w.rlike("[A-Za-z]"))).cast("double") /
        nWords.cast("double")).otherwise(lit(0.0))
    val stopHits = stopCountArr(col("__toks"), LangProfiles.head._2)
    pre.select(
      col(idCol),
      nWords.as("n_words"),
      meanLen.as("mean_word_len"),
      symRatio.as("symbol_ratio"),
      bulletFrac.as("bullet_frac"),
      ellipsisFrac.as("ellipsis_frac"),
      alphaFrac.as("alpha_frac"),
      stopHits.as("stop_hits"),
      (nWords.between(minWords, maxWords) &&
        meanLen.between(minMeanLen, maxMeanLen) &&
        symRatio < maxSymbolRatio &&
        bulletFrac < maxBulletFrac &&
        ellipsisFrac < maxEllipsisFrac &&
        alphaFrac > minAlphaFrac &&
        stopHits >= minStopHits).as("keep"))
  }

  /** Standard corpus-cleaning pass: strip HTML-ish tags, redact URLs and
    * email addresses to placeholder tokens, drop control characters, and
    * collapse whitespace runs. Every pattern restricts itself to regex
    * constructs with identical semantics in Java regex and RE2-family
    * engines (no `\s`, no lookaround, no backreferences) so the DuckDB
    * oracle replays the chain verbatim. Pure per-row map.
    *
    * The control-char class excludes FF (\x0c) and CR (\x0d): both are
    * declared whitespace in [[WsClass]], so they must survive the deletion
    * pass and collapse to a single space — deleting them would merge words
    * separated by a lone CR (classic-Mac line endings): "a\rb" -> "a b",
    * not "ab". */
  def cleanText(text: Column): Column = {
    val noTags = regexp_replace(text, "<[^>]*>", " ")
    val noUrl = regexp_replace(noTags, "https?://[^ \\t\\n\\r\\f]+", "<URL>")
    val noMail = regexp_replace(noUrl,
      "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", "<EMAIL>")
    val noCtl = regexp_replace(noMail, "[\\x00-\\x08\\x0b\\x0e-\\x1f\\x7f]", "")
    trim(regexp_replace(noCtl, WsClass + "+", " "))
  }

  /** Token-window chunking with overlap — the standard context-window prep
    * for training: document → fixed-size token chunks, consecutive chunks
    * sharing `overlap` tokens. Emits `(id, chunk_id, n_tokens, chunk_text)`;
    * `chunk_id` is the 0-based ordinal, the trailing chunk may be short, and
    * a document with no tokens emits no chunks. Chunk starts are
    * `0, stride, 2·stride, …` (`stride = chunkSize − overlap`) while the
    * start lies inside the token stream.
    *
    * Scale design: per-row array assembly (tokenize once, slice per chunk),
    * then one explode — no shuffle beyond the id repartition that also
    * parallelizes single-file inputs. The bound chunk frame is persisted
    * before the explode: InferFiltersFromGenerate otherwise inlines the
    * whole assembly into a pushed filter below the exchange (the NOTES.md
    * trap — serial re-evaluation on the raw scan). */
  def chunks(df: DataFrame, idCol: String, textCol: String,
             chunkSize: Int = 128, overlap: Int = 32): DataFrame = {
    require(chunkSize >= 1, s"chunkSize must be >= 1, got $chunkSize")
    require(overlap >= 0 && overlap < chunkSize,
      s"overlap must be in [0, chunkSize), got $overlap")
    val stride = chunkSize - overlap
    val toks = col("__toks")
    val starts = when(size(toks) > 0,
      sequence(lit(0), greatest(size(toks) - overlap - 1, lit(0)), lit(stride)))
      .otherwise(array().cast("array<int>"))
    val chunkArr = transform(starts, (s, i) => struct(
      i.as("chunk_id"),
      least(lit(chunkSize), size(toks) - s).as("n_tokens"),
      array_join(slice(toks, s + 1, lit(chunkSize)), " ").as("chunk_text")))
    val bound = graft.CacheScope.persist(
      df.repartition(col(idCol))
        .select(col(idCol), tokens(col(textCol)).as("__toks"))
        .select(col(idCol), chunkArr.as("__chunks")))
    bound.select(col(idCol), explode(col("__chunks")).as("c"))
      .select(col(idCol), col("c.chunk_id").as("chunk_id"),
        col("c.n_tokens").as("n_tokens"), col("c.chunk_text").as("chunk_text"))
  }

  /** Compression-ratio quality signal: `deflate(text).length /
    * text.length` (DEFLATE level 6 via the JDK's `java.util.zip`) — the
    * classic repetitiveness detector (CCNet/RefinedWeb lineage): template
    * spam and boilerplate compress far below prose, and the score needs
    * no language model. Empty text scores 1.0 (nothing to compress).
    *
    * Per-partition `Deflater` reuse (native zlib contexts are the setup
    * cost); deterministic for a fixed JDK zlib, but NOT replayable in a
    * SQL engine — this operator's gate is the rows-only check by design.
    * Emits (idCol, `n_bytes`, `compress_ratio`). */
  def compressionRatio(spark: org.apache.spark.sql.SparkSession,
                       df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(textCol))
      .as[(Long, String)]
      .mapPartitions { iter =>
        val deflater = new java.util.zip.Deflater(6)
        val buf = new Array[Byte](64 * 1024)
        iter.map { case (id, text) =>
          val raw = if (text == null) Array.empty[Byte]
                    else text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
          val ratio = if (raw.isEmpty) 1.0 else {
            deflater.reset()
            deflater.setInput(raw)
            deflater.finish()
            var n = 0L
            while (!deflater.finished()) n += deflater.deflate(buf)
            n.toDouble / raw.length.toDouble
          }
          (id, raw.length.toLong, ratio)
        }
      }
      .toDF(idCol, "n_bytes", "compress_ratio")
  }

  /** Unigram-LM surprisal quality score — the CCNet/Gopher-lineage
    * perplexity filter without an external language model: train
    * `p(token) = gn/G` over the corpus's own global top-`vocabK`
    * vocabulary, then score each document by the mean negative
    * log-likelihood of its IN-VOCAB tokens (nats/token; `exp` of it is
    * the unigram perplexity). Gibberish scores high; boilerplate scores
    * low. Out-of-vocab tokens are excluded from the mean and surfaced as
    * `n_oov` — a high OOV share is its own quality flag. Documents with
    * no in-vocab tokens get NULL surprisal.
    *
    * Determinism (the [[Divergence]] discipline): counts exact; the
    * per-doc log-likelihood folds over the doc's support tokens in
    * ascending token order — one fixed left fold any engine replays —
    * and rounds to 10 decimals to absorb the cross-engine `ln` ulp.
    *
    * Scale shape: one tokenize+count pass (map-side combinable), a
    * `vocabK`-row vocabulary frame that broadcasts, and per-doc folds
    * bounded by the doc's distinct in-vocab tokens — never a corpus-wide
    * collect. Emits (idCol, `n_tokens`, `n_oov`, `surprisal`). */
  def unigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                       vocabK: Int): DataFrame = {
    require(vocabK >= 2, s"need a vocabulary of >= 2 tokens, got $vocabK")
    Guards.requireNoReserved(df.columns,
      Seq("n_tokens", "n_oov", "surprisal", "__ts", "__G", "__n_iv"),
      "unigramSurprisal")
    val counts = df
      .select(col(idCol), explode(tokens(col(textCol))).as("token"))
      .groupBy(col(idCol), col("token")).agg(count(lit(1)).as("n"))
    val vocab = counts.groupBy(col("token")).agg(sum(col("n")).as("gn"))
      .orderBy(col("gn").desc, col("token").asc).limit(vocabK)
    val gTotal = vocab.agg(sum(col("gn")).as("__G"))
    val grouped = counts.join(broadcast(vocab), "token")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("__n_iv"),
        sort_array(collect_list(struct(col("token"), col("n"), col("gn"))))
          .as("__ts"))
      .crossJoin(broadcast(gTotal))
    val ll = aggregate(
      transform(col("__ts"), t => t.getField("n").cast("double") *
        log(t.getField("gn").cast("double") / col("__G").cast("double"))),
      lit(0.0), (acc, x) => acc + x)
    val scored = grouped.select(col(idCol), col("__n_iv"),
      (round(-ll / col("__n_iv").cast("double"), 10) + lit(0.0))
        .as("surprisal"))
    df.select(col(idCol),
        coalesce(tokenCount(col(textCol)), lit(0)).cast("long").as("n_tokens"))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("n_tokens"),
        (col("n_tokens") - coalesce(col("__n_iv"), lit(0L))).as("n_oov"),
        col("surprisal"))
  }

  /** Bigram-LM surprisal — the sequence-aware upgrade of
    * [[unigramSurprisal]]: train add-α-smoothed conditionals
    * `P(w2|w1) = (c(w1,w2) + α) / (c(w1,·) + α·V)` over the corpus's own
    * top-`vocabK` unigram vocabulary, then score each document by the
    * mean negative log-likelihood of its IN-VOCAB adjacent pairs
    * (nats/bigram). A unigram model cannot see scrambled word order —
    * shuffled text keeps its unigram score but spikes here; that gap is
    * the classic gibberish/boilerplate separator. Pairs with either
    * token out-of-vocab are excluded and surfaced as `n_oov_bigrams`;
    * documents with no in-vocab pair get NULL.
    *
    * Determinism ([[Divergence]] discipline): counts exact; the per-doc
    * fold runs over the doc's distinct pairs in ascending (w1, w2)
    * order; one final `round(_, 10)` absorbs the accumulated `ln` ulp.
    *
    * Scale shape: the corpus tokenizes ONCE into a persisted (id,
    * tokens) frame that feeds the pair explode, the vocabulary count,
    * and the per-doc totals; the vocab frame (`vocabK` rows) broadcasts
    * into both membership joins; LHS context totals (≤ `vocabK` rows) broadcast; the one real
    * shuffle joins doc-pair counts to corpus-pair counts on the pair key
    * (both map-side-combinable aggs, co-partitioned equi-join — the
    * corpus bigram frame is too big to broadcast and never needs to).
    * Per-doc fold state is bounded by the doc's distinct pairs. Emits
    * (idCol, `n_bigrams`, `n_oov_bigrams`, `bigram_surprisal`). */
  def bigramSurprisal(df: DataFrame, idCol: String, textCol: String,
                      vocabK: Int, alpha: Double = 0.1): DataFrame = {
    require(vocabK >= 2, s"need a vocabulary of >= 2 tokens, got $vocabK")
    require(alpha > 0.0, s"alpha must be positive, got $alpha")
    Guards.requireNoReserved(df.columns,
      Seq("n_bigrams", "n_oov_bigrams", "bigram_surprisal",
        "__t", "__ts", "__m", "__c12", "__c1", "__n_iv"), "bigramSurprisal")
    // tokenize ONCE: the persisted (id, tokens) frame feeds the pair
    // explode, the vocabulary count, and the per-doc bigram total — the
    // split regex is the dominant per-row cost (textStats precedent)
    val tokFrame = graft.CacheScope.persist(
      df.select(col(idCol), tokens(col(textCol)).as("__t")))
    val pairs = tokFrame
      .filter(size(col("__t")) >= 2)
      .select(col(idCol), explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col(idCol), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val vocab = tokFrame.select(explode(col("__t")).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("gn"))
      .orderBy(col("gn").desc, col("token").asc).limit(vocabK)
      .select(col("token"))
    val inVocab = pairs
      .join(broadcast(vocab.select(col("token").as("w1"))), "w1")
      .join(broadcast(vocab.select(col("token").as("w2"))), "w2")
    val corpusCounts = inVocab.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("__c12"))
    val lhsTotals = corpusCounts.groupBy(col("w1"))
      .agg(sum(col("__c12")).as("__c1"))
    val docPairs = inVocab.groupBy(col(idCol), col("w1"), col("w2"))
      .agg(count(lit(1)).as("__m"))
    val alphaV = lit(alpha) * lit(vocabK.toDouble)
    val joined = docPairs
      .join(corpusCounts, Seq("w1", "w2"))
      .join(broadcast(lhsTotals), "w1")
    val grouped = joined.groupBy(col(idCol))
      .agg(sum(col("__m")).as("__n_iv"),
        sort_array(collect_list(struct(col("w1"), col("w2"), col("__m"),
          col("__c12"), col("__c1")))).as("__ts"))
    val ll = aggregate(
      transform(col("__ts"), t => t.getField("__m").cast("double") *
        log((t.getField("__c12").cast("double") + lit(alpha)) /
          (t.getField("__c1").cast("double") + alphaV))),
      lit(0.0), (acc, x) => acc + x)
    val scored = grouped.select(col(idCol), col("__n_iv"),
      (round(-ll / col("__n_iv").cast("double"), 10) + lit(0.0))
        .as("bigram_surprisal"))
    tokFrame.select(col(idCol),
        greatest(coalesce(size(col("__t")), lit(0)) - 1, lit(0)).cast("long")
          .as("n_bigrams"))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol), col("n_bigrams"),
        (col("n_bigrams") - coalesce(col("__n_iv"), lit(0L)))
          .as("n_oov_bigrams"),
        col("bigram_surprisal"))
  }

  /** Bigram PMI phrase mining: pointwise mutual information
    * `ln(p(a,b) / (p(a)·p(b)))` of the corpus's top-`topK`
    * adjacent-token bigrams — the classic collocation detector
    * (multi-word entities score high PMI; chance co-occurrences of two
    * frequent words score ~0/negative), the signal behind phrase-aware
    * tokenization and boilerplate template discovery.
    *
    * One tokenize pass feeds BOTH count frames: bigrams are the
    * linear-size adjacent zip (never a quadratic window), unigram and
    * bigram counts are map-side-combinable aggs, and only the
    * `topK`-row bigram frame joins (broadcast) the unigram counts. The
    * top-K cut orders (count desc, w1 asc, w2 asc) — deterministic at
    * the boundary. The single `ln` rounds to 10 decimals (cross-engine
    * ulp, the [[Divergence]] rationale); everything else is exact
    * integer-ratio arithmetic. Emits (`w1`, `w2`, `n_bigram`, `pmi`). */
  def bigramPmi(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val toks = tokens(col(textCol))
    val bigrams = df.select(toks.as("__t"))
      .filter(size(col("__t")) >= 2)
      .select(explode(zip_with(
        slice(col("__t"), lit(1), size(col("__t")) - 1),
        slice(col("__t"), lit(2), size(col("__t")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("bg.w1"), col("bg.w2"))
    val bc = bigrams.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_bigram"))
    val bTotal = bc.agg(sum(col("n_bigram")).as("__tb"))
    val uc = df.select(explode(toks).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nu"))
    val uTotal = uc.agg(sum(col("nu")).as("__tu"))
    val top = bc.orderBy(col("n_bigram").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val nab = col("n_bigram").cast("double")
    val tu = col("__tu").cast("double")
    val tb = col("__tb").cast("double")
    // the topK frame is the broadcast side of BOTH unigram joins — the
    // full vocab frame never shuffles on its own key
    val j1 = uc.select(col("w").as("w1"), col("nu").as("__na"))
      .join(broadcast(top), "w1")
    val j2 = uc.select(col("w").as("w2"), col("nu").as("__nb"))
      .join(broadcast(j1), "w2")
    j2.crossJoin(broadcast(bTotal)).crossJoin(broadcast(uTotal))
      .select(col("w1"), col("w2"), col("n_bigram"),
        (round(log((nab / tb) / ((na / tu) * (nb / tu))), 10) + lit(0.0))
          .as("pmi"))
  }

  /** Zipf rank-frequency fit over the corpus's top-`topK` vocabulary:
    * OLS of `ln(freq)` on `ln(rank)` — natural language runs a slope
    * near −1 (Zipf's law); template spam, boilerplate floods, and
    * synthetic word soup bend it, so (slope, r²) is a one-row corpus
    * health fingerprint worth tracking per source/snapshot.
    *
    * Determinism: ranks are exact (count desc, token asc over the K-row
    * vocab — a reduced-frame window, [[graft.operators.Eval.binaryAuc]]
    * shape); each `ln` rounds to 10 decimals BEFORE the fold, so both
    * engines fold bit-identical element lists in the same rank order,
    * and every downstream closed form is the same fixed IEEE tree — no
    * final rounding needed. Emits one row
    * (`n_types`, `slope`, `intercept`, `r2`).
    *
    * Scale shape: one tokenize+count pass (map-side combinable); all
    * later work runs on the K-row vocabulary frame. */
  def zipfFit(df: DataFrame, textCol: String, topK: Int): DataFrame = {
    require(topK >= 3, s"need >= 3 ranks for a meaningful fit, got $topK")
    val vocab = df.select(explode(tokens(col(textCol))).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("gn"))
      .orderBy(col("gn").desc, col("token").asc).limit(topK)
    val ranked = vocab.withColumn("r", row_number().over(
      org.apache.spark.sql.expressions.Window
        .orderBy(col("gn").desc, col("token").asc)))
    val folded = ranked.agg(
      count(lit(1)).as("n_types"),
      sort_array(collect_list(struct(col("r"),
        (round(log(col("r").cast("double")), 10) + lit(0.0)).as("x"),
        (round(log(col("gn").cast("double")), 10) + lit(0.0)).as("y"))))
        .as("__ts"))
    def fold(term: Column => Column): Column =
      aggregate(transform(col("__ts"), term), lit(0.0), (acc, e) => acc + e)
    val n = col("n_types").cast("double")
    val sx = fold(t => t.getField("x"))
    val sy = fold(t => t.getField("y"))
    val sxy = fold(t => t.getField("x") * t.getField("y"))
    val sxx = fold(t => t.getField("x") * t.getField("x"))
    val syy = fold(t => t.getField("y") * t.getField("y"))
    val cov = n * sxy - sx * sy
    val varx = n * sxx - sx * sx
    val vary = n * syy - sy * sy
    folded.select(col("n_types"),
      (cov / varx).as("slope"),
      ((sy - (cov / varx) * sx) / n).as("intercept"),
      when(vary > 0.0, cov * cov / (varx * vary)).as("r2"))
  }

  /** Windowed co-occurrence PMI — the [[bigramPmi]] generalization from
    * adjacency to a ±`window` token neighborhood (unordered pairs): the
    * GloVe/word2vec-style co-occurrence statistic that surfaces topical
    * association ("neural"~"network" across a clause) where strict
    * bigrams only see collocations. Every position pair within distance
    * ≤ `window` counts once, canonicalized (least, greatest).
    *
    * Scale shape: pair volume is `window`·tokens — linear for fixed
    * window, never a quadratic doc explosion; the token array binds in
    * its own projection (HOF rule) and the shifted zips flatten into ONE
    * explode. Unigram/pair counts are map-side-combinable aggs; the
    * top-`topK` pair frame is the broadcast side of both unigram joins
    * ([[bigramPmi]] plan). The single `ln` rounds to 10 decimals. Emits
    * (`w1`, `w2`, `n_pair`, `pmi`) for the top-K pairs (count desc, then
    * (w1, w2) asc — deterministic at the boundary). */
  def cooccurrencePmi(df: DataFrame, textCol: String, window: Int,
                      topK: Int): DataFrame = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(topK >= 1, s"topK must be >= 1, got $topK")
    val bound = df.select(tokens(col(textCol)).as("__t"))
    val t = col("__t")
    val pairArr = flatten(transform(sequence(lit(1), lit(window)), j =>
      zip_with(
        slice(t, lit(1), greatest(size(t) - j, lit(0))),
        slice(t, j + lit(1), greatest(size(t) - j, lit(0))),
        (a, b) => struct(least(a, b).as("w1"), greatest(a, b).as("w2")))))
    val pairs = bound.filter(size(t) >= 2)
      .select(explode(pairArr).as("pr"))
      .select(col("pr.w1").as("w1"), col("pr.w2").as("w2"))
    val pc = pairs.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("n_pair"))
    val pTotal = pc.agg(sum(col("n_pair")).as("__tp"))
    val uc = bound.select(explode(t).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("nu"))
    val uTotal = uc.agg(sum(col("nu")).as("__tu"))
    val top = pc.orderBy(col("n_pair").desc, col("w1").asc, col("w2").asc)
      .limit(topK)
    val na = col("__na").cast("double")
    val nb = col("__nb").cast("double")
    val np = col("n_pair").cast("double")
    val tu = col("__tu").cast("double")
    val tp = col("__tp").cast("double")
    val j1 = uc.select(col("w").as("w1"), col("nu").as("__na"))
      .join(broadcast(top), "w1")
    val j2 = uc.select(col("w").as("w2"), col("nu").as("__nb"))
      .join(broadcast(j1), "w2")
    j2.crossJoin(broadcast(pTotal)).crossJoin(broadcast(uTotal))
      .select(col("w1"), col("w2"), col("n_pair"),
        (round(log((np / tp) / ((na / tu) * (nb / tu))), 10) + lit(0.0))
          .as("pmi"))
  }

  /** Per-document stats frame used by the q_text_stats gate query.
    *
    * Tokenizes ONCE per document and shares the array across the token
    * count, the 6 stopword profiles, and the quality score — the naive
    * composition re-ran the split regex over the full text 7× per row,
    * which dominated the operator's cost. Expression trees (and therefore
    * results) are unchanged. */
  /** Per-document lexical diversity: token/type counts, type-token
    * ratio, and hapax-legomena share — the vocabulary-richness quality
    * screen ([[textStats]]'s companion): template spam scores LOW TTR
    * (few types, many repeats), OCR noise and mojibake score HIGH hapax
    * share (every garble is unique). Exact integer counts, two final
    * divisions.
    *
    * Shape: one explode feeding two map-side-combinable hash aggregates
    * ((doc, token) counts → per-doc rollup), then a left join back so
    * empty documents keep a row (0 counts, NULL ratios) — per-doc state
    * never exceeds the doc's distinct-token count. */
  def lexicalDiversity(df: DataFrame, idCol: String,
                       textCol: String): DataFrame = {
    val tokCounts = df
      .select(col(idCol), explode(tokens(col(textCol))).as("__w"))
      .groupBy(col(idCol), col("__w")).agg(count(lit(1)).as("__c"))
    val agg = tokCounts.groupBy(col(idCol)).agg(
      sum(col("__c")).as("n_tokens"), count(lit(1)).as("n_types"),
      sum(when(col("__c") === 1L, 1L).otherwise(0L)).as("n_hapax"))
    df.select(col(idCol)).join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_types"), lit(0L)).as("n_types"),
        coalesce(col("n_hapax"), lit(0L)).as("n_hapax"))
      .withColumn("ttr", when(col("n_tokens") > 0L,
        col("n_types").cast("double") / col("n_tokens").cast("double")))
      .withColumn("hapax_share", when(col("n_types") > 0L,
        col("n_hapax").cast("double") / col("n_types").cast("double")))
  }

  def textStats(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val pre = df.select(col(idCol), col(textCol).as("__t"), tokens(col(textCol)).as("__toks"))
    val t = col("__t")
    val toks = col("__toks")
    pre.select(
      col(idCol),
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      punctCount(t).as("n_punct"),
      stopCountArr(toks, LangProfiles.head._2).as("n_stopwords"),
      qualityScoreFromToks(t, toks).as("quality_score"),
      langIdFromToks(toks).as("lang_pred"))
  }

  /** Per-document out-of-vocabulary rate against the corpus's own top-K
    * vocabulary — the "does this doc speak the corpus's language"
    * screen: gibberish, code dumps, and wrong-language strays score high
    * OOV against a vocabulary the mainstream corpus defines, without any
    * external word list. Emits (`idCol`, `n_tokens`, `n_oov`,
    * `oov_rate`); empty docs keep a row with `n_tokens = 0` and a NULL
    * rate (undefined, not 0 — an empty doc is not "all in-vocab").
    *
    * Determinism: the vocabulary is the exact global token counts ranked
    * (count desc, token asc) — a total order — and every output number
    * is an integer count until the one final division.
    *
    * Scale shape: one token-count aggregation (map-side combinable), a
    * K-row vocabulary that BROADCASTS into the token stream's left
    * anti-ish join, one per-doc aggregation. The top-K cut is a
    * TakeOrdered over the reduced count frame, never the corpus. */
  def oovRate(df: DataFrame, idCol: String, textCol: String,
              vocabSize: Int = 1000): DataFrame = {
    require(vocabSize >= 1, s"vocabSize must be >= 1, got $vocabSize")
    Guards.requireNoReserved(df.columns,
      Seq("n_tokens", "n_oov", "oov_rate", "__tok", "__iv"),
      "TextOps.oovRate")
    val exploded = df.select(col(idCol),
      explode(tokens(col(textCol))).as("__tok"))
    val vocab = exploded.groupBy(col("__tok")).agg(count(lit(1)).as("__c"))
      .orderBy(col("__c").desc, col("__tok").asc)
      .limit(vocabSize)
      .select(col("__tok"), lit(1).as("__iv"))
    val perDoc = exploded
      .join(broadcast(vocab), Seq("__tok"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("__iv").isNull, lit(1L)).otherwise(lit(0L))).as("n_oov"))
    df.select(col(idCol)).distinct()
      .join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("n_oov"), lit(0L)).as("n_oov"),
        when(col("n_tokens") > 0L,
          col("n_oov").cast("double") / col("n_tokens").cast("double"))
          .as("oov_rate"))
  }

  /** Corpus n-gram diversity (distinct-n ratio, the corpus-level twin of
    * [[repetitionStats]]' per-document screen and the standard
    * generation-diversity readout): per group and per n ∈ [1, maxN], the
    * number of DISTINCT word n-grams over the total emitted — 1.0 = every
    * n-gram unique, → 0 = template spam / mode collapse. A generated or
    * deduplicated corpus whose distinct-2/3 ratios sit far below a human
    * reference's is repeating itself at the phrase level even when exact
    * dedup passes.
    *
    * Emits (`group…`, `n`, `total_ngrams`, `distinct_ngrams`,
    * `diversity`). Docs shorter than n contribute nothing at that n.
    *
    * Scale shape: one explode to (group, n, gram) rows — output volume
    * maxN·tokens — then two map-side-combinable aggregations (per-gram
    * counts, then per-group rollup); the one real shuffle keys on
    * (group, n, gram). Exact integer counts; the single IEEE division is
    * the final ratio. At 100 TB the distinct-gram frame is the working
    * set — scope groups (per source/shard) rather than running one
    * global group, or sample upstream. */
  def ngramDiversity(df: DataFrame, textCol: String,
                     groupCols: Seq[String], maxN: Int = 3): DataFrame = {
    require(maxN >= 1 && maxN <= 8, s"maxN must be in [1, 8], got $maxN")
    Guards.requireNoReserved(df.columns,
      Seq("n", "total_ngrams", "distinct_ngrams", "diversity",
        "__toks", "__gram"),
      "TextOps.ngramDiversity")
    val toked = df.select(groupCols.map(col) :+
      tokens(col(textCol)).as("__toks"): _*)
    val gkeys = groupCols.map(col)
    val perN = (1 to maxN).map { n =>
      // sequence(1, size-n+1) must be guarded: Spark generates DESCENDING
      // sequences when stop < start, which would fabricate grams
      val grams = when(size(col("__toks")) >= n,
        transform(sequence(lit(1), size(col("__toks")) - lit(n - 1)),
          i => concat_ws(" ", slice(col("__toks"), i, lit(n)))))
        .otherwise(array())
      toked.select(gkeys :+ lit(n).as("n") :+
        explode(grams).as("__gram"): _*)
    }
    val exploded = perN.reduce(_.unionByName(_))
    exploded
      .groupBy(gkeys :+ col("n") :+ col("__gram"): _*)
      .agg(count(lit(1)).as("__c"))
      .groupBy(gkeys :+ col("n"): _*)
      .agg(sum(col("__c")).as("total_ngrams"),
        count(lit(1)).as("distinct_ngrams"))
      .withColumn("diversity",
        col("distinct_ngrams").cast("double") /
          col("total_ngrams").cast("double"))
  }
}
