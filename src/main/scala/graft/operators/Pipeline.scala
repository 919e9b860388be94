package graft.operators

import graft.T
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Training-data pipeline operators over `documents` — the assembly steps an
  * LLM data pipeline runs after dedup/quality filtering: deterministic
  * train/valid/test splitting, text normalization, and sequence packing.
  * (The reference had no such plane; these extend SURVEY.md §2.5.)
  *
  * Scale design: p01/p02 are narrow per-row projections in whole-stage
  * codegen (no shuffle); p03 is one window (shuffle on `lang`) + one
  * aggregation — the same shape at any corpus size, with the partition key
  * chosen so bins never span executors.
  *
  * Cross-engine determinism: the split key is the content fingerprint (an
  * explicit integer polynomial, t04's arithmetic), token counts are integer,
  * and the packing cumsum is an integer window sum over a total order —
  * nothing floats.
  */
object Pipeline {

  /** Deterministic content-hash split: fingerprint % 100 -> <80 train,
    * <90 valid, else test. Hashing CONTENT (not doc_id) keeps the split
    * stable under re-ingestion and id reshuffles — the property a training
    * pipeline actually needs. */
  def p01TrainTestSplit(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    t.documents
      .withColumn("bucket",
        pmod(expr("weighted_fingerprint(shingle_hashes(text, 4, false))"), lit(100)))
      .withColumn("split",
        when($"bucket" < 80, "train").when($"bucket" < 90, "valid").otherwise("test"))
      .groupBy($"split", $"lang")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
      .orderBy($"split", $"lang")
  }

  /** t04's fingerprint arithmetic (DuckDB side). */
  private val fpDuck =
    """(list_sum(list_transform(range(1, length(text) - 2),
         i -> (((ascii(substr(text, i::INT, 1)) * 31 + ascii(substr(text, i::INT + 1, 1))) * 31
                + ascii(substr(text, i::INT + 2, 1))) * 31 + ascii(substr(text, i::INT + 3, 1)))
              * ((i - 1) % 31 + 1))) % 2147483647)::BIGINT"""

  val p01Oracle: String =
    s"""WITH fp AS (SELECT lang, text, $fpDuck % 100 AS bucket FROM documents)
       SELECT CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
                   ELSE 'test' END AS split,
              lang, COUNT(*) AS n_docs,
              SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
       FROM fp GROUP BY 1, 2 ORDER BY split, lang"""

  /** Text normalization: drop the boilerplate stopwords ('a', 'the'),
    * collapse whitespace, trim — reporting before/after token and char
    * counts per doc (the redaction/cleanup stage; swap the pattern for
    * PII regexes on a real corpus). */
  def p02TextNormalize(t: T): DataFrame = {
    import t.spark.implicits._
    t.documents
      .withColumn("cleaned",
        trim(regexp_replace(regexp_replace($"text", "\\b(a|the)\\b", " "), "\\s+", " ")))
      .select($"doc_id",
        size(split($"text", " ")).cast("long").as("n_tokens_before"),
        size(split($"cleaned", " ")).cast("long").as("n_tokens_after"),
        length($"cleaned").cast("long").as("n_chars_after"))
      .orderBy($"doc_id")
  }

  val p02Oracle: String =
    """WITH cl AS (SELECT doc_id, text,
         trim(regexp_replace(regexp_replace(text, '\b(a|the)\b', ' ', 'g'),
                             '\s+', ' ', 'g')) AS cleaned
       FROM documents)
       SELECT doc_id,
              len(string_split(text, ' '))::BIGINT AS n_tokens_before,
              len(string_split(cleaned, ' '))::BIGINT AS n_tokens_after,
              length(cleaned)::BIGINT AS n_chars_after
       FROM cl ORDER BY doc_id"""

  /** Sequence packing: concatenate docs per language in doc_id order and cut
    * at 2048-token boundaries (the streaming pack an LLM pre-training
    * pipeline uses to fill context windows); bin = tokens-before DIV 2048.
    * One integer window cumsum + one aggregate. */
  def p03SequencePacking(t: T): DataFrame = {
    import t.spark.implicits._
    val toks = t.documents.select($"doc_id", $"lang",
      size(split($"text", " ")).cast("long").as("n_tokens"))
    val w = Window.partitionBy($"lang").orderBy($"doc_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    toks
      .withColumn("cum_before", coalesce(sum($"n_tokens").over(w), lit(0L)))
      .withColumn("bin", expr("cum_before DIV 2048"))
      .groupBy($"lang", $"bin")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("bin_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"bin")
  }

  val p03Oracle: String =
    """WITH toks AS (
         SELECT doc_id, lang, len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents),
       cum AS (
         SELECT doc_id, lang, n_tokens,
                COALESCE(SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before
         FROM toks)
       SELECT lang, (cum_before // 2048)::BIGINT AS bin, COUNT(*) AS n_docs,
              SUM(n_tokens)::BIGINT AS bin_tokens,
              MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       FROM cum GROUP BY 1, 2 ORDER BY lang, bin"""

  /** Benchmark-contamination check: does a training doc share word-5-grams
    * with the holdout set (source 'src0' plays the benchmark)? The scale
    * shape is the important part: explode distinct n-grams, hash-join the
    * (much smaller) holdout gram set, aggregate per doc — one shuffle on the
    * gram key, never doc×doc all-pairs, so it survives a 100 TB corpus
    * against a fixed benchmark suite. */
  /** Distinct word-5-grams per doc: (doc_id, source, gram) — the shared
    * contamination currency of p04/p12/p19. sequence(1, n) DESCENDS when
    * n < 1, so short docs are guarded to zero grams explicitly.
    *
    * Per-doc dedup happens INSIDE the row (array_distinct before the
    * explode), not as a global `.distinct()` after it: doc_id is unique,
    * so duplicates only ever originate within one document and the two
    * forms are row-for-row identical — but the global distinct shuffled
    * the entire gram stream (corpus tokens × ~40-char string keys) through
    * one exchange, the single heaviest stage of the p29 funnel at 160×. */
  private[graft] def fiveGrams(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("source"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), col("source"), explode(expr(
        """CASE WHEN size(toks) >= 5
             THEN array_distinct(transform(sequence(1, size(toks) - 4),
                            i -> concat_ws(' ', slice(toks, i, 5))))
             ELSE array() END""")).as("gram"))

  def p04Contamination(t: T): DataFrame = {
    import t.spark.implicits._
    val grams = fiveGrams(t.documents)
    val holdout = grams.filter($"source" === "src0")
      .select($"gram").distinct().withColumn("hit", lit(1L))
    // size-gated broadcast of the holdout gram set: the eval side is the
    // whole corpus's gram stream — joining it shuffled means sorting
    // corpus-tokens × 40-char string keys; the holdout is the FIXED
    // benchmark suite, small by construction, so below the census gate it
    // rides to the scan and the per-doc fold collapses map-side
    val hint = BroadcastGate.censusHint(holdout)
    grams.filter($"source" =!= "src0")
      .join(hint(holdout), Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(coalesce($"hit", lit(0L))).as("n_contaminated"))
      .withColumn("contamination_bp", expr("(n_contaminated * 10000) DIV n_grams"))
      .orderBy($"doc_id")
  }

  val p04Oracle: String =
    """WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       g AS (SELECT DISTINCT doc_id, source,
               unnest(list_transform(range(1, len(ts) - 3),
                        i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS gram
             FROM tok),
       hold AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
       ev AS (SELECT doc_id, gram FROM g WHERE source <> 'src0')
       SELECT ev.doc_id, COUNT(*) AS n_grams,
              SUM(CASE WHEN h.gram IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_contaminated,
              (SUM(CASE WHEN h.gram IS NOT NULL THEN 1 ELSE 0 END) * 10000
                 // COUNT(*))::BIGINT AS contamination_bp
       FROM ev LEFT JOIN hold h USING (gram)
       GROUP BY ev.doc_id ORDER BY doc_id"""

  /** PII/blocklist scrub: one regex union of an email shape, a phone shape
    * and corpus blocklist terms, replaced with a mask token; the audit output
    * (match count + post-scrub length) is what a compliance pipeline logs.
    * Narrow per-row projection — codegen'd, no shuffle. */
  def p05PiiScrub(t: T): DataFrame = {
    import t.spark.implicits._
    // DSL (not expr): SQL string-literal unescaping would eat the \b / \d
    val pat = "[a-z]+@[a-z]+\\.[a-z]+|\\b\\d{3}-\\d{4}\\b|\\b(customer|user)\\b"
    t.documents
      .select($"doc_id",
        regexp_count($"text", lit(pat)).cast("long").as("n_masked"),
        length(regexp_replace($"text", pat, "[PII]")).cast("long").as("len_after"))
      .orderBy($"doc_id")
  }

  val p05Oracle: String =
    """SELECT doc_id,
       len(regexp_extract_all(text, '[a-z]+@[a-z]+\.[a-z]+|\b\d{3}-\d{4}\b|\b(customer|user)\b'))::BIGINT AS n_masked,
       length(regexp_replace(text, '[a-z]+@[a-z]+\.[a-z]+|\b\d{3}-\d{4}\b|\b(customer|user)\b', '[PII]', 'g'))::BIGINT AS len_after
       FROM documents ORDER BY doc_id"""

  /** Repetition / boilerplate detection: type-token ratio and the share of
    * the doc taken by its single most frequent token, in integer basis
    * points. Explode + two aggregations (the distributed shape) rather than
    * per-row lambdas (interpreted, see [[graft.functions.TextExprs]]). */
  def p06Repetition(t: T): DataFrame = {
    import t.spark.implicits._
    t.documents
      .select($"doc_id", explode(split($"text", " ")).as("tok"))
      .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("n"))
      .groupBy($"doc_id")
      .agg(sum($"n").as("n_tokens"), count(lit(1)).as("n_distinct"),
        max($"n").as("max_tok_freq"))
      .select($"doc_id", $"n_tokens", $"n_distinct",
        expr("(n_distinct * 10000) DIV n_tokens").as("type_token_bp"),
        expr("(max_tok_freq * 10000) DIV n_tokens").as("repetition_bp"),
        expr("(max_tok_freq * 10000) DIV n_tokens > 1500").as("boilerplate"))
      .orderBy($"doc_id")
  }

  val p06Oracle: String =
    """WITH tf AS (
         SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
       counted AS (
         SELECT doc_id, tok, COUNT(*) AS n FROM tf GROUP BY doc_id, tok),
       per_doc AS (
         SELECT doc_id, SUM(n)::BIGINT AS n_tokens, COUNT(*) AS n_distinct,
                MAX(n)::BIGINT AS max_tok_freq
         FROM counted GROUP BY doc_id)
       SELECT doc_id, n_tokens, n_distinct,
              (n_distinct * 10000 // n_tokens)::BIGINT AS type_token_bp,
              (max_tok_freq * 10000 // n_tokens)::BIGINT AS repetition_bp,
              (max_tok_freq * 10000 // n_tokens) > 1500 AS boilerplate
       FROM per_doc ORDER BY doc_id"""

  /** Stratified sampling: per-language rates from a broadcast dim table,
    * admission by content-fingerprint bucket (deterministic under
    * re-ingestion and re-partitioning, unlike rand()). Broadcast join +
    * narrow filter — the corpus itself never shuffles, which is the only
    * acceptable shape for a 100 TB downsample. Unlisted languages fall back
    * to a 50% default via coalesce. */
  def p07StratifiedSample(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val rates = Seq(("en", 30L), ("es", 60L), ("fr", 60L), ("de", 60L))
      .toDF("lang", "rate")
    t.documents
      .join(broadcast(rates), Seq("lang"), "left")
      .withColumn("bucket",
        pmod(expr("weighted_fingerprint(shingle_hashes(text, 4, false))"), lit(100)))
      .filter($"bucket" < coalesce($"rate", lit(50L)))
      .select($"doc_id", $"lang", $"bucket")
      .orderBy($"doc_id")
  }

  val p07Oracle: String =
    s"""WITH rates(lang, rate) AS (VALUES ('en', 30), ('es', 60), ('fr', 60), ('de', 60)),
       fp AS (SELECT doc_id, d.lang, $fpDuck % 100 AS bucket, r.rate
              FROM documents d LEFT JOIN rates r USING (lang))
       SELECT doc_id, lang, bucket FROM fp
       WHERE bucket < COALESCE(rate, 50) ORDER BY doc_id"""

  /** Per-source quota capping: keep the top-10 docs per source by the t03
    * quality score (doc_id tiebreak) — the over-representation guard a
    * crawl-scale pipeline applies per domain. One window shuffle on
    * `source`; rank computation is partition-local. */
  def p08SourceQuota(t: T): DataFrame = {
    import t.spark.implicits._
    val scored = t.documents
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("n_dis", size(expr("array_distinct(split(text, ' '))")).cast("long"))
      .withColumn("quality_bp",
        expr("((n_dis * 10000) DIV n_tok) * 5 DIV 10 + least(n_tok, 100L) * 30"))
    val w = Window.partitionBy($"source").orderBy($"quality_bp".desc, $"doc_id")
    scored
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter($"rk" <= 10)
      .select($"source", $"rk", $"doc_id", $"quality_bp")
      .orderBy($"source", $"rk")
  }

  val p08Oracle: String =
    """WITH scored AS (
         SELECT doc_id, source,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_dis
         FROM documents),
       q AS (
         SELECT doc_id, source,
                ((n_dis * 10000) // n_tok) * 5 // 10 + LEAST(n_tok, 100) * 30 AS quality_bp
         FROM scored),
       ranked AS (
         SELECT source, doc_id, quality_bp,
                ROW_NUMBER() OVER (PARTITION BY source
                                   ORDER BY quality_bp DESC, doc_id) AS rk
         FROM q)
       SELECT source, CAST(rk AS BIGINT) AS rk, doc_id, quality_bp::BIGINT AS quality_bp
       FROM ranked WHERE rk <= 10 ORDER BY source, rk"""

  /** Token-mixture rebalancing: pick per-language sampling rates so the kept
    * corpus approaches a target mixture (en 40%, the rest split evenly over
    * the other 4 languages), then admit docs deterministically by content-
    * fingerprint bucket. The two-phase shape is the scalable one: a token
    * census (one aggregate pass), a driver-size rates table broadcast back,
    * and a narrow filter on a second pass — two corpus reads, zero corpus
    * shuffles. Rates are integer basis points; target = 50% of tokens. */
  def p09TokenMixture(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val toks = t.documents.select($"lang", $"doc_id", $"text",
      size(split($"text", " ")).cast("long").as("n_tok"))
    // the grand-total window runs over the per-LANG rollup — bounded by
    // the language enum at any corpus size (p22's "trivially safe"
    // discipline), so the empty partition spec is deliberate, not a
    // corpus-sized funnel (examined r15; a constant-key broadcast join
    // degenerates to the nested-loop shape PlanQualitySpec forbids)
    val census = toks.groupBy($"lang").agg(sum($"n_tok").as("lang_toks"))
      .withColumn("total_toks", sum($"lang_toks").over(Window.partitionBy()))
      // target tokens for this lang: 40% en, 15% each other lang, of half the corpus
      .withColumn("target_toks", expr(
        "CASE WHEN lang = 'en' THEN total_toks * 4000 DIV 10000 " +
        "ELSE total_toks * 1500 DIV 10000 END DIV 2"))
      .withColumn("rate_bp", least(lit(10000L),
        expr("target_toks * 10000 DIV lang_toks")))
      .select($"lang", $"lang_toks", $"rate_bp")
    toks.join(broadcast(census), "lang")
      .withColumn("bucket",
        pmod(expr("weighted_fingerprint(shingle_hashes(text, 4, false))"), lit(10000)))
      .filter($"bucket" < $"rate_bp")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_docs_kept"), sum($"n_tok").as("tokens_kept"))
      .join(census.select($"lang", $"lang_toks", $"rate_bp"), "lang")
      .select($"lang", $"rate_bp", $"n_docs_kept", $"tokens_kept", $"lang_toks")
      .orderBy($"lang")
  }

  val p09Oracle: String =
    s"""WITH toks AS (
         SELECT lang, doc_id, text,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
         FROM documents),
       census AS (
         SELECT lang, SUM(n_tok)::BIGINT AS lang_toks,
                (SUM(SUM(n_tok)) OVER ())::BIGINT AS total_toks
         FROM toks GROUP BY lang),
       rates AS (
         SELECT lang, lang_toks,
                LEAST(10000,
                  ((CASE WHEN lang = 'en' THEN total_toks * 4000 // 10000
                         ELSE total_toks * 1500 // 10000 END // 2)
                   * 10000 // lang_toks))::BIGINT AS rate_bp
         FROM census),
       kept AS (
         SELECT t.lang, COUNT(*) AS n_docs_kept, SUM(t.n_tok)::BIGINT AS tokens_kept
         FROM toks t JOIN rates r USING (lang)
         WHERE ($fpDuck) % 10000 < r.rate_bp
         GROUP BY t.lang)
       SELECT lang, rate_bp, n_docs_kept, tokens_kept, lang_toks
       FROM kept JOIN rates USING (lang) ORDER BY lang"""

  /** Curriculum ordering: sort the corpus by ascending quality (t03's
    * integer score, doc_id tiebreak) and cut into 10 curriculum stages of
    * equal token budget — easy-to-hard data ordering for training. The
    * global cumsum runs as [[GlobalOrder]]'s two-pass prefix sum
    * (range-partition by (quality, doc_id), per-partition totals collected
    * as offsets — guide §2.4), and the grand total rides along as a driver
    * literal instead of a second corpus-wide empty-partition window. */
  def p10Curriculum(t: T): DataFrame = {
    import t.spark.implicits._
    val scored = t.documents
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .withColumn("n_dis", size(expr("array_distinct(split(text, ' '))")).cast("long"))
      .withColumn("quality_bp",
        expr("((n_dis * 10000) DIV n_tok) * 5 DIV 10 + least(n_tok, 100L) * 30"))
      .select($"doc_id", $"n_tok", $"quality_bp")
    val (cum, totalTok) = GlobalOrder.runningSumAndTotal(
      scored, Seq($"quality_bp", $"doc_id"), $"n_tok", "cum_tok")
    cum
      .withColumn("stage", expr(s"least((cum_tok - 1) * 10 DIV ${totalTok}L, 9L)"))
      .groupBy($"stage")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("stage_tokens"),
        min($"quality_bp").as("min_q"), max($"quality_bp").as("max_q"))
      .orderBy($"stage")
  }

  val p10Oracle: String =
    """WITH scored AS (
         SELECT doc_id,
                CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
                ((CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) * 10000)
                   // CAST(len(string_split(text, ' ')) AS BIGINT)) * 5 // 10
                  + LEAST(CAST(len(string_split(text, ' ')) AS BIGINT), 100) * 30 AS quality_bp
         FROM documents),
       c AS (SELECT doc_id, n_tok, quality_bp,
               SUM(n_tok) OVER (ORDER BY quality_bp, doc_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_tok,
               SUM(n_tok) OVER () AS total_tok
             FROM scored)
       SELECT LEAST((cum_tok - 1) * 10 // total_tok, 9)::BIGINT AS stage,
              COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS stage_tokens,
              MIN(quality_bp)::BIGINT AS min_q, MAX(quality_bp)::BIGINT AS max_q
       FROM c GROUP BY 1 ORDER BY stage"""

  /** Gopher-style quality-filter cascade (Rae et al. 2021 §A1.1 rule
    * family): per-doc boolean gates — token-count range, mean-word-length
    * range, stopword evidence, most-frequent-token share — each emitted as
    * its own flag so a pipeline can audit WHICH rule rejected a doc, plus
    * the conjunction. Reuses the p06 explode+agg shape for the per-token
    * census (distributed, no per-row quadratic lambda); everything else is a
    * narrow projection. Integer thresholds only. */
  /** ONE definition of the per-doc quality-cascade flag frame (no sort) —
    * p11's report body, and the funnel's (p29) stage-1 predicate. */
  private[graft] def qualityFlags(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // ONE codegen'd quality_census call per doc (the t25 device on the
    // quality plane): the old explode → groupBy(doc, tok) census exchanged
    // corpus-tokens rows and re-joined them — the funnel's last remaining
    // big shuffle — and the stopword count ran a boxed IN-filter lambda
    val stopsLit = stopAll.map(v => s"'$v'").mkString("array(", ",", ")")
    t.documents
      // null text drops the doc — the explicit form of the old
      // explode→inner-join semantics; quality_census(null) is a null
      // struct, which would otherwise keep the doc with null flags
      // (ADVICE r10: silent divergence on corpora with null text)
      .filter($"text".isNotNull)
      .select($"doc_id", length($"text").cast("long").as("len"),
        expr(s"quality_census(text, $stopsLit)").as("qc"))
      .select($"doc_id", $"len", $"qc.n_tok".as("n_tok"),
        $"qc.max_freq".as("max_freq"), $"qc.n_stop".as("n_stop"))
      // mean word length in centi-chars: single-space-joined corpus =>
      // non-space chars = len - (n_tok - 1)
      .withColumn("mwl_centi", expr("(len - n_tok + 1) * 100 DIV n_tok"))
      .select($"doc_id", $"n_tok", $"mwl_centi",
        ($"n_tok" >= 10 && $"n_tok" <= 200).as("f_len"),
        ($"mwl_centi" >= 250 && $"mwl_centi" <= 900).as("f_wordlen"),
        ($"n_stop" >= 2).as("f_stop"),
        expr("max_freq * 10000 DIV n_tok <= 2000").as("f_rep"))
      .withColumn("keep", $"f_len" && $"f_wordlen" && $"f_stop" && $"f_rep")
  }

  def p11QualityCascade(t: T): DataFrame = {
    import t.spark.implicits._
    qualityFlags(t).orderBy($"doc_id")
  }

  private def stopAll: Seq[String] =
    TextAnalysis.stop.toSeq.sortBy(_._1).flatMap(_._2)

  /** ONE DuckDB definition of the quality-cascade CTE chain — `qflags`
    * mirrors [[qualityFlags]] column-for-column; p11's oracle reads it
    * sorted, p29's funnel reads just its `keep` bit (the banding-contract
    * discipline ADVICE r6 asked for, applied to the quality plane). */
  private def qualityCtesDuck: String = {
    val allStops = stopAll.map(v => s"'$v'").mkString("(", ",", ")")
    s"""census AS (
         SELECT doc_id, SUM(n)::BIGINT AS n_tok, MAX(n)::BIGINT AS max_freq
         FROM (SELECT doc_id, tok, COUNT(*) AS n
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM documents)
               GROUP BY doc_id, tok) t
         GROUP BY doc_id),
       feats AS (
         SELECT d.doc_id, length(text)::BIGINT AS len,
           len(list_filter(string_split(text, ' '), x -> x IN $allStops))::BIGINT AS n_stop,
           c.n_tok, c.max_freq,
           ((length(text) - c.n_tok + 1) * 100 // c.n_tok)::BIGINT AS mwl_centi
         FROM documents d JOIN census c ON c.doc_id = d.doc_id),
       qflags AS (
         SELECT doc_id, n_tok, mwl_centi,
           (n_tok >= 10 AND n_tok <= 200) AS f_len,
           (mwl_centi >= 250 AND mwl_centi <= 900) AS f_wordlen,
           (n_stop >= 2) AS f_stop,
           (max_freq * 10000 // n_tok <= 2000) AS f_rep,
           ((n_tok >= 10 AND n_tok <= 200) AND (mwl_centi >= 250 AND mwl_centi <= 900)
            AND (n_stop >= 2) AND (max_freq * 10000 // n_tok <= 2000)) AS keep
         FROM feats)"""
  }

  val p11Oracle: String =
    s"""WITH $qualityCtesDuck
       SELECT doc_id, n_tok, mwl_centi, f_len, f_wordlen, f_stop, f_rep, keep
       FROM qflags ORDER BY doc_id"""

  /** Bloom-filter contamination screen — the constant-memory scale path
    * beside p04's exact gram join: the holdout's gram set is folded into a
    * 4096-bit Bloom filter (k=3 explicit hash positions per gram), and every
    * training gram probes it with three broadcast joins. At 100 TB the
    * filter stays a few MB broadcast to every executor while p04's holdout
    * join side grows with the benchmark suite; the price is false
    * positives, so `bloom_bp >= contamination_bp` always (no false
    * negatives — asserted in spec). All hashes are the explicit LCG
    * permutation family over `poly_hash` (Horner base 31 mod P), so the
    * DuckDB twin reproduces the exact bit positions. */
  def p12BloomContamination(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    def posExpr(j: Int) = expr(s"((${bloomA(j)} * gh + ${bloomB(j)}) % $bloomP) % 4096")
    val grams = fiveGrams(t.documents)
      .withColumn("gh", expr("poly_hash(gram)"))
    val bits = grams.filter($"source" === "src0")
      .select(explode(array(posExpr(1), posExpr(2), posExpr(3))).as("pos"))
      .distinct()
    def mark(j: Int) =
      broadcast(bits.select($"pos".as(s"p$j"), lit(1L).as(s"m$j")))
    grams.filter($"source" =!= "src0")
      .withColumn("p1", posExpr(1)).withColumn("p2", posExpr(2)).withColumn("p3", posExpr(3))
      .join(mark(1), Seq("p1"), "left")
      .join(mark(2), Seq("p2"), "left")
      .join(mark(3), Seq("p3"), "left")
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"m1".isNotNull && $"m2".isNotNull && $"m3".isNotNull, 1L)
          .otherwise(0L)).as("n_bloom_hits"))
      .select($"doc_id", $"n_grams", $"n_bloom_hits",
        expr("n_bloom_hits * 10000 DIV n_grams").as("bloom_bp"))
      .orderBy($"doc_id")
  }

  private val bloomP = 2147483647L
  private def bloomA(j: Int): Long = (1103515245L * j + 12345L) % bloomP
  private def bloomB(j: Int): Long = (1103515245L * (j + 101) + 54321L) % bloomP

  val p12Oracle: String = {
    val pos = (1 to 3).map(j =>
      s"((${bloomA(j)} * gh + ${bloomB(j)}) % $bloomP) % 4096 AS p$j").mkString(", ")
    s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       g AS (SELECT DISTINCT doc_id, source,
               unnest(list_transform(range(1, len(ts) - 3),
                        i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS gram
             FROM tok),
       h AS (SELECT doc_id, source,
               list_reduce([0] || list_transform(range(1, length(gram) + 1),
                   i -> ascii(substr(gram, i::INT, 1))::BIGINT),
                 (acc, x) -> (acc * 31 + x) % $bloomP) AS gh
             FROM g),
       pos AS (SELECT doc_id, source, $pos FROM h),
       bits AS (SELECT DISTINCT pos FROM (
                  SELECT p1 AS pos FROM pos WHERE source = 'src0'
                  UNION ALL SELECT p2 FROM pos WHERE source = 'src0'
                  UNION ALL SELECT p3 FROM pos WHERE source = 'src0')),
       probe AS (SELECT doc_id, p1, p2, p3 FROM pos WHERE source <> 'src0')
       SELECT doc_id, COUNT(*) AS n_grams,
              SUM(CASE WHEN b1.pos IS NOT NULL AND b2.pos IS NOT NULL
                            AND b3.pos IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_bloom_hits,
              (SUM(CASE WHEN b1.pos IS NOT NULL AND b2.pos IS NOT NULL
                             AND b3.pos IS NOT NULL THEN 1 ELSE 0 END) * 10000
                 // COUNT(*))::BIGINT AS bloom_bp
       FROM probe
       LEFT JOIN bits b1 ON b1.pos = probe.p1
       LEFT JOIN bits b2 ON b2.pos = probe.p2
       LEFT JOIN bits b3 ON b3.pos = probe.p3
       GROUP BY doc_id ORDER BY doc_id"""
  }

  /** End-to-end curation manifest — the gates composed the way a real
    * pipeline runs them: exact-dup keeper selection (d01's key), the p11
    * quality cascade, and the p04 contamination screen, folded into ONE
    * priority-ordered verdict per doc (dup -> quality -> contaminated ->
    * keep) and rolled up to per-language doc/token counts. This is the
    * "what actually ships to training" report; every gate reuses the
    * operator it audits, so the manifest stays consistent with the
    * per-gate queries by construction. */
  def p13CurationManifest(t: T): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"key_hash")
    val base = t.documents
      .withColumn("key_hash", md5(substring($"text", 1, 64)))
      .withColumn("keeper", $"doc_id" === min($"doc_id").over(w))
    val quality = p11QualityCascade(t).select($"doc_id", $"keep".as("q_keep"))
    val contam = p04Contamination(t).select($"doc_id", $"contamination_bp")
    base.filter($"source" =!= "src0")
      .join(quality, "doc_id")
      // left join: a doc too short to produce 5-grams has no contamination row
      .join(contam, Seq("doc_id"), "left")
      .withColumn("verdict",
        when(!$"keeper", "dup")
          .when(!$"q_keep", "quality")
          .when(coalesce($"contamination_bp", lit(0L)) >= 500, "contaminated")
          .otherwise("keep"))
      .groupBy($"lang", $"verdict")
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
      .orderBy($"lang", $"verdict")
  }

  val p13Oracle: String = {
    val allStops = stopAll.map(v => s"'$v'").mkString("(", ",", ")")
    s"""WITH census AS (
         SELECT doc_id, SUM(n)::BIGINT AS n_tok, MAX(n)::BIGINT AS max_freq
         FROM (SELECT doc_id, tok, COUNT(*) AS n
               FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
                     FROM documents)
               GROUP BY doc_id, tok) t
         GROUP BY doc_id),
       keepq AS (
         SELECT d.doc_id,
           ((c.n_tok >= 10 AND c.n_tok <= 200)
            AND (((length(text) - c.n_tok + 1) * 100 // c.n_tok) >= 250
                 AND ((length(text) - c.n_tok + 1) * 100 // c.n_tok) <= 900)
            AND (len(list_filter(string_split(text, ' '), x -> x IN $allStops)) >= 2)
            AND (c.max_freq * 10000 // c.n_tok <= 2000)) AS q_keep
         FROM documents d JOIN census c ON c.doc_id = d.doc_id),
       dup AS (
         SELECT doc_id,
           doc_id = MIN(doc_id) OVER (PARTITION BY md5(substr(text, 1, 64))) AS keeper
         FROM documents),
       tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       g AS (SELECT DISTINCT doc_id, source,
               unnest(list_transform(range(1, len(ts) - 3),
                        i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS gram
             FROM tok),
       hold AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
       contam AS (
         SELECT ev.doc_id,
                (SUM(CASE WHEN h.gram IS NOT NULL THEN 1 ELSE 0 END) * 10000
                   // COUNT(*))::BIGINT AS bp
         FROM (SELECT doc_id, gram FROM g WHERE source <> 'src0') ev
         LEFT JOIN hold h USING (gram)
         GROUP BY ev.doc_id),
       verdicts AS (
         SELECT d.lang,
           CASE WHEN NOT u.keeper THEN 'dup'
                WHEN NOT k.q_keep THEN 'quality'
                WHEN COALESCE(c.bp, 0) >= 500 THEN 'contaminated'
                ELSE 'keep' END AS verdict,
           len(string_split(d.text, ' '))::BIGINT AS n_tok
         FROM documents d
         JOIN dup u ON u.doc_id = d.doc_id
         JOIN keepq k ON k.doc_id = d.doc_id
         LEFT JOIN contam c ON c.doc_id = d.doc_id
         WHERE d.source <> 'src0')
       SELECT lang, verdict, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens
       FROM verdicts GROUP BY lang, verdict ORDER BY lang, verdict"""
  }

  /** Weight-proportional source interleaving — the deterministic "data
    * loader order" a trainer consumes: stride scheduling (WFQ) where doc k
    * of a weight-w source runs at virtual time k*L/w (L = lcm of weights
    * keeps it integer-exact), and the global schedule is the
    * virtual-time order. Over any prefix of the schedule each source's
    * share converges to its weight, and the order is a pure function of
    * (doc_id, source) — stable under re-partitioning and re-ingestion,
    * which rand()-shuffled loaders are not. One window per source + one
    * global sort of the head. */
  def p14InterleaveSchedule(t: T, take: Int = 200): DataFrame = {
    import t.spark.implicits._
    val w = Window.partitionBy($"source").orderBy($"doc_id")
    val weighted = t.documents
      .select($"doc_id", $"source")
      .withColumn("rn", row_number().over(w).cast("long"))
      // weights: src1 -> 3, src2 -> 2, everything else 1; L = lcm = 6
      .withColumn("wt",
        when($"source" === "src1", 3L).when($"source" === "src2", 2L).otherwise(1L))
      .withColumn("vt", expr("rn * 6 DIV wt"))
    weighted
      .orderBy($"vt", $"source", $"rn")
      .limit(take)
      .select(
        row_number().over(Window.orderBy($"vt", $"source", $"rn")).cast("long").as("position"),
        $"doc_id", $"source", $"vt")
      .orderBy($"position")
  }

  val p14Oracle: String =
    """WITH weighted AS (
         SELECT doc_id, source,
           ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rn,
           CASE source WHEN 'src1' THEN 3 WHEN 'src2' THEN 2 ELSE 1 END AS wt
         FROM documents),
       vtimes AS (
         SELECT doc_id, source, rn, (rn * 6 // wt)::BIGINT AS vt FROM weighted),
       sched AS (
         SELECT doc_id, source, vt,
           ROW_NUMBER() OVER (ORDER BY vt, source, rn) AS position
         FROM vtimes)
       SELECT position::BIGINT AS position, doc_id, source, vt
       FROM sched WHERE position <= 200 ORDER BY position"""

  /** Token-budget batch packing: assign consecutive docs (doc_id order) to
    * training batches of ~4096 tokens — batch = starting-offset DIV budget,
    * i.e. a doc opens a new batch when the running total crosses the next
    * budget boundary (the streaming packer's behavior). The global
    * running sum is [[GlobalOrder]]'s two-pass prefix sum (guide §2.4) —
    * a distributed range partition plus broadcast offsets, not a
    * single-partition window. Output is per-batch, so the packing
    * decisions themselves are what the oracle hashes. */
  def p15PackBatches(t: T, budget: Int = 4096): DataFrame = {
    import t.spark.implicits._
    GlobalOrder.withRunningSum(
        t.documents.select($"doc_id", size(split($"text", " ")).cast("long").as("tokens")),
        Seq($"doc_id"), $"tokens", "cum")
      .withColumn("batch_id", expr(s"(cum - tokens) DIV $budget"))
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("batch_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"batch_id")
  }

  val p15Oracle: String =
    """WITH d AS (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tokens FROM documents),
       c AS (SELECT doc_id, tokens,
                    SUM(tokens) OVER (ORDER BY doc_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
             FROM d)
       SELECT ((cum - tokens) // 4096)::BIGINT AS batch_id,
              COUNT(*) AS n_docs, SUM(tokens)::BIGINT AS batch_tokens,
              MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
       FROM c GROUP BY 1 ORDER BY batch_id"""

  /** Quality-weighted dedup keeper: per near-dup cluster (d07's connected
    * components), keep the HIGHEST-QUALITY member by t03's integer quality
    * score (doc_id tiebreak) — the industry keep-policy (d12 keeps by
    * length; production curation keeps by quality). Composes d07 ∘ t03 with
    * one per-cluster window; every stage shuffles on its natural key. */
  def p16QualityKeeper(t: T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    graft.functions.Registry.ensure(t.spark)
    val clusters = Dedup.connectedComponents(
      Dedup.d04MinhashLshPairs(t).select($"doc_a", $"doc_b"))
    val quality = TextAnalysis.t03QualityScore(t).select($"doc_id", $"quality_bp")
    // argmax keeper as a partial aggregate (max_by/max on
    // struct(quality_bp, -doc_id) IS the (quality DESC, doc_id ASC) rank-1
    // row) — map-side reduction instead of a per-cluster window sort
    clusters.join(quality, "doc_id")
      .groupBy($"cluster_id")
      .agg(count(lit(1)).as("n_docs"),
        max_by($"doc_id", struct($"quality_bp", (-$"doc_id").as("nid"))).as("keeper_id"),
        max(struct($"quality_bp", (-$"doc_id").as("nid")))
          .getField("quality_bp").as("keeper_quality_bp"),
        min($"quality_bp").as("min_quality_bp"))
      .orderBy($"cluster_id")
  }

  val p16Oracle: String =
    s"""WITH hs AS (SELECT doc_id, ${Dedup.shingleHashesDuck} AS h FROM documents),
       sigs AS (SELECT doc_id, h, ${Dedup.minhashSigDuck} AS sig FROM hs),
       bands AS (
         SELECT doc_id, b, array_to_string(sig[b * 8 + 1 : b * 8 + 8], ',') AS bkey
         FROM sigs, range(0, 4) t(b)),
       cand AS (
         SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b
         FROM bands x JOIN bands y ON x.b = y.b AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
       pairs AS (
         SELECT doc_a, doc_b
         FROM cand JOIN hs a ON a.doc_id = doc_a JOIN hs b ON b.doc_id = doc_b
         WHERE len(list_intersect(a.h, b.h)) * 10000 // (len(a.h) + len(b.h) - len(list_intersect(a.h, b.h))) >= 8000),
       edges AS (SELECT doc_a AS s, doc_b AS d FROM pairs
                 UNION ALL SELECT doc_b, doc_a FROM pairs),
       reach AS (
         WITH RECURSIVE r(doc, label) AS (
           SELECT s, s FROM edges
           UNION
           SELECT e.d, r.label FROM r JOIN edges e ON e.s = r.doc
         ) SELECT doc, MIN(label) AS cluster_id FROM r GROUP BY doc),
       q AS (
         SELECT doc_id,
                ((n_dis * 10000) // n_tok) * 5 // 10 + LEAST(n_tok, 100) * 30
                  + ((n_stop * 10000) // n_tok) * 2 // 10 AS quality_bp
         FROM (SELECT doc_id,
                 CAST(len(string_split(text,' ')) AS BIGINT) AS n_tok,
                 CAST(len(list_distinct(string_split(text,' '))) AS BIGINT) AS n_dis,
                 CAST(len(list_filter(string_split(text,' '),
                          t -> t IN ('the','a','of','and','to','in','is'))) AS BIGINT) AS n_stop
               FROM documents)),
       ranked AS (
         SELECT cluster_id, doc AS doc_id, quality_bp,
                row_number() OVER (PARTITION BY cluster_id
                                   ORDER BY quality_bp DESC, doc) AS rk
         FROM reach JOIN q ON q.doc_id = reach.doc)
       SELECT cluster_id, COUNT(*) AS n_docs,
              MIN(CASE WHEN rk = 1 THEN doc_id END) AS keeper_id,
              MIN(CASE WHEN rk = 1 THEN quality_bp END)::BIGINT AS keeper_quality_bp,
              MIN(quality_bp)::BIGINT AS min_quality_bp
       FROM ranked GROUP BY cluster_id ORDER BY cluster_id"""

  /** Temperature-scaled source mixture (alpha = 0.5): target share of each
    * source ∝ sqrt(its token count) — the standard downweighting that stops
    * giant sources from drowning small ones (multilingual alpha-sampling).
    * sqrt over an exact integer is correctly-rounded IEEE in both engines,
    * and floor(. * 100) pins it to an exact integer weight before any
    * ratio; shares and targets are then pure int64 arithmetic. One narrow
    * aggregate + two scalar window sums over |sources| rows. */
  def p17SqrtTemperature(t: T): DataFrame = {
    import t.spark.implicits._
    // the two total windows run over the per-SOURCE rollup — bounded by
    // the source census at any corpus size (p22's "trivially safe"
    // discipline), so the empty partition spec is deliberate (examined
    // r15, same verdict as p09)
    import org.apache.spark.sql.expressions.Window
    t.documents
      .select($"source", size(split($"text", " ")).cast("long").as("n_tok"))
      .groupBy($"source").agg(sum($"n_tok").as("src_toks"))
      .withColumn("weight",
        expr("CAST(FLOOR(SQRT(CAST(src_toks AS DOUBLE)) * 100) AS BIGINT)"))
      .withColumn("tot_w", sum($"weight").over(Window.partitionBy()))
      .withColumn("tot_toks", sum($"src_toks").over(Window.partitionBy()))
      .select($"source", $"src_toks", $"weight",
        expr("weight * 10000 DIV tot_w").as("share_bp"),
        expr("tot_toks * (weight * 10000 DIV tot_w) DIV 10000").as("target_toks"))
      .orderBy($"source")
  }

  val p17Oracle: String =
    """WITH src AS (
         SELECT source, SUM(len(string_split(text, ' ')))::BIGINT AS src_toks
         FROM documents GROUP BY source),
       wts AS (
         SELECT source, src_toks,
                FLOOR(SQRT(src_toks::DOUBLE) * 100)::BIGINT AS weight
         FROM src),
       tot AS (
         SELECT source, src_toks, weight,
                SUM(weight) OVER () AS tot_w,
                SUM(src_toks) OVER () AS tot_toks
         FROM wts)
       SELECT source, src_toks, weight,
              (weight * 10000 // tot_w)::BIGINT AS share_bp,
              (tot_toks * (weight * 10000 // tot_w) // 10000)::BIGINT AS target_toks
       FROM tot ORDER BY source"""

  /** Deterministic per-epoch training shuffle: each epoch orders the corpus
    * by an LCG hash of (doc_id, epoch) — reproducible, seedable, and
    * uncorrelated across epochs, with doc_id as the tie-break. The property
    * a training pipeline needs from "shuffle": the SAME order on every
    * rerun of the same epoch, a DIFFERENT order across epochs, no data
    * movement beyond one sort (at scale: range-partition on the hash). */
  def p18EpochShuffle(t: T, epochs: Int = 2): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy($"epoch").orderBy($"shuffle_key", $"doc_id")
    t.documents.select($"doc_id")
      .crossJoin(t.spark.range(0, epochs).toDF("epoch"))
      .withColumn("shuffle_key",
        expr("(doc_id * 1103515245 + 12345 + epoch * 54321) % 2147483647"))
      .withColumn("pos", row_number().over(w).cast("long"))
      .select($"epoch", $"doc_id", $"pos")
      .orderBy($"epoch", $"pos")
  }

  val p18Oracle: String =
    """SELECT epoch, doc_id,
              ROW_NUMBER() OVER (PARTITION BY epoch
                                 ORDER BY (doc_id * 1103515245 + 12345 + epoch * 54321) % 2147483647,
                                          doc_id)::BIGINT AS pos
       FROM documents, range(0, 2) r(epoch)
       ORDER BY epoch, pos"""

  /** Contamination-aware split assignment: p01's content-hash split with
    * p04's benchmark-overlap gate composed on top — a doc sharing any
    * 5-gram with the held-out benchmark (src0) may NOT land in valid/test
    * (its membership would leak benchmark text into evaluation), so it is
    * quarantined to train; src0 itself never enters the corpus. This is
    * the composition every production curation run performs between
    * "split by hash" and "ship the eval set". Per final split: doc count,
    * quarantine count, token count. Scale shape: the gram semi-join is
    * p04's (one shuffle on gram), the split is map-side hashing. */
  def p19CleanEvalSplit(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val corpus = t.documents.filter($"source" =!= "src0")
    val grams = fiveGrams(corpus).select($"doc_id", $"gram")
    val holdout = fiveGrams(t.documents.filter($"source" === "src0"))
      .select($"gram").distinct()
    val tainted = grams.join(holdout, Seq("gram"), "left_semi")
      .select($"doc_id").distinct().withColumn("bad", lit(true))
    corpus
      .withColumn("bucket",
        pmod(expr("weighted_fingerprint(shingle_hashes(text, 4, false))"), lit(100)))
      .withColumn("split0",
        when($"bucket" < 80, "train").when($"bucket" < 90, "valid").otherwise("test"))
      .join(tainted, Seq("doc_id"), "left")
      .withColumn("quarantined", coalesce($"bad", lit(false)) && $"split0" =!= "train")
      .withColumn("split", when($"quarantined", "train").otherwise($"split0"))
      .groupBy($"split")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"quarantined", 1L).otherwise(0L)).as("n_quarantined"),
        sum(size(split($"text", " ")).cast("long")).as("n_tokens"))
      .orderBy($"split")
  }

  val p19Oracle: String =
    s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       g AS (SELECT DISTINCT doc_id, source,
               unnest(list_transform(range(1, len(ts) - 3),
                        i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS gram
             FROM tok),
       hold AS (SELECT DISTINCT gram FROM g WHERE source = 'src0'),
       cont AS (SELECT DISTINCT doc_id FROM g JOIN hold USING (gram)
                WHERE source <> 'src0'),
       fp AS (SELECT doc_id, text, $fpDuck % 100 AS bucket
              FROM documents WHERE source <> 'src0'),
       s AS (SELECT doc_id, text,
               CASE WHEN bucket < 80 THEN 'train' WHEN bucket < 90 THEN 'valid'
                    ELSE 'test' END AS split0,
               doc_id IN (SELECT doc_id FROM cont) AS bad
             FROM fp)
       SELECT CASE WHEN bad AND split0 <> 'train' THEN 'train' ELSE split0 END AS split,
              COUNT(*) AS n_docs,
              SUM(CASE WHEN bad AND split0 <> 'train' THEN 1 ELSE 0 END)::BIGINT
                AS n_quarantined,
              SUM(len(string_split(text, ' ')))::BIGINT AS n_tokens
       FROM s GROUP BY 1 ORDER BY split"""

  /** Per-source dataset card: the summary block a curation run publishes
    * with each snapshot — volume (docs, tokens), t03's quality score
    * averaged, exact-duplicate share (md5 text-hash multiplicity, d01's
    * key), and language spread. One doc-level pass + one hash-group join;
    * every aggregate is integer-exact. The per-source rows are what mixture
    * design (p09/p17) and quota capping (p08) consume as input. */
  def p20DatasetCard(t: T): DataFrame = {
    import t.spark.implicits._
    // t03's ACTUAL query (not a re-statement of its formula) supplies the
    // per-doc quality score, the same way p21 reuses d09 and s10 reuses s02
    val quality = TextAnalysis.t03QualityScore(t).select($"doc_id", $"quality_bp")
    val scored = t.documents
      .withColumn("n_tok", size(split($"text", " ")).cast("long"))
      .join(quality, "doc_id")
    val dupCounts = t.documents
      .groupBy(md5($"text").as("h")).agg(count(lit(1)).as("c"))
    scored.withColumn("h", md5($"text"))
      .join(dupCounts, "h")
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"n_tok").as("n_tokens"),
        expr("SUM(quality_bp) DIV COUNT(1)").as("mean_quality_bp"),
        sum(when($"c" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        countDistinct($"lang").as("n_langs"))
      .withColumn("dup_bp", expr("n_dup_docs * 10000 DIV n_docs"))
      .orderBy($"source")
  }

  /** The t03 oracle verbatim as a nested CTE (its quality_bp is the
    * contract), joined back to the corpus for source/lang/token rollup. */
  val p20Oracle: String =
    s"""WITH q3 AS (${TextAnalysis.t03Oracle}),
       b AS (SELECT doc_id, source, lang, text,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
             FROM documents),
       d AS (SELECT md5(text) AS h, COUNT(*) AS c FROM documents GROUP BY 1)
       SELECT source, COUNT(*) AS n_docs, SUM(n_tok)::BIGINT AS n_tokens,
              (SUM(quality_bp) // COUNT(*))::BIGINT AS mean_quality_bp,
              SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
              COUNT(DISTINCT lang) AS n_langs,
              (SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) * 10000
                 // COUNT(*))::BIGINT AS dup_bp
       FROM b JOIN q3 USING (doc_id) JOIN d ON d.h = md5(b.text)
       GROUP BY source ORDER BY source"""

  /** Effective token count per source: tokens discounted by d09's
    * substring-duplication coverage — "10 B tokens of which 40% is
    * boilerplate is 6 B effective tokens", the deduplicated-data-size
    * number scaling-law planning actually consumes (cf. the repeated-data
    * discount in Muennighoff et al. 2023). Per-doc discount in exact
    * integer bp, then one rollup per source. */
  def p21EffectiveTokens(t: T): DataFrame = {
    import t.spark.implicits._
    val cov = Dedup.d09SubstringDupCoverage(t).select($"doc_id", $"dup_bp")
    t.documents
      .select($"doc_id", $"source", size(split($"text", " ")).cast("long").as("tokens"))
      .join(cov, "doc_id")
      .withColumn("eff", expr("tokens * (10000 - dup_bp) DIV 10000"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum($"tokens").as("n_tokens"),
        sum($"eff").as("effective_tokens"))
      .withColumn("eff_bp", expr("effective_tokens * 10000 DIV n_tokens"))
      .orderBy($"source")
  }

  /** The d09 oracle verbatim as a nested CTE, discounted and rolled up. */
  val p21Oracle: String =
    s"""WITH cov AS (${Dedup.d09Oracle}),
       d AS (SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
             FROM documents)
       SELECT source, COUNT(*) AS n_docs, SUM(tokens)::BIGINT AS n_tokens,
              SUM(tokens * (10000 - dup_bp) // 10000)::BIGINT AS effective_tokens,
              (SUM(tokens * (10000 - dup_bp) // 10000) * 10000
                 // SUM(tokens))::BIGINT AS eff_bp
       FROM d JOIN cov USING (doc_id)
       GROUP BY source ORDER BY source"""

  /** Water-filling source caps: given a token budget (60% of the corpus),
    * find the unique water level `cap` such that charging every source
    * min(its tokens, cap) spends the budget — the closed-form solver behind
    * "cap the over-represented sources, keep the small ones whole" mixture
    * balancing (p08 applies a FIXED cap; this computes the right one).
    * Closed form over sorted prefix sums: the first k (ascending sizes)
    * where prefix_k + (n-k)·size_k covers the budget pins
    * cap = (budget - prefix_k) DIV (n-k). All integer arithmetic; the
    * window runs over the per-SOURCE rollup (20 rows), not the corpus, so
    * the single-partition sort is trivially safe at any scale. */
  def p22SourceWaterfill(t: T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val sizes = t.documents.groupBy($"source")
      .agg(sum(size(split($"text", " ")).cast("long")).as("tokens"))
    val tot = sizes.agg(sum($"tokens").as("total"), count(lit(1)).as("n_src"))
    val w = Window.orderBy($"tokens", $"source")
    val ordered = sizes.crossJoin(broadcast(tot))
      .withColumn("budget", expr("total * 6 DIV 10"))
      .withColumn("prefix", coalesce(
        sum($"tokens").over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("k", row_number().over(w) - 1)
    val cap = ordered
      .filter(expr("prefix + (n_src - k) * tokens >= budget"))
      .orderBy($"k").limit(1)
      .selectExpr("(budget - prefix) DIV (n_src - k) AS cap")
    ordered.crossJoin(broadcast(cap))
      .select($"source", $"tokens",
        least($"tokens", $"cap").as("allocation"),
        ($"tokens" > $"cap").as("capped"),
        $"cap", $"budget")
      .orderBy($"source")
  }

  val p22Oracle: String =
    """WITH sizes AS (SELECT source,
               SUM(len(string_split(text, ' ')))::BIGINT AS tokens
             FROM documents GROUP BY source),
       tot AS (SELECT SUM(tokens)::BIGINT AS total, COUNT(*) AS n_src FROM sizes),
       ordered AS (SELECT source, tokens, n_src, total * 6 // 10 AS budget,
               COALESCE(SUM(tokens) OVER (ORDER BY tokens, source
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prefix,
               ROW_NUMBER() OVER (ORDER BY tokens, source) - 1 AS k
             FROM sizes CROSS JOIN tot),
       cap AS (SELECT (budget - prefix) // (n_src - k) AS cap FROM ordered
               WHERE prefix + (n_src - k) * tokens >= budget
               ORDER BY k LIMIT 1)
       SELECT source, tokens, LEAST(tokens, cap)::BIGINT AS allocation,
              (tokens > cap) AS capped, cap::BIGINT AS cap,
              budget::BIGINT AS budget
       FROM ordered CROSS JOIN cap ORDER BY source"""

  /** Padding-waste report for length-sorted batching: docs ranked by token
    * count form fixed-size batches of 8; per batch the pad waste is
    * n·max − Σtokens (every sequence pads to the batch max). Length-sorted
    * batching is THE standard trick to shrink this number — the report
    * quantifies what it achieves, per batch and in basis points, so the
    * batching policy is measured rather than assumed. Same ranked-window
    * shape as p15 (tiny per-source rollup at 100 TB: rank within source). */
  def p23PaddingWaste(t: T, batchSize: Int = 8): DataFrame = {
    import t.spark.implicits._
    // two-pass global rank (GlobalOrder, guide §2.4) instead of the
    // single-partition row_number window; DIV is LongType either way
    GlobalOrder.withRowNumber(
        t.documents.select($"doc_id", size(split($"text", " ")).cast("long").as("tokens")),
        Seq($"tokens", $"doc_id"), "rk")
      .withColumn("batch_id", expr(s"(rk - 1) DIV $batchSize"))
      .groupBy($"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max($"tokens").as("max_tokens"),
        sum($"tokens").as("sum_tokens"))
      .withColumn("pad_waste", expr("n_docs * max_tokens - sum_tokens"))
      .withColumn("waste_bp", expr("pad_waste * 10000 DIV (n_docs * max_tokens)"))
      .orderBy($"batch_id")
  }

  val p23Oracle: String =
    """WITH d AS (SELECT doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
             FROM documents),
       r AS (SELECT tokens,
               ROW_NUMBER() OVER (ORDER BY tokens, doc_id) AS rk
             FROM d),
       b AS (SELECT ((rk - 1) // 8)::BIGINT AS batch_id, COUNT(*) AS n_docs,
               MAX(tokens)::BIGINT AS max_tokens, SUM(tokens)::BIGINT AS sum_tokens
             FROM r GROUP BY 1)
       SELECT batch_id, n_docs, max_tokens, sum_tokens,
              (n_docs * max_tokens - sum_tokens)::BIGINT AS pad_waste,
              ((n_docs * max_tokens - sum_tokens) * 10000
                 // (n_docs * max_tokens))::BIGINT AS waste_bp
       FROM b ORDER BY batch_id"""

  /** [[p23PaddingWaste]]'s 100 TB form: rank and batch WITHIN each source,
    * so the window partitions by a real key instead of pulling the corpus
    * into one partition — the mitigation p23's docstring only documented.
    * Per-source batching is also what a sharded loader actually does (each
    * source's shard set is length-sorted independently); the report gains a
    * source column and loses nothing else. */
  def p24PaddingWastePerSource(t: T, batchSize: Int = 8): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    t.documents
      .select($"source", $"doc_id", size(split($"text", " ")).cast("long").as("tokens"))
      .withColumn("rk", row_number().over(
        Window.partitionBy($"source").orderBy($"tokens", $"doc_id")))
      .withColumn("batch_id", expr(s"(rk - 1) DIV $batchSize"))
      .groupBy($"source", $"batch_id")
      .agg(count(lit(1)).as("n_docs"),
        max($"tokens").as("max_tokens"),
        sum($"tokens").as("sum_tokens"))
      .withColumn("pad_waste", expr("n_docs * max_tokens - sum_tokens"))
      .withColumn("waste_bp", expr("pad_waste * 10000 DIV (n_docs * max_tokens)"))
      .orderBy($"source", $"batch_id")
  }

  val p24Oracle: String =
    """WITH d AS (SELECT source, doc_id,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS tokens
             FROM documents),
       r AS (SELECT source, tokens,
               ROW_NUMBER() OVER (PARTITION BY source ORDER BY tokens, doc_id) AS rk
             FROM d),
       b AS (SELECT source, ((rk - 1) // 8)::BIGINT AS batch_id, COUNT(*) AS n_docs,
               MAX(tokens)::BIGINT AS max_tokens, SUM(tokens)::BIGINT AS sum_tokens
             FROM r GROUP BY 1, 2)
       SELECT source, batch_id, n_docs, max_tokens, sum_tokens,
              (n_docs * max_tokens - sum_tokens)::BIGINT AS pad_waste,
              ((n_docs * max_tokens - sum_tokens) * 10000
                 // (n_docs * max_tokens))::BIGINT AS waste_bp
       FROM b ORDER BY source, batch_id"""

  /** Passage chunking for retrieval indexing: fixed 256-char windows with
    * 64-char overlap (stride 192) — the RAG-prep step that turns documents
    * into embeddable passages. Pure map-side: one transform+posexplode per
    * doc, no shuffle until the output sort; emitted columns are the chunk's
    * digest and length, never the text twice. Chunk count = floor((len-1)/
    * stride)+1, i.e. every char is covered and the tail chunk may be short. */
  def p25PassageChunks(t: T): DataFrame = {
    import t.spark.implicits._
    t.documents
      .filter(length($"text") > 0)
      .select($"doc_id", posexplode(expr(
        """transform(sequence(0, CAST((length(text) - 1) DIV 192 AS INT)),
             i -> substring(text, i * 192 + 1, 256))""")).as(Seq("chunk_idx", "chunk")))
      .select($"doc_id", $"chunk_idx".cast("long").as("chunk_idx"),
        length($"chunk").cast("long").as("n_chars"), md5($"chunk").as("chunk_md5"))
      .orderBy($"doc_id", $"chunk_idx")
  }

  /** Chunk starts enumerated to 1024 (196 KiB of text) with the m03-style
    * hard-error cap guard: a longer doc fails the oracle loudly. */
  val p25Oracle: String =
    """SELECT doc_id, i::BIGINT AS chunk_idx,
         length(sub)::BIGINT AS n_chars, md5(sub) AS chunk_md5
       FROM (SELECT doc_id, i, substr(text, (i * 192 + 1)::INT, 256) AS sub
             FROM documents, range(0, 1024) r(i)
             WHERE length(text) > 0 AND i * 192 < length(text))
       WHERE (SELECT CASE WHEN max(length(text)) > 196608
                          THEN error('p25 oracle chunk cap exceeded')
                          ELSE 1 END FROM documents) = 1
       ORDER BY doc_id, chunk_idx"""

  /** Soft dedup (SemDeDup-style sampling reweight): instead of DROPPING
    * near-duplicates, weight every doc by 1/|its d07 dedup cluster| so each
    * duplicated item contributes one document's worth of sampling mass in
    * total. Per source: raw docs, duplicated docs, effective doc mass (basis
    * points — 10000 DIV cluster_size summed, integer-exact cross-engine) and
    * the sampling-mass haircut the reweight applies. 100 TB: the cluster-size
    * table is tiny (one row per dup cluster, broadcast); everything else is
    * the one groupBy(source) exchange. */
  def p26SoftDedupWeights(t: T): DataFrame = {
    import t.spark.implicits._
    val cl = Dedup.d07DedupClusters(t)
    val sizes = cl.groupBy($"cluster_id").agg(count(lit(1)).as("csize"))
    val weighted = t.documents.select($"doc_id", $"source")
      .join(cl.join(broadcast(sizes), "cluster_id").select($"doc_id", $"csize"),
        Seq("doc_id"), "left")
      .withColumn("csize", coalesce($"csize", lit(1L)))
      .withColumn("weight_bp", expr("10000 DIV csize"))
    weighted.groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"csize" > 1, 1L).otherwise(0L)).as("n_dup_docs"),
        sum($"weight_bp").as("eff_docs_bp"))
      .withColumn("haircut_bp", expr("10000 - eff_docs_bp DIV n_docs"))
      .orderBy($"source")
  }

  /** d07's CC oracle verbatim as a CTE, reweighted per source. */
  val p26Oracle: String =
    s"""WITH cc AS (${Dedup.d07Oracle}),
       sizes AS (SELECT cluster_id, COUNT(*) AS csize FROM cc GROUP BY 1),
       weighted AS (
         SELECT d.doc_id, d.source, COALESCE(s.csize, 1) AS csize
         FROM documents d
         LEFT JOIN (SELECT cc.doc_id, sizes.csize
                    FROM cc JOIN sizes USING (cluster_id)) s
           ON d.doc_id = s.doc_id)
       SELECT source, COUNT(*) AS n_docs,
              SUM(CASE WHEN csize > 1 THEN 1 ELSE 0 END)::BIGINT AS n_dup_docs,
              SUM(10000 // csize)::BIGINT AS eff_docs_bp,
              (10000 - SUM(10000 // csize) // COUNT(*))::BIGINT AS haircut_bp
       FROM weighted GROUP BY source ORDER BY source"""

  /** SEMANTIC contamination screen — the embedding-space sibling of p04
    * (exact n-gram) and p12 (Bloom): an eval vector is contaminated if some
    * TRAIN vector sits within cosine 0.3, found via s02's hyperplane-LSH
    * buckets probed asymmetrically (eval side only, d21's ingest shape).
    * Candidates carry ids only; vectors rejoin by broadcast; exact cosine
    * verifies. Per contaminated eval vector: hit count and the max
    * (rounded) cosine — max over doubles is order-independent, so the
    * float is safe cross-engine. */
  def p27SemanticContam(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    val bands = Similarity.idBands(t)
    val evalB = bands.filter($"vec_id" % 10 === 0)
      .select($"tbl".as("qt"), $"bucket".as("qb"), $"vec_id".as("eval_id"))
    val trainB = bands.filter($"vec_id" % 10 =!= 0)
      .select($"tbl", $"bucket", $"vec_id".as("train_id"))
    val cand = trainB.join(evalB, $"tbl" === $"qt" && $"bucket" === $"qb")
      .select($"eval_id", $"train_id").distinct()
    val hint = BroadcastGate.vectorHint(t.embeddings)
    val ee = t.embeddings.select($"vec_id".as("eval_id"), $"embedding".as("qe"))
    val te = t.embeddings.select($"vec_id".as("train_id"), $"embedding".as("ce"))
    cand.join(hint(ee), "eval_id").join(hint(te), "train_id")
      .select($"eval_id", $"train_id",
        (round(expr("cosine_sim(qe, ce)"), 4) + lit(0.0)).as("cos"))
      .filter($"cos" >= 0.3)
      .groupBy($"eval_id")
      .agg(count(lit(1)).as("n_hits"), max($"cos").as("max_cosine"))
      .orderBy($"eval_id")
  }

  /** s02's banding CTEs, asymmetric probe, thresholded + aggregated. */
  val p27Oracle: String =
    """WITH sigs AS (
         SELECT vec_id, embedding,
           list_sum(list_transform(range(0, 32), m ->
             CASE WHEN list_sum(list_transform(range(1, 65), i ->
               embedding[i]::DOUBLE * ((((m + 1) * 37 + i * 101) % 97 % 2) * 2 - 1))) > 0
             THEN 1::BIGINT << m::INT ELSE 0::BIGINT END)) AS sig
         FROM embeddings),
       bands AS (
         SELECT vec_id, t AS tbl, (sig >> (t * 8)::INT) & 255 AS bucket
         FROM sigs, range(0, 4) r(t)),
       cand AS (
         SELECT DISTINCT q.vec_id AS eval_id, c.vec_id AS train_id
         FROM bands q JOIN bands c ON q.tbl = c.tbl AND q.bucket = c.bucket
         WHERE q.vec_id % 10 = 0 AND c.vec_id % 10 <> 0),
       ver AS (
         SELECT eval_id, train_id,
           ROUND(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))
                 / sqrt(list_sum(list_transform(range(1, 65), i -> a.embedding[i]::DOUBLE * a.embedding[i]::DOUBLE))
                      * list_sum(list_transform(range(1, 65), i -> b.embedding[i]::DOUBLE * b.embedding[i]::DOUBLE))), 4)
           + 0.0 AS cos
         FROM cand JOIN embeddings a ON a.vec_id = eval_id
                   JOIN embeddings b ON b.vec_id = train_id)
       SELECT eval_id, COUNT(*) AS n_hits, MAX(cos) AS max_cosine
       FROM ver WHERE cos >= 0.3 GROUP BY 1 ORDER BY eval_id"""

  /** Context-length frontier for sequence packing — the pretraining sizing
    * decision s19 makes for ANN, made for the packer: at context length
    * L ∈ {512, 2048, 8192}, how many sequences does the corpus pack into
    * (p15's gapless start-bin assignment), how full are they, how many
    * docs share a sequence, and how many bins overflow their budget
    * (fill_bp > 10000 = the long-doc overflow share p15 documents). Longer
    * contexts pack denser but concentrate long-doc overflow; the elbow
    * prices the context-extension decision in wasted FLOPs. One token
    * census, one running-sum window per arm, three single-row aggregates. */
  def p28ContextSweep(t: T): DataFrame = {
    import t.spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // two-pass global prefix sum (GlobalOrder, guide §2.4) instead of the
    // single-partition cumsum window
    val toks = GlobalOrder.withRunningSum(
        t.documents.select($"doc_id", size(split($"text", " ")).cast("long").as("tokens")),
        Seq($"doc_id"), $"tokens", "cum")
      .localCheckpoint() // three sweep arms reuse the census
    val arms = Seq(512, 2048, 8192).map { budget =>
      toks
        .withColumn("batch_id", expr(s"(cum - tokens) DIV $budget"))
        .groupBy($"batch_id")
        .agg(count(lit(1)).as("n_docs"), sum($"tokens").as("batch_tokens"))
        .agg(count(lit(1)).as("n_seqs"),
          sum($"n_docs").as("total_docs"),
          sum($"batch_tokens").as("total_tokens"),
          sum(when($"batch_tokens" > budget, 1L).otherwise(0L)).as("overflow_seqs"))
        .select(lit(budget.toLong).as("context_len"),
          $"n_seqs",
          expr("total_docs DIV n_seqs").as("docs_per_seq"),
          expr(s"total_tokens * 10000 DIV (n_seqs * $budget)").as("fill_bp"),
          $"overflow_seqs")
    }
    arms.reduce(_.unionByName(_)).orderBy($"context_len")
  }

  val p28Oracle: String = {
    def arm(budget: Int): String =
      s"""SELECT $budget::BIGINT AS context_len,
            COUNT(*)::BIGINT AS n_seqs,
            SUM(n_docs)::BIGINT // COUNT(*)::BIGINT AS docs_per_seq,
            SUM(batch_tokens)::BIGINT * 10000
              // (COUNT(*)::BIGINT * $budget) AS fill_bp,
            SUM(CASE WHEN batch_tokens > $budget THEN 1 ELSE 0 END)::BIGINT
              AS overflow_seqs
          FROM (SELECT (cum - tokens) // $budget AS batch_id,
                       COUNT(*) AS n_docs, SUM(tokens)::BIGINT AS batch_tokens
                FROM cum GROUP BY 1)"""
    s"""WITH toks AS (
         SELECT doc_id, len(string_split(text, ' '))::BIGINT AS tokens
         FROM documents),
       cum AS (
         SELECT doc_id, tokens,
                SUM(tokens) OVER (ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
         FROM toks)
       ${arm(512)} UNION ALL ${arm(2048)} UNION ALL ${arm(8192)}
       ORDER BY context_len"""
  }

  /** The end-to-end curation funnel — the attrition report every published
    * pretraining corpus ships (C4's table 1, RefinedWeb/FineWeb's funnel):
    * raw → quality cascade (p11's predicate) → exact dedup (d01's
    * 64-char-prefix hash, min-doc_id keeper) → near dedup (d04's LSH pairs →
    * CC → d12's longest-doc keeper, over the survivors only) → 5-gram
    * decontamination vs the frozen `src0` holdout (p04's arithmetic,
    * ≥20 % overlap rejects). One row per stage with surviving docs/tokens
    * and retained basis points vs raw.
    *
    * Composition is the point: every stage is the SAME one-definition
    * fragment its standalone query uses ([[qualityFlags]],
    * [[Dedup.lshPairs]], [[Dedup.keeperIdsOf]], [[fiveGrams]]), so the
    * funnel's semantics are pinned by the per-stage oracles, and the
    * survival flags are computed as columns in one labelled frame + one
    * conditional-aggregate pass (the LabellingRDD idiom) rather than five
    * chained anti-joins. Scale shape: each stage's machinery runs on its
    * shrinking survivor set — the collapse-before-pairing posture the 30×
    * probe demanded, as a user-facing operator. */
  /** The funnel's cumulative flag frames, one per stage — the SAME
    * definitions [[p29CurationFunnel]] aggregates, exposed so each
    * cumulative prefix can be timed (VERDICT r13 next-5) and
    * level-over-level growth attributed to a stage instead of the whole-row
    * wall. Order: quality → exact_dedup → near_dedup → decontaminated;
    * each frame carries the keep bits computed so far. */
  private[graft] def p29StageFrames(t: T): Seq[(String, DataFrame)] = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // 0) training corpus: src0 is the frozen eval holdout, never trained on
    val train = t.documents.filter($"source" =!= "src0")
      .select($"doc_id", $"text", $"n_chars",
        size(split($"text", " ")).cast("long").as("n_tokens"))
    // 1) quality cascade
    val base = train.join(
      qualityFlags(t).select($"doc_id", $"keep".as("q_keep")), "doc_id")
    // 2) exact dedup among quality survivors
    val exactKeep = base.filter($"q_keep")
      .groupBy(md5(substring($"text", 1, 64)).as("kh"))
      .agg(min($"doc_id").as("doc_id"))
      .select($"doc_id", lit(true).as("e_keep"))
    val withE = base.join(exactKeep, Seq("doc_id"), "left")
      .withColumn("e_keep", coalesce($"e_keep", lit(false)))
    // 3) near dedup among exact survivors — ROUTED through the d30
    // discipline (VERDICT r9 missing-2): the corpus's replica-mass verdict
    // picks raw LSH→CC→keeper vs collapse-first, so the flagship composed
    // operator inherits the routing plane on replica-heavy corpora
    val eDocs = withE.filter($"e_keep").select($"doc_id", $"text", $"n_chars")
    val nearKeep = Routing.nearDupKeepers(t.documents, eDocs)
      .select($"doc_id", lit(true).as("n_keep"))
    val withN = withE.join(nearKeep, Seq("doc_id"), "left")
      .withColumn("n_keep", coalesce($"n_keep", lit(false)))
    // 4) decontamination: >=20% distinct-5-gram overlap with holdout rejects
    val grams = fiveGrams(t.documents)
    val holdout = grams.filter($"source" === "src0")
      .select($"gram").distinct().withColumn("hit", lit(1L))
    val hint = BroadcastGate.censusHint(holdout) // p04's gate, same shape
    val contam = grams.filter($"source" =!= "src0")
      .join(hint(holdout), Seq("gram"), "left")
      .groupBy($"doc_id")
      .agg(expr("(SUM(coalesce(hit, 0L)) * 10000) DIV COUNT(1)").as("contam_bp"))
    val flags = withN.join(contam, Seq("doc_id"), "left")
      .withColumn("c_keep", $"n_keep" && (coalesce($"contam_bp", lit(0L)) < lit(2000L)))
    Seq("quality" -> base, "exact_dedup" -> withE,
      "near_dedup" -> withN, "decontaminated" -> flags)
  }

  def p29CurationFunnel(t: T): DataFrame = {
    import t.spark.implicits._
    val flags = p29StageFrames(t).last._2
    // one conditional-aggregate pass -> the five funnel rows
    flags.agg(
        count(lit(1)).as("raw_d"), sum($"n_tokens").as("raw_t"),
        sum(when($"q_keep", 1L).otherwise(0L)).as("q_d"),
        sum(when($"q_keep", $"n_tokens").otherwise(0L)).as("q_t"),
        sum(when($"e_keep", 1L).otherwise(0L)).as("e_d"),
        sum(when($"e_keep", $"n_tokens").otherwise(0L)).as("e_t"),
        sum(when($"n_keep", 1L).otherwise(0L)).as("n_d"),
        sum(when($"n_keep", $"n_tokens").otherwise(0L)).as("n_t"),
        sum(when($"c_keep", 1L).otherwise(0L)).as("c_d"),
        sum(when($"c_keep", $"n_tokens").otherwise(0L)).as("c_t"))
      .selectExpr(
        """stack(5,
             0L, 'raw',            raw_d, raw_t,
             1L, 'quality',        q_d,   q_t,
             2L, 'exact_dedup',    e_d,   e_t,
             3L, 'near_dedup',     n_d,   n_t,
             4L, 'decontaminated', c_d,   c_t)
           AS (stage_idx, stage, n_docs, n_tokens)""",
        "raw_d", "raw_t")
      .select($"stage_idx", $"stage", $"n_docs", $"n_tokens",
        expr("(n_docs * 10000) DIV raw_d").as("retained_docs_bp"),
        expr("(n_tokens * 10000) DIV raw_t").as("retained_tokens_bp"))
      .orderBy($"stage_idx")
  }

  val p29Oracle: String =
    s"""WITH $qualityCtesDuck,
       train AS (
         SELECT doc_id, text, n_chars,
                len(string_split(text, ' '))::BIGINT AS n_tokens
         FROM documents WHERE source <> 'src0'),
       base AS (
         SELECT t.*, q.keep AS q_keep
         FROM train t JOIN qflags q USING (doc_id)),
       ek AS (
         SELECT MIN(doc_id) AS doc_id FROM base WHERE q_keep
         GROUP BY md5(substr(text, 1, 64))),
       withe AS (
         SELECT b.*, (ek.doc_id IS NOT NULL) AS e_keep
         FROM base b LEFT JOIN ek ON b.doc_id = ek.doc_id),
       edocs AS (SELECT doc_id, text, n_chars FROM withe WHERE e_keep),
       ${Dedup.lshBandsDuckCtes(from = "edocs")},
       ${Dedup.lshPairsDuckCte},
       ${Dedup.ccDuckCtes("pairs")},
       ck AS (
         SELECT doc_id FROM (
           SELECT r.doc AS doc_id,
                  ROW_NUMBER() OVER (PARTITION BY r.cluster_id
                    ORDER BY e.n_chars DESC, r.doc) AS rk
           FROM reach r JOIN edocs e ON e.doc_id = r.doc) WHERE rk = 1),
       nk AS (
         SELECT doc_id FROM edocs WHERE doc_id NOT IN (SELECT doc FROM reach)
         UNION ALL SELECT doc_id FROM ck),
       withn AS (
         SELECT w.*, (nk.doc_id IS NOT NULL) AS n_keep
         FROM withe w LEFT JOIN nk ON w.doc_id = nk.doc_id),
       tok5 AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       g5 AS (SELECT DISTINCT doc_id, source,
                unnest(list_transform(range(1, len(ts) - 3),
                         i -> array_to_string(list_slice(ts, i, i + 4), ' '))) AS gram
              FROM tok5),
       hold AS (SELECT DISTINCT gram FROM g5 WHERE source = 'src0'),
       contam AS (
         SELECT ev.doc_id,
                (SUM(CASE WHEN h.gram IS NOT NULL THEN 1 ELSE 0 END) * 10000
                  // COUNT(*))::BIGINT AS contam_bp
         FROM (SELECT doc_id, gram FROM g5 WHERE source <> 'src0') ev
         LEFT JOIN hold h USING (gram) GROUP BY ev.doc_id),
       flags AS (
         SELECT w.doc_id, w.n_tokens, w.q_keep, w.e_keep, w.n_keep,
                (w.n_keep AND COALESCE(c.contam_bp, 0) < 2000) AS c_keep
         FROM withn w LEFT JOIN contam c USING (doc_id)),
       aggr AS (
         SELECT COUNT(*)::BIGINT AS raw_d, SUM(n_tokens)::BIGINT AS raw_t,
           SUM(CASE WHEN q_keep THEN 1 ELSE 0 END)::BIGINT AS q_d,
           SUM(CASE WHEN q_keep THEN n_tokens ELSE 0 END)::BIGINT AS q_t,
           SUM(CASE WHEN e_keep THEN 1 ELSE 0 END)::BIGINT AS e_d,
           SUM(CASE WHEN e_keep THEN n_tokens ELSE 0 END)::BIGINT AS e_t,
           SUM(CASE WHEN n_keep THEN 1 ELSE 0 END)::BIGINT AS n_d,
           SUM(CASE WHEN n_keep THEN n_tokens ELSE 0 END)::BIGINT AS n_t,
           SUM(CASE WHEN c_keep THEN 1 ELSE 0 END)::BIGINT AS c_d,
           SUM(CASE WHEN c_keep THEN n_tokens ELSE 0 END)::BIGINT AS c_t
         FROM flags),
       stages AS (
         SELECT 0 AS stage_idx, 'raw' AS stage, raw_d AS n_docs, raw_t AS n_tokens, raw_d, raw_t FROM aggr
         UNION ALL SELECT 1, 'quality',        q_d, q_t, raw_d, raw_t FROM aggr
         UNION ALL SELECT 2, 'exact_dedup',    e_d, e_t, raw_d, raw_t FROM aggr
         UNION ALL SELECT 3, 'near_dedup',     n_d, n_t, raw_d, raw_t FROM aggr
         UNION ALL SELECT 4, 'decontaminated', c_d, c_t, raw_d, raw_t FROM aggr)
       SELECT stage_idx::BIGINT AS stage_idx, stage, n_docs, n_tokens,
              (n_docs * 10000 // raw_d)::BIGINT AS retained_docs_bp,
              (n_tokens * 10000 // raw_t)::BIGINT AS retained_tokens_bp
       FROM stages ORDER BY stage_idx"""

  /** The ensemble members p30 audits: the four Gopher-style quality flags
    * (ONE definition, [[qualityFlags]]), the inverted t26 code detector,
    * and the language gate. */
  private val ensembleFilters =
    Seq("f_len", "f_wordlen", "f_stop", "f_rep", "f_notcode", "f_lang")

  /** Filter-ensemble agreement matrix — the curation diagnostic run before
    * trusting any single heuristic: for every pair of filters, on how many
    * docs do their verdicts coincide (diagonal rows = each filter's pass
    * count). One labelled frame + ONE conditional-aggregate pass over the
    * corpus (the LabellingRDD idiom p29 uses), then a 21-row stack — no
    * per-pair shuffle, no 36×-corpus explode, so the plan is a single scan
    * whatever the corpus size. A filter whose agreement with every other
    * member is low is the ensemble's outlier — the FineWeb-style ablation
    * signal computed as one query. */
  def p30FilterAgreement(t: T): DataFrame = {
    import t.spark.implicits._
    val names = ensembleFilters
    val flags = qualityFlags(t)
      .select($"doc_id", $"f_len", $"f_wordlen", $"f_stop", $"f_rep")
      .join(graft.operators.TextAnalysis.codeFlags(t)
        .select($"doc_id", (!$"is_code").as("f_notcode")), "doc_id")
      .join(t.documents.select($"doc_id", ($"lang" === "en").as("f_lang")), "doc_id")
    val aggs = for { i <- names.indices; j <- i until names.length } yield {
      if (i == j) sum(when(col(names(i)), 1L).otherwise(0L)).as(s"a_${i}_$j")
      else sum(when(col(names(i)) === col(names(j)), 1L).otherwise(0L)).as(s"a_${i}_$j")
    }
    val row = flags.agg(count(lit(1)).as("n_docs"), aggs: _*)
    val stackArgs = (for { i <- names.indices; j <- i until names.length } yield
      s"'${names(i)}', '${names(j)}', a_${i}_$j").mkString(", ")
    val nPairs = names.length * (names.length + 1) / 2
    row.select($"n_docs",
        expr(s"stack($nPairs, $stackArgs)").as(Seq("filter_a", "filter_b", "n_agree")))
      .select($"filter_a", $"filter_b", $"n_agree",
        expr("n_agree * 10000 DIV n_docs").as("agree_bp"))
      .orderBy($"filter_a", $"filter_b")
  }

  val p30Oracle: String = {
    val names = ensembleFilters
    val sums = (for { i <- names.indices; j <- i until names.length } yield
      if (i == j) s"SUM(CASE WHEN ${names(i)} THEN 1 ELSE 0 END)::BIGINT AS a_${i}_$j"
      else s"SUM(CASE WHEN ${names(i)} = ${names(j)} THEN 1 ELSE 0 END)::BIGINT AS a_${i}_$j"
      ).mkString(",\n           ")
    val rows = (for { i <- names.indices; j <- i until names.length } yield
      s"""SELECT '${names(i)}' AS filter_a, '${names(j)}' AS filter_b,
              a_${i}_$j AS n_agree, a_${i}_$j * 10000 // n_docs AS agree_bp FROM agg"""
      ).mkString("\n         UNION ALL ")
    s"""WITH $qualityCtesDuck,
       code AS (SELECT doc_id, is_code FROM (${graft.operators.TextAnalysis.t26Oracle})),
       flags AS (
         SELECT q.doc_id, q.f_len, q.f_wordlen, q.f_stop, q.f_rep,
                NOT c.is_code AS f_notcode, (d.lang = 'en') AS f_lang
         FROM qflags q JOIN code c USING (doc_id) JOIN documents d USING (doc_id)),
       agg AS (
         SELECT COUNT(*)::BIGINT AS n_docs,
           $sums
         FROM flags)
       $rows
       ORDER BY filter_a, filter_b"""
  }

  /** The code-filter cutoffs p31 sweeps (basis points of t26's code_bp). */
  private val codeCuts = Seq(500L, 1000L, 1500L, 2000L, 2500L, 3000L, 4000L)

  /** Calibration sweep for the t26 code filter (the d20 threshold-sweep
    * pattern applied to the newest ensemble member): for each candidate
    * cutoff, how many documents and how much character mass survive
    * "keep iff code_bp < cut". One conditional-aggregate pass over the
    * scored corpus + a 7-row stack — the curve a curator reads before
    * picking the production threshold, priced at one scan. */
  def p31CodeThresholdSweep(t: T): DataFrame = {
    import t.spark.implicits._
    val scored = graft.operators.TextAnalysis.codeFlags(t)
      .select($"doc_id", $"code_bp")
      .join(t.documents.select($"doc_id", $"n_chars"), "doc_id")
    val aggs = codeCuts.zipWithIndex.flatMap { case (c, i) => Seq(
      sum(when($"code_bp" < c, 1L).otherwise(0L)).as(s"d_$i"),
      sum(when($"code_bp" < c, $"n_chars").otherwise(0L)).as(s"c_$i")) }
    val row = scored.agg(count(lit(1)).as("n_docs"),
      sum($"n_chars").as("all_chars") +: aggs: _*)
    val stackArgs = codeCuts.zipWithIndex
      .map { case (c, i) => s"${c}L, d_$i, c_$i" }.mkString(", ")
    row.select($"n_docs", $"all_chars",
        expr(s"stack(${codeCuts.size}, $stackArgs)")
          .as(Seq("cut_bp", "kept_docs", "kept_chars")))
      .select($"cut_bp", $"kept_docs", $"kept_chars",
        expr("kept_docs * 10000 DIV n_docs").as("kept_docs_bp"),
        expr("kept_chars * 10000 DIV all_chars").as("kept_chars_bp"))
      .orderBy($"cut_bp")
  }

  val p31Oracle: String = {
    val sums = codeCuts.zipWithIndex.map { case (c, i) =>
      s"""SUM(CASE WHEN code_bp < $c THEN 1 ELSE 0 END)::BIGINT AS d_$i,
          SUM(CASE WHEN code_bp < $c THEN n_chars ELSE 0 END)::BIGINT AS c_$i"""
    }.mkString(",\n           ")
    val rows = codeCuts.zipWithIndex.map { case (c, i) =>
      s"""SELECT $c::BIGINT AS cut_bp, d_$i AS kept_docs, c_$i AS kept_chars,
              d_$i * 10000 // n_docs AS kept_docs_bp,
              c_$i * 10000 // all_chars AS kept_chars_bp FROM agg"""
    }.mkString("\n         UNION ALL ")
    s"""WITH code AS (SELECT doc_id, code_bp FROM (${graft.operators.TextAnalysis.t26Oracle})),
       scored AS (
         SELECT c.doc_id, c.code_bp, d.n_chars
         FROM code c JOIN documents d USING (doc_id)),
       agg AS (
         SELECT COUNT(*)::BIGINT AS n_docs, SUM(n_chars)::BIGINT AS all_chars,
           $sums
         FROM scored)
       $rows
       ORDER BY cut_bp"""
  }

  /** DSIR hashed-bigram model size: 2^8 buckets, the feature-hashing trick
    * at demo scale (the paper uses 10^4; the bucket count only moves
    * collision rate, not the plan shape). */
  private val DsirBuckets = 256
  /** The target-distribution side: src0, the same holdout convention as
    * p04/p12's contamination screens. */
  private val DsirTarget = "src0"

  /** p32 — DSIR-style importance resampling (Xie et al. 2023, "Data
    * Selection for Language Models via Importance Resampling"): score every
    * raw-side document by how much its hashed-bigram distribution looks
    * like the target side, then keep the top quarter. Bucket models are
    * add-one smoothed counts over `poly_hash(bigram) mod 256` (the p12
    * Horner family, so the DuckDB twin reproduces the exact buckets); the
    * per-bucket log-likelihood ratio is the established integer-bit device
    * (`length(bin(x)) − 1`, t06's surprisal), so a doc's score is the exact
    * integer Σ count_b · llr_b and the oracle is hash-exact. Selection is
    * the deterministic restatement of the paper's Gumbel resampling: top
    * ceil(n/4) by (score, doc_id).
    *
    * Scale shape: the model pass is explode → 256-row groupBy (map-side
    * partials collapse each partition to ≤256 rows); scoring is a broadcast
    * join of the 256-row llr table against the gram stream folded per doc;
    * selection (VERDICT r9 #1 rewrite) is a distributed rank threshold —
    * a score census (groupBy(score_bits), ≤ #distinct-scores rows on the
    * driver) picks the cutoff score by running sum, and the doc_id
    * tie-break at the cutoff resolves by 16-bit radix descent (≤ 4 linear
    * jobs, each collecting a ≤ 65536-row digit census). No quarter-corpus
    * TakeOrdered funnel, no driver mass that grows with n, and k stays a
    * Long throughout. Everything is linear in corpus tokens with one tiny
    * broadcast. */
  /** The hashed-bigram stream of a documents frame: one row per bigram
    * occurrence, bucketed by the p12 Horner hash. */
  private def dsirBigramBuckets(docs: DataFrame): DataFrame = {
    import docs.sparkSession.implicits._
    docs
      .select($"doc_id", $"source", split($"text", " ").as("w"))
      .select($"doc_id", $"source", explode(expr(
        """CASE WHEN size(w) >= 2
             THEN transform(sequence(1, size(w) - 1),
                            i -> concat_ws(' ', slice(w, i, 2)))
             ELSE array() END""")).as("gram"))
      .select($"doc_id", $"source", expr(s"poly_hash(gram) % $DsirBuckets").as("b"))
  }

  /** The trained DSIR model: per-bucket integer-bit llr, collected to the
    * driver (256 longs — smaller than an IVF centroid set) and memoized per
    * corpus file snapshot like the other trained models, so the scoring
    * pass carries it as a plan literal instead of recomputing the census
    * for every action that consumes the scored frame. */
  private val dsirModels = graft.Memo.lru[String, Array[Long]](64)

  /** Selection cutoff per corpus snapshot: (cutoff score, inclusive
    * tie-break doc_id). A row is selected iff
    * `score_bits > cut || (score_bits == cut && doc_id <= tie)`. */
  private val dsirCutoffs = graft.Memo.lru[String, (Long, Long)](64)

  private def dsirLlr(docs: DataFrame): Array[Long] = {
    def train(): Array[Long] = {
      import docs.sparkSession.implicits._
      val rows = dsirBigramBuckets(docs).groupBy($"b").agg(
          sum(when($"source" === DsirTarget, 1L).otherwise(0L)).as("ct"),
          sum(when($"source" =!= DsirTarget, 1L).otherwise(0L)).as("cr"))
        .collect().map(r => (r.getLong(0).toInt, r.getLong(1), r.getLong(2)))
      val ct = new Array[Long](DsirBuckets)
      val cr = new Array[Long](DsirBuckets)
      rows.foreach { case (b, t, r) => ct(b) = t; cr(b) = r }
      val nt = ct.sum + DsirBuckets
      val nr = cr.sum + DsirBuckets
      def ilog2(x: Long): Long = 63L - java.lang.Long.numberOfLeadingZeros(x)
      Array.tabulate(DsirBuckets)(b =>
        ilog2((ct(b) + 1) * nr) - ilog2((cr(b) + 1) * nt))
    }
    // plan-hash-aware key (ADVICE r9): a frame DERIVED from the same files
    // must not reuse the full corpus's trained model
    graft.Memo.snapshotKey(docs, "dsir") match {
      case None      => train()
      case Some(key) => dsirModels.computeIfAbsent(key, _ => {
        // registry key must survive JVM boundaries: semanticHash does not
        // (measured — see Memo.stableSnapshotKey), the canonical plan
        // string + file listing does
        val rkey = graft.Memo.stableSnapshotKey(docs, "dsir").getOrElse(key)
        graft.ModelRegistry.loadOrTrain1(docs.sparkSession, "dsir-llr", rkey)(train())
      })
    }
  }

  /** Spec/probe hook: forget in-JVM trained DSIR state (see
    * [[graft.operators.Similarity.clearModelMemo]]). */
  private[graft] def clearModelMemo(): Unit = {
    dsirModels.clear(); dsirCutoffs.clear()
  }

  /** Ceil(n/4) with k a Long end to end (VERDICT r9 #1: the old `.toInt`
    * silently overflowed past ~8.6 B raw docs — a wrong-k latent bug at
    * 100 TB scale). Written without `n + 3` so even n near Long.MaxValue
    * cannot wrap. */
  private[operators] def dsirK(n: Long): Long =
    n / 4 + (if (n % 4 != 0) 1L else 0L)

  /** Exact j-th smallest (1-indexed) value of a single long column `v`,
    * by 16-bit radix descent: at most 4 linear jobs over `vals`, each
    * collecting a ≤ 65536-row digit census — no single-partition top-k
    * merge, no driver mass that grows with the population. The sign-bit
    * XOR bias makes unsigned digit order equal signed numeric order, so
    * the descent is correct for any long. */
  private[operators] def kthSmallestLong(vals: DataFrame, j: Long): Long = {
    import vals.sparkSession.implicits._
    require(j >= 1, s"rank $j")
    val biased = vals.select($"v".bitwiseXOR(Long.MinValue).as("b"))
    var fixed = 0L     // digits resolved so far (high to low), in biased space
    var remaining = j  // rank still to locate inside the fixed prefix
    var shiftBits = 48
    while (shiftBits >= 0) {
      // rows whose already-resolved high digits match; round 1 has none
      // (shiftrightunsigned by 64 would be a JVM no-op, so guard it)
      val inPrefix =
        if (shiftBits == 48) biased
        else biased.filter(shiftrightunsigned($"b", shiftBits + 16) === fixed)
      val census = inPrefix
        .groupBy(shiftrightunsigned($"b", shiftBits).bitwiseAND(0xFFFFL).as("d"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
      var i = 0
      var found = false
      while (!found && i < census.length) {
        val (digit, cnt) = census(i)
        if (remaining <= cnt) { fixed = (fixed << 16) | digit; found = true }
        else { remaining -= cnt; i += 1 }
      }
      require(found, s"radix rank $j ran past the population at shift $shiftBits")
      shiftBits -= 16
    }
    fixed ^ Long.MinValue
  }

  /** The distributed rank threshold for p32's top-ceil(n/4): radix-descent
    * cutoff → scalar above/at-cut split → radix tie-break (every driver
    * collect ≤ 65536 rows, independent of score diversity), memoized per
    * corpus snapshot
    * so repeated query builds pay zero jobs (the same amortization class
    * as BroadcastGate's count — VERDICT r9 #1 flagged the per-build
    * `raw.count()` job too). `scored` is persisted across the census and
    * tie-break jobs and unpersisted before returning, so the whole
    * decision costs one materialization of the scoring pass. */
  private[operators] def dsirCutoff(docs: DataFrame, scored: DataFrame): (Long, Long) = {
    def compute(): (Long, Long) = {
      import scored.sparkSession.implicits._
      scored.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // The cutoff itself comes from the SAME bounded radix descent as
        // the tie-break (ADVICE r10 / VERDICT r10 wrong-2): the previous
        // groupBy(score_bits).collect() census was O(#distinct scores)
        // driver mass, and scores are per-doc llr SUMS — their distinct
        // count grows with doc-length heterogeneity, millions of rows on a
        // heterogeneous 100 TB corpus. Now every driver-side collect in
        // this decision is a ≤ 65536-row digit census: count → radix
        // descent to the k-th LARGEST score (= rank n-k+1 ascending) →
        // one scalar agg for the above/at-cut split → radix tie-break.
        val n = scored.count()
        val k = dsirK(n)
        if (k == 0L) (Long.MaxValue, Long.MinValue) // empty raw side: select nothing
        else {
          val cut = kthSmallestLong(scored.select($"score_bits".as("v")), n - k + 1)
          val r = scored.agg(
            sum(when($"score_bits" > cut, 1L).otherwise(0L)),
            sum(when($"score_bits" === cut, 1L).otherwise(0L))).head()
          val above = r.getLong(0) // < k: cut sits at ascending rank n-k+1
          val need = k - above     // ≥ 1, ≤ tie-group size, by the rank identity
          val tie =
            if (need == r.getLong(1)) Long.MaxValue // whole tie group selected
            else kthSmallestLong(
              scored.filter($"score_bits" === cut).select($"doc_id".as("v")), need)
          (cut, tie)
        }
      } finally { scored.unpersist(); () }
    }
    graft.Memo.snapshotKey(docs, "dsir-cut") match {
      case None      => compute()
      case Some(key) => dsirCutoffs.computeIfAbsent(key, _ => {
        val rkey = graft.Memo.stableSnapshotKey(docs, "dsir-cut").getOrElse(key)
        graft.ModelRegistry.loadOrTrainPair(docs.sparkSession, "dsir-cutoff", rkey)(
          compute())
      })
    }
  }

  def p32DsirResample(t: T): DataFrame = {
    import t.spark.implicits._
    graft.functions.Registry.ensure(t.spark)
    // scoring pass: ONE codegen'd bigram_bucket_score call per doc (t25's
    // census device on the DSIR plane) — no gram explode, no per-doc
    // fold shuffle, no empty-doc totality join; the trained llr rides the
    // plan as a literal and the generated code reads it as a long[]
    val llrLit = dsirLlr(t.documents).mkString("array(", "L, ", "L)")
    val raw = t.documents.filter($"source" =!= DsirTarget)
    val scored = raw
      .select($"doc_id", expr(s"bigram_bucket_score(text, $llrLit)").as("sb"))
      // null text scores 0, not null (ADVICE r10: the pre-r10 explode
      // pipeline coalesced empty docs to score 0 / selected=false; the
      // native expression propagates null structs instead)
      .select($"doc_id", coalesce($"sb.n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"sb.score_bits", lit(0L)).as("score_bits"))
    // top-ceil(n/4) by (score desc, doc_id asc) as a PREDICATE — the rank
    // threshold comes from the census/radix decision above, so no row
    // stream ever funnels through a single-partition top-k
    val (cut, tie) = dsirCutoff(t.documents, scored)
    scored
      .select($"doc_id", $"n_bigrams", $"score_bits",
        ($"score_bits" > cut ||
          ($"score_bits" === cut && $"doc_id" <= tie)).as("selected"))
      .orderBy($"doc_id")
  }

  val p32Oracle: String =
    s"""WITH tok AS (SELECT doc_id, source, string_split(text, ' ') AS ts FROM documents),
       g AS (SELECT doc_id, source,
               unnest(list_transform(range(1, len(ts)),
                        i -> array_to_string(list_slice(ts, i, i + 1), ' '))) AS gram
             FROM tok),
       h AS (SELECT doc_id, source,
               list_reduce([0] || list_transform(range(1, length(gram) + 1),
                   i -> ascii(substr(gram, i::INT, 1))::BIGINT),
                 (acc, x) -> (acc * 31 + x) % 2147483647) % $DsirBuckets AS b
             FROM g),
       c AS (SELECT b,
               SUM(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END)::BIGINT AS ct,
               SUM(CASE WHEN source <> '$DsirTarget' THEN 1 ELSE 0 END)::BIGINT AS cr
             FROM h GROUP BY b),
       tot AS (SELECT SUM(ct)::BIGINT AS nt, SUM(cr)::BIGINT AS nr FROM c),
       llr AS (SELECT b, ((length(bin((ct + 1) * (nr + $DsirBuckets))) - 1)
                      - (length(bin((cr + 1) * (nt + $DsirBuckets))) - 1))::BIGINT AS w
               FROM c, tot),
       ds AS (SELECT doc_id, COUNT(*)::BIGINT AS n_bigrams, SUM(w)::BIGINT AS score_bits
              FROM h JOIN llr USING (b) WHERE source <> '$DsirTarget' GROUP BY doc_id),
       scored AS (SELECT d.doc_id, COALESCE(n_bigrams, 0)::BIGINT AS n_bigrams,
                         COALESCE(score_bits, 0)::BIGINT AS score_bits
                  FROM documents d LEFT JOIN ds USING (doc_id)
                  WHERE d.source <> '$DsirTarget'),
       rk AS (SELECT *, ROW_NUMBER() OVER (ORDER BY score_bits DESC, doc_id) AS rn,
                     COUNT(*) OVER () AS n FROM scored)
       SELECT doc_id, n_bigrams, score_bits, rn <= (n + 3) // 4 AS selected
       FROM rk ORDER BY doc_id"""

  val defs: Map[String, (SparkSession, String) => DataFrame] = Map(
    "p01_train_test_split" -> ((s, d) => p01TrainTestSplit(T(s, d))),
    "p02_text_normalize"   -> ((s, d) => p02TextNormalize(T(s, d))),
    "p03_sequence_packing" -> ((s, d) => p03SequencePacking(T(s, d))),
    "p04_contamination"    -> ((s, d) => p04Contamination(T(s, d))),
    "p05_pii_scrub"        -> ((s, d) => p05PiiScrub(T(s, d))),
    "p06_repetition"       -> ((s, d) => p06Repetition(T(s, d))),
    "p07_stratified_sample" -> ((s, d) => p07StratifiedSample(T(s, d))),
    "p08_source_quota"     -> ((s, d) => p08SourceQuota(T(s, d))),
    "p09_token_mixture"    -> ((s, d) => p09TokenMixture(T(s, d))),
    "p10_curriculum"       -> ((s, d) => p10Curriculum(T(s, d))),
    "p11_quality_cascade"  -> ((s, d) => p11QualityCascade(T(s, d))),
    "p12_bloom_contamination" -> ((s, d) => p12BloomContamination(T(s, d))),
    "p13_curation_manifest" -> ((s, d) => p13CurationManifest(T(s, d))),
    "p14_interleave_schedule" -> ((s, d) => p14InterleaveSchedule(T(s, d))),
    "p15_pack_batches"        -> ((s, d) => p15PackBatches(T(s, d))),
    "p16_quality_keeper"      -> ((s, d) => p16QualityKeeper(T(s, d))),
    "p17_sqrt_temperature"    -> ((s, d) => p17SqrtTemperature(T(s, d))),
    "p18_epoch_shuffle"       -> ((s, d) => p18EpochShuffle(T(s, d))),
    "p19_clean_eval_split"    -> ((s, d) => p19CleanEvalSplit(T(s, d))),
    "p20_dataset_card"        -> ((s, d) => p20DatasetCard(T(s, d))),
    "p21_effective_tokens"    -> ((s, d) => p21EffectiveTokens(T(s, d))),
    "p22_source_waterfill"    -> ((s, d) => p22SourceWaterfill(T(s, d))),
    "p23_padding_waste"       -> ((s, d) => p23PaddingWaste(T(s, d))),
    "p24_padding_per_source"  -> ((s, d) => p24PaddingWastePerSource(T(s, d))),
    "p25_passage_chunks"      -> ((s, d) => p25PassageChunks(T(s, d))),
    "p26_soft_dedup"          -> ((s, d) => p26SoftDedupWeights(T(s, d))),
    "p27_semantic_contam"     -> ((s, d) => p27SemanticContam(T(s, d))),
    "p28_context_sweep"       -> ((s, d) => p28ContextSweep(T(s, d))),
    "p29_curation_funnel"     -> ((s, d) => p29CurationFunnel(T(s, d))),
    "p30_filter_agreement"    -> ((s, d) => p30FilterAgreement(T(s, d))),
    "p31_code_threshold_sweep" -> ((s, d) => p31CodeThresholdSweep(T(s, d))),
    "p32_dsir_resample"        -> ((s, d) => p32DsirResample(T(s, d))),
  )

  val oracles: Map[String, String] = Map(
    "p01_train_test_split" -> p01Oracle,
    "p02_text_normalize"   -> p02Oracle,
    "p03_sequence_packing" -> p03Oracle,
    "p04_contamination"    -> p04Oracle,
    "p05_pii_scrub"        -> p05Oracle,
    "p06_repetition"       -> p06Oracle,
    "p07_stratified_sample" -> p07Oracle,
    "p08_source_quota"     -> p08Oracle,
    "p09_token_mixture"    -> p09Oracle,
    "p10_curriculum"       -> p10Oracle,
    "p11_quality_cascade"  -> p11Oracle,
    "p12_bloom_contamination" -> p12Oracle,
    "p13_curation_manifest" -> p13Oracle,
    "p14_interleave_schedule" -> p14Oracle,
    "p15_pack_batches"        -> p15Oracle,
    "p16_quality_keeper"      -> p16Oracle,
    "p17_sqrt_temperature"    -> p17Oracle,
    "p18_epoch_shuffle"       -> p18Oracle,
    "p19_clean_eval_split"    -> p19Oracle,
    "p20_dataset_card"        -> p20Oracle,
    "p21_effective_tokens"    -> p21Oracle,
    "p22_source_waterfill"    -> p22Oracle,
    "p23_padding_waste"       -> p23Oracle,
    "p24_padding_per_source"  -> p24Oracle,
    "p25_passage_chunks"      -> p25Oracle,
    "p26_soft_dedup"          -> p26Oracle,
    "p27_semantic_contam"     -> p27Oracle,
    "p28_context_sweep"       -> p28Oracle,
    "p29_curation_funnel"     -> p29Oracle,
    "p30_filter_agreement"    -> p30Oracle,
    "p31_code_threshold_sweep" -> p31Oracle,
    "p32_dsir_resample"        -> p32Oracle,
  )
}
