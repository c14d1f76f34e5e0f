package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.sources.Tables

/** Text-analysis queries over the `documents` table — the per-document
  * statistics a training-data pipeline computes before filtering: token
  * counts, vocabulary richness, stopword share, a composite quality score,
  * language ID, and a content fingerprint.
  *
  * Everything is a single narrow projection over one scan (no shuffle at
  * all except the final presentation sort) — at 100 TB this is the ideal
  * embarrassingly-parallel shape; the ORDER BY exists only for oracle
  * determinism and would be dropped in production.
  */
object TextAnalysis {

  /** Staged base projection: normalize once, split once — every downstream
    * stat references the materialized `norm`/`toks` attributes (multi-use
    * attributes stop CollapseProject from inlining the regex work back in).
    */
  private def staged(spark: SparkSession, dir: String) =
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        normalize(col("text")).as("norm"))
      .select(col("doc_id"), col("lang"), col("source"), col("norm"),
        split(col("norm"), " ").as("toks"))
      .select(col("doc_id"), col("lang"), col("source"), col("norm"), col("toks"),
        size(col("toks")).cast("long").as("n_tokens"),
        size(array_distinct(col("toks"))).cast("long").as("n_distinct_tokens"),
        size(filter(col("toks"), t => t.isInCollection(Stopwords))).cast("long")
          .as("n_stop"))

  /** t1's composite quality score over the staged count attributes
    * (4dp-rounded ratios, then the 4dp-rounded composite — the
    * cross-engine-pinned rounding). THE single spelling, shared by
    * [[textStats]] and the fused t34 gate frame
    * ([[curationGateInputs]]) so the two cannot desync.
    */
  private def qualityScoreCol: org.apache.spark.sql.Column = {
    val denom = greatest(col("n_tokens"), lit(1L))
    val ttr = round(col("n_distinct_tokens").cast("double") / denom, 4)
    val stopR = round(col("n_stop").cast("double") / denom, 4)
    round(least(col("n_tokens").cast("double") / 500.0, lit(1.0)) * 0.4 +
      ttr * 0.3 + (lit(1.0) - stopR) * 0.3 + 1e-9, 4)
  }

  /** t1's content fingerprint over the staged `norm` attribute — shared
    * with [[curationGateInputs]] (d1's dedup key).
    */
  private def fingerprintCol: org.apache.spark.sql.Column = md5(col("norm"))

  /** Per-language marker-hit columns over the staged `toks` attribute —
    * THE single spelling shared by t2 ([[langIdPerDoc]]) and the fused
    * t34 gate frame.
    */
  private def langHitCols: Seq[org.apache.spark.sql.Column] =
    LangMarkers.map { case (lang, m) =>
      size(filter(col("toks"), t => t.isInCollection(m))).cast("long")
        .as(s"hits_$lang")
    }

  /** t2's argmax over materialized `hits_<lang>` attributes (fixed tie
    * order, "und" when nothing matches) — shared with
    * [[curationGateInputs]].
    */
  private def langPredCol: org.apache.spark.sql.Column = {
    val best = LangMarkers.map(lm => col(s"hits_${lm._1}")).reduce(greatest(_, _))
    LangMarkers.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"hits_$lang") === best && best > 0, lit(lang)).otherwise(acc)
    }
  }

  /** t1: per-document statistics + quality score + fingerprint. */
  def textStats(spark: SparkSession, dir: String): DataFrame = {
    val denom = greatest(col("n_tokens"), lit(1L))
    staged(spark, dir)
      .select(col("doc_id"), col("norm"), col("n_tokens"), col("n_distinct_tokens"),
        round(col("n_distinct_tokens").cast("double") / denom, 4).as("type_token_ratio"),
        round(length(regexp_replace(col("norm"), " ", "")).cast("double") / denom, 4)
          .as("avg_token_len"),
        round(col("n_stop").cast("double") / denom, 4).as("stopword_ratio"),
        qualityScoreCol.as("quality_score"),
        fingerprintCol.as("fingerprint"))
      .select(
        col("doc_id"), col("n_tokens"), col("n_distinct_tokens"),
        col("type_token_ratio"), col("avg_token_len"), col("stopword_ratio"),
        col("quality_score"), col("fingerprint"))
      .orderBy(col("doc_id"))
  }

  /** t2: language-ID heuristic — marker-word hits per language + argmax
    * prediction with fixed tie order ("und" when nothing matches).
    */
  def langIdPerDoc(spark: SparkSession, dir: String): DataFrame = {
    val base = staged(spark, dir)
      .select(col("doc_id") +: col("lang").as("lang_declared") +: langHitCols: _*)
    base.select(col("doc_id") +: col("lang_declared") +: langPredCol.as("lang_pred") +:
        LangMarkers.map(lm => col(s"hits_${lm._1}")): _*)
      .orderBy(col("doc_id"))
  }

  /** BPE-ish piece pattern: space-prefixed letter runs, digit runs, or
    * punctuation runs — the GPT-2 pre-tokenizer shape minus the lookahead
    * (RE2-compatible so the DuckDB oracle uses the identical pattern).
    */
  val BpePattern = " ?[a-z]+| ?[0-9]+| ?[^ a-z0-9]+"

  /** t4: token counting with the BPE-ish regex (brief: "whitespace + a
    * BPE-ish regex") — pieces per doc, chars per piece.
    */
  def bpeTokenStats(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documentsParallel(spark, dir)
    d.select(col("doc_id"),
        regexp_extract_all(lower(trim(col("text"))), lit(BpePattern), lit(0))
          .as("pieces"))
      .select(col("doc_id"),
        size(col("pieces")).cast("long").as("n_pieces"),
        round(aggregate(col("pieces"), lit(0L), (acc, p) => acc + length(p))
          .cast("double") / greatest(size(col("pieces")), lit(1)), 4)
          .as("avg_piece_len"))
      .orderBy(col("doc_id"))
  }

  /** t5: rolling-hash document fingerprint (custom codegen'd Rabin–Karp
    * expression). Oracle-checked: DuckDB reproduces the polynomial with a
    * list_reduce over the UTF-8 bytes (via hex(encode(norm))), HUGEINT
    * intermediates standing in for the 128-bit multiply. The concatenation
    * identity is additionally pinned by property tests.
    */
  def rollingFingerprint(spark: SparkSession, dir: String): DataFrame = {
    graft.expressions.RollingHash.register(spark)
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), normalize(col("text")).as("norm"))
      .select(col("doc_id"), expr("rolling_hash(norm)").as("fingerprint64"))
      .orderBy(col("doc_id"))
  }

  /** Characteristic character-trigram profiles per language — the n-gram
    * side of the language-ID heuristic (markers catch function words;
    * trigram profiles catch morphology). Tiny fixed profiles, shared
    * verbatim with the oracle SQL.
    */
  val CharTrigramProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "ing", "and", "ion", " th"),
    "de" -> Seq("der", "sch", "ein", "ich", "und"),
    "es" -> Seq("que", "ión", " de", "los", "ent"),
    "fr" -> Seq("les", "ent", " de", "ion", "eur"))

  /** t6: char-n-gram language scores — per doc, the count of profile
    * trigram occurrences per language plus the argmax prediction (fixed
    * tie order, "und" on zero evidence). Trigrams are enumerated from the
    * normalized text with a staged index array (same lambda-CSE rule as
    * shingles).
    */
  def charNgramLangId(spark: SparkSession, dir: String): DataFrame = {
    // trigram array staged once per row
    val withTris = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), normalize(col("text")).as("norm"))
      .select(col("doc_id"),
        when(length(col("norm")) < 3, array().cast("array<string>"))
          .otherwise(expr("transform(sequence(1, length(norm) - 2), i -> substr(norm, i, 3))"))
          .as("tris"))
    val scored = withTris.select(col("doc_id") +:
      CharTrigramProfiles.map { case (lang, profile) =>
        size(filter(col("tris"), t => t.isInCollection(profile))).cast("long")
          .as(s"tri_$lang")
      }: _*)
    val best = CharTrigramProfiles.map(p => col(s"tri_${p._1}")).reduce(greatest(_, _))
    val pred = CharTrigramProfiles.foldRight(lit("und")) { case ((lang, _), acc) =>
      when(col(s"tri_$lang") === best && best > 0, lit(lang)).otherwise(acc)
    }
    scored.select(col("doc_id") +: pred.as("tri_lang_pred") +:
        CharTrigramProfiles.map(p => col(s"tri_${p._1}")): _*)
      .orderBy(col("doc_id"))
  }

  /** t7: corpus token frequencies via generator (explode) — the vocabulary
    * table every tokenizer-training pipeline starts from. Top-50 with
    * deterministic tiebreak; the heavy lifting is one explode + one
    * partial+final count aggregation.
    */
  def tokenFrequencies(spark: SparkSession, dir: String): DataFrame =
    Tables.documentsParallel(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("freq"))
      .orderBy(col("freq").desc, col("token").asc)
      .limit(50)

  /** t8: TF-IDF top-5 terms per document — the relevance-weighting
    * primitive behind keyword extraction and near-duplicate topic probes.
    * tf from one explode+count, df from the distinct (doc, term) pairs of
    * the same aggregate, N via a broadcast scalar — two shuffles total,
    * both on `term`-sized keys. tfidf = tf · ln(N/df), 4dp (+1e-9 tie
    * nudge, shared with the oracle).
    */
  def tfidfTopTerms(spark: SparkSession, dir: String, k: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val tf = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).cast("long").as("tf"))
    val df = tf.groupBy(col("term")).agg(count(lit(1)).cast("long").as("df"))
    val n = Tables.documents(spark, dir).select(countDistinct(col("doc_id")).as("n_docs"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("tfidf_raw").desc, col("term").asc)
    tf.join(df, "term")
      .crossJoin(broadcast(n))
      .withColumn("tfidf_raw",
        col("tf") * log(col("n_docs").cast("double") / col("df")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("doc_id"), col("rnk"), col("term"), col("tf"), col("df"),
        round(col("tfidf_raw") + 1e-9, 4).as("tfidf"))
      .orderBy(col("doc_id"), col("rnk"))
  }

  /** The NON-distinct word-trigram list of a token array (the t9 gram
    * construction — counts matter here, unlike the dedup shingles which
    * dedup). Shared by [[repetitionStats]] and [[curationGateInputs]] so
    * the two spellings cannot desync.
    */
  private[graft] def wordTrigrams(toks: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(size(toks) - 2 <= 0, array().cast("array<string>"))
      .otherwise(transform(sequence(lit(1), size(toks) - 2), i =>
        concat_ws(" ", element_at(toks, i),
          element_at(toks, i + 1), element_at(toks, i + 2))))

  /** t9's top-trigram share over a pre-sorted gram list `sg` with length
    * `tot`: max multiplicity = the longest equal-adjacent run of the
    * SORTED list, computed by a per-row fold — the r15 rewrite of the r14
    * explode + two hash aggregations (guide §2.4: three corpus Exchanges
    * removed for a quantity that is a pure function of one row). 0.0 for
    * an empty list (the r14 left-join + coalesce contract).
    *
    * The fold walks `sg`'s own elements, carrying the previous gram in the
    * accumulator, so `sg` appears once, as the fold's argument, and is
    * evaluated once per row. Indexing it from inside the lambda would let
    * Catalyst inline `array_sort(grams)` there and rebuild the sort for
    * every element: quadratic per document.
    */
  private[graft] def topShareOverSorted(sg: org.apache.spark.sql.Column,
                                            tot: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    when(tot === 0, lit(0.0)).otherwise(
      round(
        aggregate(sg,
          struct(lit(null).cast("string").as("prev"), lit(0L).as("run"),
            lit(0L).as("best")),
          (acc, g) => {
            val run = when(acc.getField("prev") === g,
              acc.getField("run") + 1L).otherwise(lit(1L))
            struct(g.as("prev"), run.as("run"),
              greatest(acc.getField("best"), run).as("best"))
          },
          acc => acc.getField("best")).cast("double")
          / tot + 1e-9, 4))

  /** t9: repetition metrics per document — the Gopher-style quality rules
    * (Rae et al. 2021 §A1.1: "fraction of characters in the most common
    * n-gram", duplicate-line fraction). Per doc: the share of word
    * trigrams taken by the single most frequent trigram, and the fraction
    * of duplicated physical lines.
    *
    * r15 optimization (guide §2.4): the r14 form exploded every doc's
    * trigram list and ran TWO per-doc hash aggregations plus a join back
    * to the line branch — three corpus-sized Exchanges to compute a
    * quantity that is a pure function of one row. Now ONE projection:
    * sort the grams, fold adjacent runs ([[topShareOverSorted]]). Zero
    * shuffles at any corpus size; per-row cost O(g log g) in the doc's
    * gram count — the same comparisons the hash aggregation did per doc,
    * without the exchanges. Oracle replay (t9/t13/t34) pins value
    * equality; Round15Spec pins the fold against the explode+count
    * spelling on planted multiplicity fixtures. `release` is retained for
    * source compatibility: with no cache in the plan there is nothing to
    * release.
    */
  def repetitionStats(spark: SparkSession, dir: String,
                      release: Boolean = true): DataFrame =
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), col("text"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), split(col("text"), "\n").as("lines"),
        wordTrigrams(col("toks")).as("grams"))
      .select(col("doc_id"), col("lines"), size(col("grams")).as("tot"),
        array_sort(col("grams")).as("sg"))
      .select(col("doc_id"),
        size(col("lines")).cast("long").as("n_lines"),
        round((size(col("lines")) - size(array_distinct(col("lines"))))
          .cast("double") / size(col("lines")) + 1e-9, 4).as("dup_line_frac"),
        topShareOverSorted(col("sg"), col("tot")).as("top_trigram_ratio"))
      .orderBy(col("doc_id"))

  /** t10: language-ID confusion matrix — declared vs predicted label
    * counts with per-cell share of the declared language's documents. The
    * classifier-evaluation report every labeling pipeline ends with; one
    * tiny aggregate over t2's per-doc output.
    */
  def langConfusionMatrix(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perDoc = langIdPerDoc(spark, dir)
      .select(col("lang_declared"), col("lang_pred"))
    val wDecl = Window.partitionBy(col("lang_declared"))
    perDoc.groupBy(col("lang_declared"), col("lang_pred"))
      .agg(count(lit(1)).cast("long").as("n_docs"))
      .withColumn("pct_of_declared",
        round(col("n_docs").cast("double") /
          sum(col("n_docs")).over(wDecl) * 100.0 + 1e-9, 4))
      .orderBy(col("lang_declared"), col("lang_pred"))
  }

  /** t11: curriculum length buckets — quartile documents by token count
    * and report per-bucket corpus statistics: the binning step of
    * length-based curriculum sampling / sequence-length-aware batching.
    *
    * Scale design: the quartile BOUNDARIES are one `percentile_approx`
    * aggregate (a mergeable sketch — map-side partials, no row leaves its
    * partition un-aggregated), broadcast back as a single row; each
    * document is then binned with three map-side comparisons. No global
    * sort anywhere: the only ordering in the plan is the 4-row result
    * presentation. Boundary ties all land in the lower bucket, so bucket
    * sizes are equal up to ties (and, past the sketch's retention
    * threshold, up to its rank error) — the contract both engines replay
    * exactly: at gate scale (n ≤ accuracy) Spark's Greenwald–Khanna
    * summary retains every value and returns precisely the element of
    * rank ⌈q·n⌉, which the oracle reproduces with an explicit row_number.
    * The exact-ntile form this replaces survives as
    * [[lengthCurriculumBucketsExactNtile]], the test-scale baseline
    * (equal counts, but an empty-partition window = single-partition sort
    * of the whole corpus — the plan that dies at 100 TB).
    */
  def lengthCurriculumBuckets(spark: SparkSession, dir: String): DataFrame = {
    val toks = staged(spark, dir).select(col("doc_id"), col("n_tokens"))
    val bounds = toks.agg(percentile_approx(col("n_tokens"),
      array(lit(0.25), lit(0.5), lit(0.75)), lit(10000)).as("bs"))
    val bucket = lit(1) +
      (col("n_tokens") > element_at(col("bs"), 1)).cast("int") +
      (col("n_tokens") > element_at(col("bs"), 2)).cast("int") +
      (col("n_tokens") > element_at(col("bs"), 3)).cast("int")
    toks.crossJoin(broadcast(bounds))
      .select(col("n_tokens"), bucket.cast("long").as("bucket"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"))
      .orderBy(col("bucket"))
  }

  /** Exact equal-count quartiles via ntile — the test-scale baseline for
    * [[lengthCurriculumBuckets]]. The empty-partition window is a global
    * single-partition sort; never ship this plan against a real corpus.
    */
  def lengthCurriculumBucketsExactNtile(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.orderBy(col("n_tokens").asc, col("doc_id").asc)
    staged(spark, dir)
      .select(col("doc_id"), col("n_tokens"))
      .withColumn("bucket", ntile(4).over(w).cast("long"))
      .groupBy(col("bucket"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        min(col("n_tokens")).as("min_tokens"),
        max(col("n_tokens")).as("max_tokens"),
        round(avg(col("n_tokens")), 2).as("avg_tokens"))
      .orderBy(col("bucket"))
  }

  /** PII-ish patterns (email, phone-ish digit runs, IPv4) — deliberately
    * simple and RE2-compatible so the DuckDB oracle shares them verbatim.
    */
  val EmailRx = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRx = "\\b[0-9]{3}[- .][0-9]{3}[- .][0-9]{4}\\b"
  val Ipv4Rx  = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  /** t12: PII scrubbing — count and redact email/phone/IP patterns per
    * document (the privacy-filtering pass every training corpus gets).
    * Counting + masking are pure regexp built-ins: one scan, no shuffle.
    */
  def piiScrub(spark: SparkSession, dir: String): DataFrame = {
    val norm = lower(col("text"))
    def cnt(rx: String) =
      size(regexp_extract_all(norm, lit(rx), lit(0))).cast("long")
    val masked = regexp_replace(
      regexp_replace(regexp_replace(norm, EmailRx, "<email>"),
        PhoneRx, "<phone>"), Ipv4Rx, "<ip>")
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"),
        cnt(EmailRx).as("n_emails"),
        cnt(PhoneRx).as("n_phones"),
        cnt(Ipv4Rx).as("n_ips"),
        length(masked).cast("long").as("masked_len"),
        md5(masked).as("masked_md5"))
      .orderBy(col("doc_id"))
  }

  /** t13: the composite quality filter — C4/Gopher-style keep/reject
    * verdict per document with the FIRST failing rule as the reject
    * reason: too-short, too-long, low quality score, high repetition.
    * Composes the t1 quality metrics and t9 repetition in one pass; the
    * downstream "filtered corpus" is a semi-join on kept doc_ids.
    */
  def qualityFilterVerdicts(spark: SparkSession, dir: String): DataFrame = {
    // r15 optimization (guide §2.4): was textStats ⋈ repetitionStats on
    // doc_id — after the t9 per-row rewrite both sides are projections of
    // the SAME scan, so the join (one corpus Exchange per side) aligns
    // columns that are per-row functions of one document row. Ride the
    // fused frame instead (Catalyst prunes its fingerprint/lang columns
    // out of the scan). The fused path never caches or checkpoints, so
    // the old `release` flag had become a no-op and was dropped (r16,
    // ADVICE).
    curationGateInputs(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("top_trigram_ratio"))
      .withColumn("reject_reason",
        when(col("n_tokens") < 10, "too_short")
          .when(col("n_tokens") > 100000, "too_long")
          .when(col("quality_score") < 0.3, "low_quality")
          .when(col("top_trigram_ratio") > 0.2, "repetitive")
          .otherwise("kept"))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"),
        col("top_trigram_ratio"),
        (col("reject_reason") === "kept").as("kept"),
        col("reject_reason"))
      .orderBy(col("doc_id"))
  }

  /** The fused per-document gate-input frame t34 consumes: every column
    * its stage-1..4 flags read — t1's `n_tokens`/`quality_score`/
    * `fingerprint`, t9's `top_trigram_ratio`, t2's declared-vs-predicted
    * agreement — in ONE projection over ONE corpus scan.
    *
    * r15 optimization (guide §2.4): the r14 t34 built this frame as a
    * 3-way join of [[textStats]], [[repetitionStats]] and
    * [[langIdPerDoc]] on `doc_id` — three corpus-sized Exchanges (plus a
    * fourth scan for `(doc_id, source)`) to align columns that are all
    * pure per-row functions of the SAME document row. Every expression
    * here is the registered operator's own spelling, factored, not
    * copied (r16, ADVICE): the quality score and fingerprint are
    * [[qualityScoreCol]]/[[fingerprintCol]] (t1's columns), the language
    * argmax is [[langHitCols]]/[[langPredCol]] (t2's columns), and the
    * trigram share is [[topShareOverSorted]] over [[wordTrigrams]] (t9's
    * columns) — one definition each, consumed by both the registered
    * operators and this frame. Round15Spec additionally pins this frame
    * row-identical to the 3-way join of the registered operators, and
    * the t34 oracle replay pins the composition.
    */
  private[graft] def curationGateInputs(spark: SparkSession,
                                        dir: String): DataFrame = {
    val withHits = staged(spark, dir)
      .select(col("doc_id") +: col("source") +: col("lang") +: col("norm") +:
        col("toks") +: col("n_tokens") +: col("n_distinct_tokens") +:
        col("n_stop") +: langHitCols: _*)
    withHits
      .select(col("doc_id"), col("source"), col("n_tokens"),
        qualityScoreCol.as("quality_score"),
        fingerprintCol.as("fingerprint"),
        (langPredCol === col("lang")).as("lang_ok"),
        wordTrigrams(col("toks")).as("grams"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality_score"), col("fingerprint"), col("lang_ok"),
        size(col("grams")).as("tot"), array_sort(col("grams")).as("sg"))
      .select(col("doc_id"), col("source"), col("n_tokens"),
        col("quality_score"), col("fingerprint"), col("lang_ok"),
        topShareOverSorted(col("sg"), col("tot")).as("top_trigram_ratio"))
  }

  /** t14: corpus mixture resampling — rebalance the corpus toward a
    * uniform per-language share by deterministic hash sampling: each
    * language gets rate = min(1, fair_share / its_count), and a document
    * survives iff hash52(doc_id) mod 1e6 clears the rate threshold. The
    * data-mixture pass every pretraining corpus gets (up-weighting is the
    * same operator with rates > 1 and replication instead of filtering).
    * Wholly map-side after a tiny per-language count: the sampling
    * decision is a pure function of (doc_id, rate), so it is reproducible
    * across engines, runs, and retries — no RNG state, no sort.
    */
  def mixtureSample(spark: SparkSession, dir: String): DataFrame = {
    import graft.functions.TextFunctions.hash52
    val d = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
    val counts = d.groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
    val tot = counts.agg(sum(col("n_lang")).as("total"),
      count(lit(1)).as("n_langs"))
    val withRate = counts.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_lang"),
        least(lit(1.0), col("total").cast("double") / col("n_langs") /
          col("n_lang")).as("rate"))
    d.join(broadcast(withRate), "lang")
      .select(col("lang"), col("rate"),
        (hash52(col("doc_id").cast("string")) % 1000000 <
          floor(col("rate") * 1000000)).as("keep"))
      .groupBy(col("lang"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(when(col("keep"), 1).otherwise(0)).cast("long").as("n_sampled"),
        round(max(col("rate")) + 1e-9, 6).as("sample_rate"))
      .orderBy(col("lang"))
  }

  /** t15: fixed-size overlapping token-window chunks per document — the
    * windowing step that turns raw documents into training/RAG sequences
    * (`chunkSize` tokens, advancing by `stride`, so consecutive chunks
    * overlap by `chunkSize - stride`). Pure map-side fan-out: one
    * `explode(sequence(...))` per document and a `slice` per chunk, no
    * shuffle except the presentation sort — the per-row expression is the
    * same at 100 TB. A document shorter than one chunk yields exactly one
    * (short) chunk; each chunk carries the portable 52-bit content hash so
    * the fan-out is verifiable end-to-end (chunk_idx·stride windows, last
    * chunk truncated, hash over the space-joined tokens).
    */
  def chunkDocuments(spark: SparkSession, dir: String,
                     chunkSize: Int = 32, stride: Int = 24): DataFrame =
    chunkRows(spark, dir, chunkSize, stride)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** The t15 chunk fan-out without the presentation sort — shared with t19,
    * which aggregates the chunks instead of emitting them.
    */
  private def chunkRows(spark: SparkSession, dir: String,
                        chunkSize: Int, stride: Int): DataFrame = {
    val nChunksM1 = greatest(
      ceil((size(col("toks")) - lit(chunkSize)).cast("double") / stride)
        .cast("long"), lit(0L))
    Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"), col("toks"),
        explode(sequence(lit(0L), nChunksM1)).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("toks"), (col("chunk_idx") * stride + 1).cast("int"),
          lit(chunkSize)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("n_tokens"),
        hash52(concat_ws(" ", col("chunk"))).as("chunk_hash"))
  }

  /** t18: token-distribution entropy per document — Shannon entropy of the
    * within-doc token frequencies plus the log-normalized evenness, the
    * standard "natural text vs keyword-stuffed/boilerplate" quality signal
    * (low evenness = a few tokens dominate; t9's repetition ratio catches
    * *adjacent* repeats, entropy catches global imbalance).
    *
    * H = log2(n) − (Σ c·log2 c)/n: both Σc and Σc·log2(c) are distributive
    * aggregates, so the two shuffles — (doc_id, tok) term counts, then
    * doc_id — get full map-side partial aggregation; nothing is quadratic
    * and no row ever carries an array. Evenness = H / log2(distinct), 1.0
    * for single-token docs (the distribution is trivially uniform).
    */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("c"))
    val h = log2(col("n_tokens")) - col("sum_clog") / col("n_tokens")
    tf.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("c").cast("double") * log2(col("c"))).as("sum_clog"))
      .select(col("doc_id"),
        col("n_tokens").cast("long").as("n_tokens"),
        col("n_distinct").cast("long").as("n_distinct"),
        round(h + 1e-9, 4).as("entropy"),
        round(when(col("n_distinct") > 1, h / log2(col("n_distinct")))
          .otherwise(lit(1.0)) + 1e-9, 4).as("evenness"))
      .orderBy(col("doc_id"))
  }

  /** t19: keep-first passage dedup — non-overlapping `chunkSize`-token
    * passages (t15's fan-out at stride = chunkSize), each distinct passage
    * hash owned by the smallest doc_id that contains it; later documents
    * count those passages as removable. This is the dedup *transform*
    * semantics (first occurrence survives, repeats are cut), where d10's
    * df-count is the symmetric *signal* (every occurrence penalized).
    *
    * Cost: the map-side chunk fan-out plus ONE shuffle on chunk_hash for
    * the owner aggregate + join-back (both map-side combinable), then the
    * per-doc rollup — linear in total chunks however the duplicates are
    * distributed, the same shape d10 soak-proved on the quadratic-pair
    * corpus. Within-doc repeats keep their doc as owner, so only
    * cross-document duplication is cut and the contract stays a pure
    * function of the corpus (insertion-order-free, retry-stable).
    */
  def passageDedup(spark: SparkSession, dir: String,
                   chunkSize: Int = 32): DataFrame = {
    val ch = chunkRows(spark, dir, chunkSize, chunkSize)
    val owners = ch.groupBy(col("chunk_hash"))
      .agg(min(col("doc_id")).as("owner_doc"))
    ch.join(owners, "chunk_hash")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_chunks"),
        sum(when(col("owner_doc") < col("doc_id"), 1L).otherwise(0L))
          .cast("long").as("n_dup_chunks"),
        sum(when(col("owner_doc") < col("doc_id"), 0L)
          .otherwise(col("n_tokens"))).cast("long").as("kept_tokens"))
      .withColumn("dup_frac",
        round(col("n_dup_chunks").cast("double") / col("n_chunks") + 1e-9, 4))
      .orderBy(col("doc_id"))
  }

  /** t16: sequence-packing plan — assign documents to fixed token-budget
    * bins (the pretraining batch-packing step). True first-fit packing is
    * inherently sequential, so this is the standard distributed
    * approximation: documents fill bins contiguously in deterministic
    * (source, doc_id) order, bin = ⌊tokens-before / budget⌋ via ONE
    * exclusive window cumsum — each source partition is independent, so at
    * 100 TB the window parallelizes across sources (and a source too hot
    * for one partition would salt on a date sub-key, like q18). Reported
    * per bin: docs, tokens, fill ratio — the fill report a packing job
    * emits to size its batches.
    */
  def sequencePackingPlan(spark: SparkSession, dir: String,
                          budget: Int = 512): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    staged(spark, dir)
      .select(col("source"), col("doc_id"), col("n_tokens"))
      .withColumn("bin",
        floor(coalesce(sum(col("n_tokens")).over(w), lit(0L)) / budget))
      .groupBy(col("source"), col("bin"))
      .agg(
        count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("bin_tokens"),
        round(sum(col("n_tokens")).cast("double") / budget + 1e-9, 4)
          .as("fill_ratio"))
      .orderBy(col("source"), col("bin"))
  }

  /** t17: per-source frequency capping — keep at most `cap` documents per
    * source, best quality first (the RefinedWeb/CCNet-style domain cap: a
    * handful of over-represented hosts otherwise dominate the corpus mix).
    * Rank is (quality_score DESC, doc_id ASC) on the ROUNDED t1 score —
    * the 4-decimal value already proven bit-identical across engines by
    * t1's hash match — with the doc_id tie-break making the cut
    * deterministic, so retries and backfills keep the same documents.
    *
    * One window shuffle partitioned by `source`. SKEW BOUND (the d28
    * break-even convention): at 100 TB a mega-source — one domain owning
    * half the corpus, the realistic web-crawl shape — makes this a
    * single-partition SORT of half the data to rank rows the cap will
    * discard; the window form is O(n_src · log n_src) in the dominant
    * source's extent and does not parallelize past one task. It is kept
    * here because t17's CONTRACT emits every doc's `src_rank` (not just
    * the kept set), which genuinely requires the full per-source order.
    * A pipeline that only needs the kept/cut verdict should elect the
    * kept set with the bounded [[Curation.TopCapAgg]] top-`cap`
    * aggregation instead (state ≤ cap rows per source per partition,
    * map-side combined, no sort — the form t34's stage 7 ships, pinned
    * equal to this window's kept set on a dominant-source fixture in
    * Round14Spec); the rank-adjacent escape hatch for THIS form is a
    * broadcast per-source `percentile_approx` quality threshold
    * prefiltering to the boundary band before the exact rank (the t11
    * boundary pattern) — kept out of the registered form, which must be
    * exact for the oracle.
    */
  def sourceCap(spark: SparkSession, dir: String, cap: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val src = Tables.documents(spark, dir).select(col("doc_id"), col("source"))
    val q = textStats(spark, dir).select(col("doc_id"), col("quality_score"))
    val w = Window.partitionBy(col("source"))
      .orderBy(col("quality_score").desc, col("doc_id").asc)
    src.join(q, "doc_id")
      .withColumn("src_rank", row_number().over(w).cast("long"))
      .select(col("doc_id"), col("source"), col("quality_score"),
        col("src_rank"), (col("src_rank") <= cap).as("kept"))
      .orderBy(col("doc_id"))
  }

  /** t20: bigram language-model perplexity — the CCNet-style statistical
    * quality signal: train a token-bigram LM with add-k smoothing on the
    * corpus itself, then score every document by its average per-bigram
    * negative log2 probability (and the 2^nll perplexity). Low-perplexity
    * documents look like the corpus; high-perplexity ones are gibberish,
    * boilerplate, or wrong-language — the CCNet head/middle/tail cut uses
    * exactly this number (Wenzek et al. 2019 §4.3, with KenLM where this
    * uses a self-trained bigram model).
    *
    * P(w2|w1) = (C(w1,w2) + k) / (C(w1,·) + k·V), C(w1,·) summed over
    * observed bigram counts so the model normalizes exactly; V is the
    * corpus vocabulary (broadcast 1-row scalar).
    *
    * Shape: bigrams come from a map-side zip of the token array with its
    * tail (no shuffle); the model is two hash aggregations (C(w1,w2),
    * then C(w1,·) rolled up FROM the bigram counts — never a second pass
    * over the corpus); the two count tables join at the MODEL level
    * (C(w1,w2) ⋈ C(w1,·) on w1 — vocab²-observed rows, never corpus
    * rows) into a per-bigram nll table, and scoring attaches it to each
    * document's bigram occurrences with ONE shuffle equi-join on
    * (w1, w2) (r16 — the earlier form shuffled the corpus-scale
    * occurrences through two joins). "the"-headed contexts make the w1
    * join key skewed at 100 TB: the model-level join is
    * AQE-skew-splittable, or the count tables (model-sized, ~vocab rows)
    * broadcast outright on a real cluster — kept as shuffle joins here so
    * the registered plan is the no-assumptions one.
    */
  def ngramLmPerplexity(spark: SparkSession, dir: String,
                        k: Double = 0.5, release: Boolean = true): DataFrame = {
    // cache barrier against InferFiltersFromGenerate (the d8/d10 trap):
    // tokenization runs once, shared by the model and scoring branches
    val toks = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .cache()
    val bi = toks.select(col("doc_id"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("bg"))
      .select(col("doc_id"), col("bg.w1").as("w1"), col("bg.w2").as("w2"))
    val cb = bi.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).cast("long").as("cb"))
    val cw = cb.groupBy(col("w1")).agg(sum(col("cb")).cast("long").as("cw"))
    val vocab = toks.select(explode(col("toks")).as("tok"))
      .agg(countDistinct(col("tok")).cast("double").as("v"))
    val nll = -log2((col("cb") + k) / (col("cw") + lit(k) * col("v")))
    // r16 (guide §2.4): join the two count tables at the MODEL level first
    // (cb ⋈ cw on w1 is model-sized), compute nll once per distinct
    // bigram, then attach to the corpus occurrences with ONE equi-join on
    // (w1, w2) — the r15 form shuffled the corpus-scale occurrence rows
    // through TWO joins ((w1,w2) against cb, then w1 against cw). Same
    // per-occurrence nll values, same per-doc multiset, same avg.
    val nllModel = cb
      .join(cw, Seq("w1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"), nll.as("nll"))
    val result = bi
      .join(nllModel, Seq("w1", "w2"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).cast("long").as("n_bigrams"),
        avg(col("nll")).as("raw_nll"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("raw_nll") + 1e-9, 4).as("avg_nll_bits"),
        round(pow(lit(2.0), col("raw_nll")) + 1e-9, 2).as("ppl"))
      .orderBy(col("doc_id"))
    if (release) Dedup.materializeAndRelease(result, toks) else result
  }

  /** t21: Zipf rank-frequency fit — the corpus-health diagnostic: natural
    * language follows freq ∝ rank^(-s) with s ≈ 1; a corpus whose fitted
    * slope drifts far from -1 is boilerplate-heavy (flat head) or
    * template-spam (cliff tail), and CCNet-style pipelines track exactly
    * this curve per snapshot. Reported: the OLS fit of ln(freq) on
    * ln(rank) over the whole vocabulary (slope, intercept, r²), vocabulary
    * size, and token total — one row.
    *
    * Shape: one token-count aggregation (map-side combined), the
    * [[zipfRanked]] distributed rank over the model-sized vocabulary
    * (vocab rows, not corpus rows; hapax-safe — oversized frequency
    * groups sub-partition by token prefix, so no window partition exceeds
    * [[ZipfMaxRankGroup]]; ties break on the token string so the rank is
    * deterministic), then a scalar OLS aggregate (`regr_*` semantics
    * spelled with plain sums, q48's family). Corpus cost is the one
    * explode+count; everything after is vocab-sized.
    */
  def zipfFit(spark: SparkSession, dir: String,
              release: Boolean = true): DataFrame = {
    // cached: the corpus-priced tokenize+count runs ONCE, shared by the
    // per-frequency collect below and the final OLS aggregate (without
    // the cache the most expensive stage executes twice)
    val tf = Tables.documentsParallel(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("freq"))
      .cache()
    val ranked = zipfRanked(spark, tf)
      .select(log(col("rnk").cast("double")).as("x"),
        log(col("freq").cast("double")).as("y"),
        col("freq"))
    val result = ranked.agg(
        count(lit(1)).cast("long").as("n_vocab"),
        sum(col("freq")).cast("long").as("n_tokens"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"),
        covar_pop(col("x"), col("y")).as("sxy"),
        var_pop(col("x")).as("sxx"), var_pop(col("y")).as("syy"))
      .select(col("n_vocab"), col("n_tokens"),
        round(col("sxy") / col("sxx") + 1e-9, 4).as("zipf_slope"),
        round(col("my") - col("sxy") / col("sxx") * col("mx") + 1e-9, 4)
          .as("intercept"),
        round(col("sxy") * col("sxy") / (col("sxx") * col("syy")) + 1e-9, 4)
          .as("r2"))
    if (release) Dedup.materializeAndRelease(result, tf) else result
  }

  /** Rank-group bound for [[zipfRanked]]: a window partition never holds
    * more than this many vocabulary rows before sub-partitioning engages.
    * 1M (token, freq) rows ≈ 40 MB sorted in one task — comfortable
    * executor-memory headroom at any corpus size.
    */
  val ZipfMaxRankGroup = 1000000L

  /** Global (freq desc, token asc) vocabulary rank WITHOUT a
    * single-partition window — the t11 pattern: per-group offsets ride a
    * broadcast, the within-group rank is a window PARTITIONED across
    * groups. The r5 form partitioned by `freq` alone, which leaves the
    * known hapax cliff: at 100 TB the freq=1 group holds most of the
    * vocabulary, so that one window partition sorts ~the whole vocab in
    * one task. This implements the documented recipe one level down: any
    * frequency group wider than `maxGroup` is sub-partitioned by a
    * `prefixLen`-char token prefix (UTF8 prefix order is consistent with
    * full-string order, so offset-per-(freq, prefix) + within-prefix
    * row_number reproduces the global rank EXACTLY — oracles unchanged).
    * A 2-char prefix fans a hapax group into up to ~|charset|² sub-groups
    * (~4k for ASCII tokens); a corpus whose single (freq, prefix) group
    * still exceeds the bound applies the same recipe at prefixLen+1 —
    * not auto-recursed here because the driver-side count collect is the
    * real bound, and it stays O(|freqs| + |split freqs|·|charset|²).
    *
    * Driver-side state: (freq[, prefix], count) rows — O(√tokens) freq
    * groups plus a charset²-bounded fan-out for the few split groups;
    * collected once, broadcast back.
    */
  private[graft] def zipfRanked(spark: SparkSession, tf: DataFrame,
                                maxGroup: Long = ZipfMaxRankGroup,
                                prefixLen: Int = 2): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perFreq = tf.groupBy(col("freq"))
      .agg(count(lit(1)).cast("long").as("nf"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val splitFreqs = perFreq.filter(_._2 > maxGroup).map(_._1).toSet
    // one extra MODEL-sized aggregation, over the oversized groups only
    val subCounts: Array[(Long, String, Long)] =
      if (splitFreqs.isEmpty) Array.empty
      else tf.filter(col("freq").isInCollection(splitFreqs))
        .groupBy(col("freq"), substring(col("token"), 1, prefixLen).as("sub"))
        .agg(count(lit(1)).cast("long").as("nf"))
        .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    // the driver-side sub-group order MUST match the engine's string
    // order: Spark/DuckDB compare UTF-8 BYTES, while Java compareTo
    // compares UTF-16 code units — they disagree for supplementary-plane
    // vs high-BMP first chars (emoji sort before U+F000.. in UTF-16 but
    // after in UTF-8), which would swap two sub-groups' rank offsets
    val utf8Order: Ordering[String] = (a: String, b: String) => {
      val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(x.length, y.length)
      while (i < n && x(i) == y(i)) i += 1
      if (i < n) (x(i) & 0xff) - (y(i) & 0xff) else x.length - y.length
    }
    val groups = (perFreq.filterNot(g => splitFreqs(g._1))
        .map { case (f, nf) => (f, "", nf) } ++ subCounts)
      .sortBy { case (f, sub, _) => (f, sub) }(
        Ordering.Tuple2(Ordering[Long].reverse, utf8Order))
    val offsets = groups.scanLeft(0L) { case (acc, (_, _, nf)) => acc + nf }
      .init.zip(groups).map { case (before, (f, sub, _)) => (f, sub, before) }
    val offDf = spark.createDataFrame(offsets.toSeq).toDF("freq", "sub", "offset")
    val w = Window.partitionBy(col("freq"), col("sub")).orderBy(col("token").asc)
    val subCol =
      if (splitFreqs.isEmpty) lit("")
      else when(col("freq").isInCollection(splitFreqs),
        substring(col("token"), 1, prefixLen)).otherwise(lit(""))
    tf.withColumn("sub", subCol)
      .join(broadcast(offDf), Seq("freq", "sub"))
      .withColumn("rnk", (col("offset") + row_number().over(w)).cast("long"))
      .select(col("token"), col("freq"), col("rnk"))
  }

  /** t22: vocabulary-growth curve (Heaps' law) — distinct-vocabulary size
    * after each decile of the corpus in doc_id order. Natural corpora
    * follow V(n) ∝ n^β with β ≈ 0.4–0.6; a flattening curve means the
    * crawl has saturated (more data, no new language) and a super-linear
    * one means vocabulary explosion (OCR noise, random strings) — the
    * "is more of this source worth ingesting" signal next to t21's Zipf
    * slope.
    *
    * Exact without any per-prefix distinct-count pass: each token's FIRST
    * decile (min over the docs containing it) is one hash aggregation;
    * the running vocabulary is the cumsum of first-decile counts — ten
    * rows, windowed over a 10-row frame. Corpus cost is the one
    * explode+min aggregation, map-side combinable.
    */
  def vocabGrowth(spark: SparkSession, dir: String,
                  buckets: Int = 10): DataFrame = {
    val docs = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
    // corpus position = doc_id percentile against broadcast
    // percentile_approx boundaries (t11's pattern: no global sort; the
    // sketch is exact below its 10k accuracy, which pins the oracle at
    // gate scale). decile = number of boundaries strictly below doc_id.
    val qs = (1 until buckets).map(i => lit(i.toDouble / buckets))
    val bounds = docs.agg(percentile_approx(col("doc_id"),
      array(qs: _*), lit(10000)).as("bs"))
    val decile = (1 until buckets)
      .map(i => (col("doc_id") > element_at(col("bs"), i)).cast("int"))
      .reduce((a, b) => a + b)
    val firstBucket = docs.crossJoin(broadcast(bounds))
      .select(decile.as("bucket"), explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(min(col("bucket")).as("first_bucket"))
    // ten cumulative counters in ONE single-row aggregation, unstacked to
    // rows — no window, no non-equi join, nothing bigger than the
    // (token → first decile) shuffle above
    val counters = (0 until buckets).flatMap(d => Seq(
      coalesce(sum(when(col("first_bucket") === d, 1L).otherwise(0L)), lit(0L))
        .cast("long").as(s"nt$d"),
      coalesce(sum(when(col("first_bucket") <= d, 1L).otherwise(0L)), lit(0L))
        .cast("long").as(s"vs$d")))
    val stackExpr = s"stack($buckets, " +
      (0 until buckets).map(d => s"CAST($d AS BIGINT), nt$d, vs$d").mkString(", ") +
      ") AS (decile, new_tokens, vocab_size)"
    firstBucket.agg(counters.head, counters.tail: _*)
      .select(expr(stackExpr))
      .orderBy(col("decile"))
  }

  /** t24: CCNet head/middle/tail cut (Wenzek et al. 2019 §4.3) — the
    * shard assignment step that follows t20's perplexity scoring: within
    * each SOURCE, documents are cut into the best (head), middle, and
    * worst (tail) perplexity terciles; CCNet trains on head+middle and
    * discards or down-weights tail. Per-source (not global) cuts are the
    * paper's design: each crawl/domain has its own perplexity regime, so
    * a global threshold would empty high-perplexity domains entirely.
    *
    * Scale design: the tercile BOUNDARIES are EXACT, computed from
    * cumulative doc counts over the DISTINCT 2dp ppl values per source —
    * t20 rounds ppl to 2dp, so the per-source window here is bounded by
    * the value GRID (thousands of distinct ppls at most, forever), not
    * by the doc count; the boundary is the smallest grid value whose
    * cumulative count reaches ⌈n/3⌉ (resp. ⌈2n/3⌉), spelled as the
    * integer-exact cross-multiplication. This replaces an earlier
    * `percentile_approx` sketch whose parity with the oracle's exact
    * rank-ceil replay was fixture-size-conditional (the sketch starts
    * compressing past its accuracy). The plan that dies at 100 TB —
    * ntile over PARTITION BY source, one task per source — still
    * appears nowhere; boundary ties land in the lower cut, the same
    * contract the oracle replays with an explicit per-source
    * row_number.
    */
  def ccnetPerplexityCut(spark: SparkSession, dir: String,
                         k: Double = 0.5, release: Boolean = true): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val scored = ngramLmPerplexity(spark, dir, k, release)
      .select(col("doc_id"), col("ppl"))
    val ps = scored.join(
      Tables.documentsParallel(spark, dir).select(col("doc_id"), col("source")),
      "doc_id")
    val grid = ps.groupBy(col("source"), col("ppl"))
      .agg(count(lit(1)).cast("long").as("c"))
    val wcum = Window.partitionBy(col("source")).orderBy(col("ppl").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = grid.withColumn("cum", sum(col("c")).over(wcum))
    val totals = cum.groupBy(col("source")).agg(max(col("cum")).as("n"))
    val bounds = cum.join(broadcast(totals), "source")
      .groupBy(col("source"))
      .agg(
        // cum >= ceil(n/3) ⟺ 3·cum >= n; cum >= ceil(2n/3) ⟺ 3·cum >= 2n
        min(when(col("cum") * 3 >= col("n"), col("ppl"))).as("b1"),
        min(when(col("cum") * 3 >= col("n") * 2, col("ppl"))).as("b2"))
    val cut = lit(1) + (col("ppl") > col("b1")).cast("int") +
      (col("ppl") > col("b2")).cast("int")
    ps.join(broadcast(bounds), "source")
      .select(col("doc_id"), col("source"), col("ppl"),
        element_at(array(lit("head"), lit("middle"), lit("tail")), cut).as("cut"))
      .orderBy(col("doc_id"))
  }

  /** t23: DSIR-style importance weights (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every raw
    * document by how much more likely its hashed-bigram features are under
    * a TARGET distribution than under the raw pool's own distribution —
    * log w(x) = Σ_b n_x[b]·(ln p̂_t[b] − ln p̂_r[b]) — so that a
    * downstream sampler (t14's hash machinery) can resample the raw pool
    * toward the target domain. The target here is one corpus source
    * (`targetSource`, standing in for the Wikipedia/books slice the paper
    * uses); both bucket models use add-k smoothing over the same fixed
    * `buckets`-bucket hash space, the paper's hashed n-gram
    * generative-model construction.
    *
    * Shape: bigrams are a map-side zip (t20's spelling) hashed into
    * `buckets` ids via the portable [[hash52]] (oracle-replayable);
    * ONE corpus shuffle builds the (doc, bucket) count table, and
    * EVERYTHING else derives from it: the two bucket models roll up from
    * its ≤`buckets`-row aggregation (never a second corpus pass), their
    * totals are a scalar over the model, and scoring joins the broadcast
    * model back to the per-doc buckets — a `buckets`-row broadcast, so
    * the scoring pass is exchange-free on the corpus side. The final
    * per-doc sum rides the same (doc_id)-keyed shuffle any per-doc
    * aggregate pays. The fixed bucket count means hot buckets are
    * map-side-combined, never a skew problem.
    */
  def dsirWeights(spark: SparkSession, dir: String,
                  targetSource: String = "src1",
                  buckets: Int = 1024, k: Double = 0.5,
                  release: Boolean = true): DataFrame = {
    // cache barrier against InferFiltersFromGenerate (the d8/d10 trap):
    // tokenization runs once, shared by the model and scoring branches
    val toks = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), col("source"), tokens(col("text")).as("toks"))
      .cache()
    val bg = toks.select(col("doc_id"), col("source"),
      explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => concat(a, lit(" "), b))).as("bigram"))
    val db = bg
      .select(col("doc_id"), col("source"),
        pmod(hash52(col("bigram")), lit(buckets.toLong)).as("b"))
      .groupBy(col("doc_id"), col("source"), col("b"))
      .agg(count(lit(1)).cast("long").as("n"))
      .cache()
    val model = db.groupBy(col("b"))
      .agg(sum(when(col("source") === targetSource, col("n")).otherwise(0L))
             .cast("long").as("nt"),
           sum(when(col("source") =!= targetSource, col("n")).otherwise(0L))
             .cast("long").as("nr"))
    val totals = model.agg(sum(col("nt")).cast("double").as("tt"),
                           sum(col("nr")).cast("double").as("tr"))
    val kb = k * buckets
    val result = db.filter(col("source") =!= targetSource)
      .join(broadcast(model), "b")
      .crossJoin(broadcast(totals))
      .withColumn("lr", col("n") *
        (log((col("nt") + k) / (col("tt") + kb)) -
         log((col("nr") + k) / (col("tr") + kb))))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).cast("long").as("n_bigrams"),
           sum(col("lr")).as("raw"))
      .select(col("doc_id"), col("n_bigrams"),
        round(col("raw") + 1e-9, 4).as("log_weight"))
      .orderBy(col("doc_id"))
    if (release) Dedup.materializeAndRelease(result, toks, db) else result
  }

  /** The Gopher required-stopword list (Rae et al. 2021, A1.1): a document
    * must contain at least two of these to pass the rule set. Distinct from
    * [[graft.functions.TextFunctions.Stopwords]] (the ratio list) on
    * purpose — the paper's rule names these eight words specifically.
    */
  val GopherStops: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** t25: Gopher quality-rule report (Rae et al. 2021, Appendix A1.1) —
    * the per-document rule battery production pipelines run before any
    * model-based filter: word count in [50, 100k], mean word length in
    * [3, 10], symbol-to-word ratio (# or ...) below 0.1, ≥80% of words
    * containing an alphabetic character, and at least two of the eight
    * required stopwords present. The line-structure rules (bullet/ellipsis
    * line fractions) are omitted: this corpus is single-line by
    * construction, so they would be vacuously true — the adaptation is
    * documented rather than silently padded.
    *
    * Every rule is a map-side expression over the staged token array (one
    * scan, no shuffle, whole-stage codegen). The report carries PER-RULE
    * verdicts, as production rule batteries do (which rule rejected a
    * document decides the remediation), plus the conjunction. Rule
    * comparisons use the ROUNDED ratios so the boundaries are pinned to
    * the same 4dp values the oracle replays — comparing raw doubles would
    * let a 1-ulp cross-engine difference flip a boundary document.
    */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val denom = greatest(col("n_tokens"), lit(1L)).cast("double")
    staged(spark, dir)
      .select(col("doc_id"), col("n_tokens").as("n_words"),
        round(length(regexp_replace(col("norm"), " ", "")).cast("double")
          / denom + 1e-9, 4).as("mean_word_len"),
        round(size(filter(col("toks"), t => t.rlike("[a-z]"))).cast("double")
          / denom + 1e-9, 4).as("frac_alpha"),
        round((regexp_count(col("norm"), lit("#")) +
          regexp_count(col("norm"), lit("\\.\\.\\."))).cast("double")
          / denom + 1e-9, 4).as("symbol_ratio"),
        size(array_intersect(array_distinct(col("toks")),
          array(GopherStops.map(lit(_)): _*))).cast("long").as("n_stop_kinds"))
      .withColumn("rule_words", col("n_words").between(50L, 100000L))
      .withColumn("rule_word_len", col("mean_word_len").between(3.0, 10.0))
      .withColumn("rule_symbols", col("symbol_ratio") < 0.1)
      .withColumn("rule_alpha", col("frac_alpha") >= 0.8)
      .withColumn("rule_stops", col("n_stop_kinds") >= 2L)
      .withColumn("passes",
        col("rule_words") && col("rule_word_len") && col("rule_symbols") &&
          col("rule_alpha") && col("rule_stops"))
      .orderBy(col("doc_id"))
  }

  /** t26's default sketch width / frequency threshold divisor —
    * interpolated into the DuckDB twin so the operator and oracle cannot
    * desync (ADVICE r6).
    */
  val HeavyHittersK = 50

  /** Misra–Gries heavy-hitter sketch state: items processed plus at most
    * k surviving counters.
    */
  case class MgSketch(n: Long, counters: Map[String, Long])

  /** The classic Misra–Gries summary as a typed mergeable Aggregator.
    * Guarantee: any token with true count > n/(k+1) survives the sketch
    * (its counter underestimates by at most n/(k+1)); the decrement step
    * removes k+1 distinct tokens' mass at a time, so it can fire at most
    * n/(k+1) times. Merge (Agarwal et al. 2013, "Mergeable summaries"):
    * sum counters, then subtract the (k+1)-th largest survivor and drop
    * non-positives — the merged summary keeps the same guarantee, which
    * is exactly what makes the sketch map-side combinable: at 100 TB
    * every partition reduces its token stream to ≤ k counters before
    * anything crosses the wire.
    */
  class MisraGriesAgg(k: Int)
      extends org.apache.spark.sql.expressions.Aggregator[String, MgSketch, MgSketch] {
    def zero: MgSketch = MgSketch(0L, Map.empty)
    def reduce(b: MgSketch, tok: String): MgSketch = {
      val m = b.counters
      val nm =
        if (m.contains(tok)) m.updated(tok, m(tok) + 1L)
        else if (m.size < k) m.updated(tok, 1L)
        else m.flatMap { case (t, c) => if (c > 1L) Some(t -> (c - 1L)) else None }
      MgSketch(b.n + 1L, nm)
    }
    def merge(a: MgSketch, b: MgSketch): MgSketch = {
      val s = a.counters.foldLeft(b.counters) { case (m, (t, c)) =>
        m.updated(t, m.getOrElse(t, 0L) + c)
      }
      val nm =
        if (s.size <= k) s
        else {
          val cut = s.values.toIndexedSeq.sorted(Ordering[Long].reverse)(k)
          s.flatMap { case (t, c) => if (c > cut) Some(t -> (c - cut)) else None }
        }
      MgSketch(a.n + b.n, nm)
    }
    def finish(r: MgSketch): MgSketch = r
    def bufferEncoder = org.apache.spark.sql.Encoders.product[MgSketch]
    def outputEncoder = org.apache.spark.sql.Encoders.product[MgSketch]
  }

  /** t26: corpus heavy hitters — the two-pass sketch-then-verify pattern
    * for "top tokens at 100 TB without trusting a full shuffle": pass 1
    * runs the [[MisraGriesAgg]] sketch (per-partition partial summaries,
    * ≤ k counters each, merged to one global summary — the t21-style
    * bounded scalar fan-in); pass 2 exact-counts ONLY the ≤ k candidate
    * tokens via a broadcast join and keeps those with exact count ≥
    * ⌈n/k⌉. The guarantee makes the candidate set sufficient: every
    * token with count ≥ ⌈n/k⌉ > n/(k+1) survives the sketch, so the
    * exact pass removes false positives and can miss nothing — the
    * output is therefore DETERMINISTIC (sketch internals never leak into
    * it), which is what lets a DuckDB twin replay it as a plain
    * grouped-count threshold. The threshold is integer arithmetic
    * ((n + k − 1) / k), no float boundary to disagree on.
    */
  def heavyHitters(spark: SparkSession, dir: String,
                   k: Int = HeavyHittersK): DataFrame = {
    import spark.implicits._
    val toks = Tables.documentsParallel(spark, dir)
      .select(explode(tokens(col("text"))).as("token"))
    val sketch = toks.as[String]
      .groupByKey(_ => 0)
      .agg(new MisraGriesAgg(k).toColumn.name("s"))
      .select(col("s.n").as("n"),
        explode(map_keys(col("s.counters"))).as("token"))
    toks.join(broadcast(sketch), "token")
      .groupBy(col("token"), col("n"))
      .agg(count(lit(1)).as("cnt"))
      // cnt >= ceil(n/k) spelled as k*cnt >= n: Column `/` is FRACTIONAL
      // division even on integral types (a `(n + k - 1) / k` spelling
      // yields 70.5-style thresholds and silently drops exact-boundary
      // tokens the oracle's integer `//` admits); the cross-multiplied
      // form is integer-exact
      .filter(col("cnt") * k >= col("n"))
      .select(col("token"), col("cnt"),
        round(col("cnt").cast("double") / col("n") + 1e-9, 4).as("freq"))
      .orderBy(col("cnt").desc, col("token"))
  }

  /** t27: readability scoring — the Flesch–Kincaid grade from three
    * map-side regex counts over the normalized text: words (whitespace
    * tokens), sentences (runs of `.!?`, floored at 1), and syllables via
    * the standard vowel-group approximation (runs of `aeiouy`; hyphenless
    * long-document corpora don't warrant a dictionary syllabifier).
    * Grade = 0.39·(words/sentences) + 11.8·(syllables/words) − 15.59.
    * A curriculum/quality signal (too-low and too-high grades both
    * correlate with junk). Shuffle-free: three `regexp_extract_all`
    * counts per row — the t1 cost shape, identical per-row at 100 TB.
    * All three inputs are integers, so the only float work is the final
    * fixed-order formula, nudged and 4dp-rounded like every cross-engine
    * double.
    */
  def readability(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), normalize(col("text")).as("norm"))
      .select(col("doc_id"),
        size(split(col("norm"), " ")).cast("long").as("n_words"),
        greatest(size(regexp_extract_all(col("norm"), lit("[.!?]+"), lit(0)))
          .cast("long"), lit(1L)).as("n_sentences"),
        size(regexp_extract_all(col("norm"), lit("[aeiouy]+"), lit(0)))
          .cast("long").as("n_syllables"))
    val wDen = greatest(col("n_words"), lit(1L)).cast("double")
    base.select(col("doc_id"), col("n_words"), col("n_sentences"), col("n_syllables"),
        round(lit(0.39) * (col("n_words").cast("double") / col("n_sentences").cast("double")) +
          lit(11.8) * (col("n_syllables").cast("double") / wDen) - lit(15.59) + lit(1e-9), 4)
          .as("fk_grade"))
      .orderBy(col("doc_id"))
  }

  /** t28: character-class profile — the C4/Dolma-style encoding-sanity
    * signal: per-document fractions of letters, digits, spaces and
    * "other" (punctuation, control bytes, mojibake), with a verdict that
    * compares the ROUNDED ratios so the clean/suspect boundary is pinned
    * identically on both engines (the t24/t26 cross-engine convention).
    * Counts are length-differences after class-strip `regexp_replace` —
    * pure map-side string work, no shuffle but the presentation sort.
    */
  def charClassProfile(spark: SparkSession, dir: String): DataFrame = {
    def classCount(c: org.apache.spark.sql.Column, rx: String) =
      (length(c) - length(regexp_replace(c, rx, ""))).cast("long")
    val base = Tables.documentsParallel(spark, dir)
      .select(col("doc_id"), normalize(col("text")).as("norm"))
      .select(col("doc_id"),
        length(col("norm")).cast("long").as("n_chars"),
        classCount(col("norm"), "[a-z]").as("n_letters"),
        classCount(col("norm"), "[0-9]").as("n_digits"),
        classCount(col("norm"), " ").as("n_spaces"))
    val den = greatest(col("n_chars"), lit(1L)).cast("double")
    base.select(col("doc_id"), col("n_chars"),
        round(col("n_letters") / den + lit(1e-9), 4).as("letter_ratio"),
        round(col("n_digits") / den + lit(1e-9), 4).as("digit_ratio"),
        round(col("n_spaces") / den + lit(1e-9), 4).as("space_ratio"),
        round((col("n_chars") - col("n_letters") - col("n_digits") - col("n_spaces")) / den
          + lit(1e-9), 4).as("other_ratio"))
      .withColumn("verdict",
        when(col("letter_ratio") >= 0.6 && col("other_ratio") <= 0.1, lit("clean"))
          .otherwise(lit("suspect")))
      .orderBy(col("doc_id"))
  }

  /** t29: per-source distribution shift — KL(source ‖ corpus) over the
    * unigram token distributions, the mixture-health metric a pretraining
    * curator watches when a crawl source drifts (boilerplate floods,
    * template spam). p ranges over the source's tokens, q over the whole
    * corpus, so q > 0 wherever p > 0 and the sum is total. Two hash
    * aggregations (per-(source,token) and per-token term frequencies,
    * both map-side combinable) + a broadcast-joined totals row — no
    * quadratic anywhere; vocabulary-bounded like t7. The log argument is
    * a single double division of integer cross-products, computed in the
    * same order in the DuckDB twin, and the per-source sum takes the
    * standard nudge+4dp round.
    */
  def sourceKlDivergence(spark: SparkSession, dir: String): DataFrame = {
    // tf feeds three consumers (the join probe, per-source totals, corpus
    // totals) — cached so the explode+shuffle runs once, released after
    // materialization like every interim cache in the d-family
    val tf = Tables.documentsParallel(spark, dir)
      .select(col("source"), explode(split(normalize(col("text")), " ")).as("t"))
      .groupBy(col("source"), col("t"))
      .agg(count(lit(1)).cast("long").as("cnt_s"))
      .cache()
    val perSource = tf.groupBy(col("source"))
      .agg(sum(col("cnt_s")).as("tot_s"), count(lit(1)).cast("long").as("n_terms"))
    val corpus = tf.groupBy(col("t")).agg(sum(col("cnt_s")).as("cnt"))
    val total = corpus.agg(sum(col("cnt")).as("tot"))
    val result = tf.join(corpus, "t")
      .join(broadcast(perSource), "source")
      .crossJoin(broadcast(total))
      .select(col("source"), col("tot_s"), col("n_terms"),
        (col("cnt_s").cast("double") / col("tot_s").cast("double") *
          log((col("cnt_s").cast("double") * col("tot").cast("double")) /
            (col("tot_s").cast("double") * col("cnt").cast("double")))).as("term"))
      .groupBy(col("source"), col("tot_s"), col("n_terms"))
      .agg(round(sum(col("term")) + lit(1e-9), 4).as("kl_vs_corpus"))
      .select(col("source"), col("tot_s").as("n_tokens"), col("n_terms"),
        col("kl_vs_corpus"))
      .orderBy(col("source"))
    Dedup.materializeAndRelease(result, tf)
  }

  /** t3: corpus-level quality aggregation per (lang, source) — the shape of
    * a "which crawl sources are worth keeping" report.
    */
  def qualityBySource(spark: SparkSession, dir: String): DataFrame = {
    val denom = greatest(col("n_tokens"), lit(1L))
    staged(spark, dir)
      .select(col("lang"), col("source"), col("n_tokens"),
        round(col("n_distinct_tokens").cast("double") / denom, 4).as("ttr"),
        round(col("n_stop").cast("double") / denom, 4).as("swr"))
      .select(col("lang"), col("source"), col("n_tokens").as("n"),
        round(
          least(col("n_tokens").cast("double") / 500.0, lit(1.0)) * 0.4 +
            col("ttr") * 0.3 + (lit(1.0) - col("swr")) * 0.3 + 1e-9, 4).as("q"))
      .groupBy(col("lang"), col("source"))
      .agg(
        round(avg(col("q")) + 1e-9, 4).as("avg_quality"),
        round(avg(col("n")), 2).as("avg_tokens"),
        count(lit(1)).cast("long").as("n_docs"))
      .orderBy(col("lang"), col("source"))
  }

  /** How many tokens [[tokenBurstiness]] reports — interpolated into the
    * DuckDB twin.
    */
  val BurstinessTopN = 100

  /** t30: token burstiness — for the `topN` highest-count tokens, the
    * variance-to-mean ratio of per-document counts over ALL documents
    * (zeros included). Poisson scatter gives b ≈ 1; content words clump
    * (b ≫ 1: absent from most docs, repeated where topical); function
    * words spread evenly (b near its floor). Church & Gale's burstiness /
    * adaptation signal — quality pipelines use it to separate topical
    * vocabulary from boilerplate-ish uniform tokens, and spam tokens show
    * up as extreme b at low document frequency.
    *
    * Zeros never materialize: with N total docs, mean = Σc/N and
    * E[c²] = Σc²/N need only the per-(token, doc) counts that EXIST —
    * two shuffles (token×doc, then token), both map-side combined, and
    * the N scalar rides a broadcast. Top-N is TakeOrdered on the ~vocab-
    * sized aggregate, never a corpus sort.
    */
  def tokenBurstiness(spark: SparkSession, dir: String,
                      topN: Int = BurstinessTopN): DataFrame = {
    val base = staged(spark, dir)
    val nDocs = base.agg(count(lit(1)).as("n_docs"))
    val perDoc = base
      .select(col("doc_id"), explode(col("toks")).as("token"))
      .groupBy(col("token"), col("doc_id"))
      .agg(count(lit(1)).as("c"))
    perDoc.groupBy(col("token"))
      .agg(sum(col("c")).cast("long").as("total"),
        sum(col("c") * col("c")).cast("double").as("sumsq"),
        count(lit(1)).cast("long").as("n_docs_with"))
      .crossJoin(broadcast(nDocs))
      .select(col("token"), col("total"), col("n_docs_with"),
        (col("total").cast("double") / col("n_docs")).as("mean"),
        (col("sumsq") / col("n_docs")).as("ex2"))
      .select(col("token"), col("total"), col("n_docs_with"),
        round((col("ex2") - col("mean") * col("mean")) / col("mean") + 1e-9, 4)
          .as("burstiness"))
      .orderBy(col("total").desc, col("token").asc)
      .limit(topN)
  }

  /** t31's sampling temperature exponent α and nominal token budget —
    * interpolated into the DuckDB twin so operator and oracle share ONE
    * constant (α = 0.3 is the multilingual-LM sampling exponent of
    * XLM-R/mT5; UniMax-style capping is t17's job, not this one's).
    */
  val MixtureAlpha = 0.3
  val MixtureBudgetTokens = 1000000L

  /** t31: temperature-scaled source mixture — the sampling-weight table a
    * multilingual / multi-source training run derives before building its
    * data loader: w_s ∝ c_s^α with α < 1 UP-samples small sources and
    * flattens the head (α = 1 is proportional, α = 0 uniform), and
    * `effective_epochs` = budget·w_s / c_s says how many times source s's
    * tokens repeat under a fixed total token budget — the over-sampling
    * diagnostic (epochs ≫ 1 on a small source means it will be memorized).
    *
    * Shape: ONE corpus aggregation to the per-source token counts (the
    * hash-groupBy's map-side combine does the heavy lifting; sources are a
    * bounded vocabulary), then all temperature math runs on the
    * source-sized table against a broadcast 1-row total. The corpus is
    * touched exactly once — at 100 TB this is a scan + combine, shuffle
    * rows = #sources × #partitions.
    *
    * Cross-engine floats: pow/sums are double on both engines; every
    * emitted ratio takes the nudge+round (6dp weights, 4dp epochs), the
    * q52-exp() convention.
    */
  def temperatureMixture(spark: SparkSession, dir: String,
                         alpha: Double = MixtureAlpha,
                         budget: Long = MixtureBudgetTokens): DataFrame = {
    val per = staged(spark, dir)
      .groupBy(col("source"))
      .agg(count(lit(1)).cast("long").as("n_docs"),
        sum(col("n_tokens")).cast("long").as("n_tokens"))
    val tot = per.agg(sum(col("n_tokens")).cast("double").as("tot_tokens"),
      sum(pow(col("n_tokens").cast("double"), lit(alpha))).as("tot_pow"))
    per.crossJoin(broadcast(tot))
      .select(col("source"), col("n_docs"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("tot_tokens") + 1e-9, 6)
          .as("raw_share"),
        round(pow(col("n_tokens").cast("double"), lit(alpha)) / col("tot_pow")
          + 1e-9, 6).as("temp_weight"),
        round(lit(budget.toDouble)
          * (pow(col("n_tokens").cast("double"), lit(alpha)) / col("tot_pow"))
          / col("n_tokens").cast("double") + 1e-9, 4).as("effective_epochs"))
      .orderBy(col("source"))
  }

  /** t32's coverage checkpoints — interpolated into the DuckDB twin. */
  val CoverageKs: Seq[Int] = Seq(10, 100, 1000)

  /** t32: vocabulary coverage curve — what fraction of all token
    * OCCURRENCES the top-k most frequent token TYPES cover, at the
    * `CoverageKs` checkpoints. The tokenizer-budget planning curve: a
    * corpus whose top-1000 types cover 95% of occurrences tokenizes
    * compactly with a small vocab, while a flat curve (OCR noise, random
    * strings) predicts byte-fallback explosion; read next to t21's Zipf
    * slope (same ranked table) and t18's entropy.
    *
    * Shape: the corpus pays ONE explode+count to the vocab-sized frequency
    * table; ranking reuses [[zipfRanked]] — the hapax-safe global rank
    * with NO single-partition window — and everything after filters to
    * rnk ≤ max(k): a ≤1000-row table crossed with the 3-row checkpoint
    * frame against a broadcast scalar total. Coverage at each k sums the
    * top-k frequencies exactly; ties at the k-boundary resolve by the rank
    * order (token asc within a frequency), the t21 contract the oracle
    * replays.
    */
  def coverageCurve(spark: SparkSession, dir: String,
                    ks: Seq[Int] = CoverageKs,
                    release: Boolean = true): DataFrame = {
    // cached like t21: the corpus-priced tokenize+count runs ONCE, shared
    // by the totals scalar and zipfRanked's per-frequency collect
    val tf = staged(spark, dir)
      .select(explode(col("toks")).as("token"))
      .groupBy(col("token"))
      .agg(count(lit(1)).cast("long").as("freq"))
      .cache()
    val tot = tf.agg(sum(col("freq")).cast("double").as("tot"),
      count(lit(1)).cast("long").as("vocab"))
    val ranked = zipfRanked(spark, tf).filter(col("rnk") <= ks.max.toLong)
    val kdf = spark.createDataFrame(ks.map(k => Tuple1(k.toLong))).toDF("k")
    val result = ranked.crossJoin(broadcast(kdf))
      .filter(col("rnk") <= col("k"))
      .groupBy(col("k"))
      .agg(count(lit(1)).cast("long").as("top_types"),
        sum(col("freq")).cast("long").as("covered_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("vocab"), col("top_types"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") / col("tot") + 1e-9, 6)
          .as("coverage"))
      .orderBy(col("k"))
    if (release) Dedup.materializeAndRelease(result, tf) else result
  }

  /** The t33 sweep grid — the candidate quality cuts a curation pass is
    * tuned over; includes t13's production rule value 0.3. Interpolated
    * into the DuckDB twin.
    */
  val QualitySweep: Seq[Double] = Seq(0.3, 0.4, 0.5, 0.6, 0.7)

  /** t33: quality-threshold sensitivity sweep — the curation counterpart
    * of d24's dedup damage curve: before committing a corpus to the
    * quality cut t13 applies at 0.3, how many documents — and, the number
    * that actually prices a pretraining run, how many TOKENS — survive
    * each candidate threshold? One row per grid value: docs kept, tokens
    * kept, both as corpus fractions.
    *
    * Scale shape: ONE t1 stats scan; the whole grid is a single grouped
    * pass (the d24 r9 fold applied from birth): each doc fans out to the
    * grid values its 4dp-rounded quality score clears (≤ |grid| rows),
    * one groupBy computes every grid row, and a left join from the
    * literal grid frame restores thresholds nothing clears — zero corpus
    * passes per extra threshold. Comparisons bind on t1's published
    * 4dp rounding, pinning grid-boundary docs across engines.
    */
  def qualityThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    // cached: the corpus-priced tokenize+score scan runs ONCE, shared by
    // the totals scalar and the grid pass (the t32/coverageCurve pattern)
    val stats = textStats(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .cache()
    val totals = stats
      .agg(count(lit(1)).cast("long").as("nd"),
        coalesce(sum(col("n_tokens")), lit(0L)).cast("long").as("nt"))
      .collect()(0)
    val (nDocs, nTokens) = (totals.getLong(0), totals.getLong(1))
    val counts = stats
      .select(explode(filter(array(QualitySweep.map(lit): _*),
          t => col("quality_score") >= t)).as("threshold"),
        col("n_tokens"))
      .groupBy(col("threshold"))
      .agg(count(lit(1)).cast("long").as("n_docs_kept"),
        sum(col("n_tokens")).cast("long").as("n_tokens_kept"))
    import spark.implicits._
    val grid = QualitySweep.toDF("threshold")
      .join(counts, Seq("threshold"), "left")
      .select(col("threshold"),
        coalesce(col("n_docs_kept"), lit(0L)).as("n_docs_kept"),
        coalesce(col("n_tokens_kept"), lit(0L)).as("n_tokens_kept"))
      .withColumn("doc_kept_frac",
        // empty-corpus guard: a 0-doc sweep's kept fraction is zero by
        // definition, never NaN (the d24/s14 grid-report contract)
        if (nDocs == 0) lit(0.0)
        else round(col("n_docs_kept").cast("double") / nDocs + 1e-9, 6))
      .withColumn("token_kept_frac",
        if (nTokens == 0) lit(0.0)
        else round(col("n_tokens_kept").cast("double") / nTokens + 1e-9, 6))
      .orderBy(col("threshold"))
    Dedup.materializeAndRelease(grid, stats)
  }

  /** t35's budget grid — corpus-token fractions to price. Interpolated
    * into the oracle SQL (the t33 convention) so the twin cannot desync.
    */
  val TokenBudgetGrid: Seq[Double] = Seq(0.1, 0.25, 0.5, 0.75)

  /** Rank-group bound for [[budgetRunningSum]] — same rationale as
    * [[ZipfMaxRankGroup]].
    */
  val BudgetMaxRankGroup = 1000000L

  /** Global running TOKEN sum under the (quality_score DESC, doc_id ASC)
    * selection order WITHOUT a single-partition window — the zipfRanked
    * recipe with token sums as the offset currency. The 4dp-rounded
    * quality score is a BOUNDED vocabulary (≤ ~10⁴ distinct values at
    * any corpus size), so the per-score totals are a driver-sized
    * collect; any score group wider than `maxGroup` docs (the
    * all-docs-score-alike cliff, the hapax analog) is sub-split 256 ways
    * by doc_id RANGE — numeric id order, so sub-group order is the
    * within-group order and the offsets compose exactly. The residual
    * caveat matches zipfRanked's: a pathological id clustering can
    * leave one sub-range wide, and the remedy is the same recursive
    * sub-split, not a different algorithm.
    */
  private[graft] def budgetRunningSum(spark: SparkSession, base: DataFrame,
                                      maxGroup: Long = BudgetMaxRankGroup)
      : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val perScore = base.groupBy(col("quality_score"))
      .agg(count(lit(1)).cast("long").as("n"),
        sum(col("n_tokens")).cast("long").as("tk"))
      .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val oversized = perScore.filter(_._2 > maxGroup).map(_._1).toSet
    val width = {
      val maxId = base.agg(coalesce(max(col("doc_id")), lit(0L)))
        .collect()(0).getLong(0)
      math.max(1L, maxId / 256L + 1L)
    }
    val subSums: Array[(Double, Long, Long)] =
      if (oversized.isEmpty) Array.empty
      else base.filter(col("quality_score").isInCollection(oversized))
        .groupBy(col("quality_score"),
          (col("doc_id") / width).cast("long").as("sub"))
        .agg(sum(col("n_tokens")).cast("long").as("tk"))
        .collect().map(r => (r.getDouble(0), r.getLong(1), r.getLong(2)))
    val groups = (perScore.filterNot(g => oversized(g._1))
        .map { case (s, _, tk) => (s, -1L, tk) } ++ subSums)
      .sortBy { case (s, sub, _) => (-s, sub) }
    val offsets = groups.scanLeft(0L) { case (acc, (_, _, tk)) => acc + tk }
      .init.zip(groups).map { case (before, (s, sub, _)) => (s, sub, before) }
    val offDf = spark.createDataFrame(offsets.toSeq)
      .toDF("quality_score", "sub", "offset")
    val w = Window.partitionBy(col("quality_score"), col("sub"))
      .orderBy(col("doc_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("sub",
        when(col("quality_score").isInCollection(oversized),
          (col("doc_id") / width).cast("long")).otherwise(lit(-1L)))
      .join(broadcast(offDf), Seq("quality_score", "sub"))
      .withColumn("run", col("offset") + sum(col("n_tokens")).over(w))
      .select(col("doc_id"), col("n_tokens"), col("quality_score"), col("run"))
  }

  /** t35: token-budget selection curve — the step AFTER curation in a
    * training pipeline: "I can afford B tokens; what do I keep, and what
    * quality bar does that imply?" Docs are taken greedily in
    * (quality_score DESC, doc_id ASC) order until the running token sum
    * exceeds the budget; for each grid fraction the report row carries
    * the budget in tokens (⌊frac·total⌋), the docs and tokens actually
    * kept, and the implied quality bar (the minimum kept score — the
    * number you'd quote as "we train on quality ≥ X"). Complements t33:
    * the sweep prices candidate QUALITY cuts, this prices candidate
    * BUDGETS — together they answer both directions of the same
    * trade-off.
    *
    * One corpus pass for the whole curve: the running sum comes from
    * [[budgetRunningSum]] (broadcast offsets, no single-partition
    * window), and every grid row is a conditional aggregate over the one
    * cached frame, unpivoted with `stack` (the t34 report shape).
    * kept_tokens ≤ budget_tokens by construction; the gap is the first
    * unaffordable document — greedy prefix selection, not bin packing
    * (t16 is the packer).
    */
  def tokenBudgetCurve(spark: SparkSession, dir: String,
                       fracs: Seq[Double] = TokenBudgetGrid): DataFrame = {
    // cached: budgetRunningSum takes three driver-sized statistics off
    // `base` (per-score totals, max id, oversized sub-sums) before the
    // ranked plan reads it a fourth time — uncached, each pass would
    // re-run the full t1 text pipeline
    val base = textStats(spark, dir)
      .select(col("doc_id"), col("n_tokens"), col("quality_score"))
      .cache()
    val ranked = budgetRunningSum(spark, base).cache()
    val total = ranked.agg(coalesce(sum(col("n_tokens")), lit(0L)))
      .collect()(0).getLong(0)
    val cols = fracs.zipWithIndex.flatMap { case (f, i) =>
      val budget = (f * total).toLong
      val kept = col("run") <= budget
      Seq(
        sum(when(kept, 1L).otherwise(0L)).as(s"d$i"),
        sum(when(kept, col("n_tokens")).otherwise(0L)).as(s"t$i"),
        min(when(kept, col("quality_score"))).as(s"q$i"))
    }
    val agg = ranked.agg(cols.head, cols.tail: _*)
    val stackArgs = fracs.zipWithIndex.map { case (f, i) =>
      val budget = (f * total).toLong
      s"CAST($f AS DOUBLE), CAST($budget AS BIGINT), " +
        s"coalesce(d$i, CAST(0 AS BIGINT)), coalesce(t$i, CAST(0 AS BIGINT)), " +
        s"coalesce(q$i, CAST(0.0 AS DOUBLE))"
    }.mkString(", ")
    val curve = agg.select(expr(
      s"stack(${fracs.size}, $stackArgs) AS " +
        "(budget_frac, budget_tokens, kept_docs, kept_tokens, cut_quality)"))
      .orderBy(col("budget_frac"))
    Dedup.materializeAndRelease(curve, ranked, base)
  }
}
