package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines (extension beyond the
  * reference surface, SURVEY §2.11). All pure Catalyst expressions —
  * whole-stage-codegen friendly, zero shuffles (per-row feature extraction).
  */
object TextOps {

  /** Non-empty whitespace tokens. */
  def tokens(text: Column): Column =
    filter(split(text, "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish token count: runs of letters, runs of digits, or single
    * non-alphanumeric glyphs — a cheap upper-bound proxy for subword
    * tokenizer counts. */
  def regexTokenCount(text: Column): Column =
    regexp_count(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"))

  private val StopwordsEn = Seq("the", "a", "an", "and", "of", "is", "to", "in")

  /** Appends quality-scoring features:
    *   n_chars, n_tokens, avg_token_len, punct_ratio, stopword_ratio.
    * Ratios are exact integer-count divisions (reproducible bit-for-bit
    * across engines). */
  def qualityFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val nChars = length(t)
    df.withColumn("n_chars", nChars)
      .withColumn("n_tokens", nTok)
      .withColumn(
        "avg_token_len",
        when(nTok > 0,
          aggregate(toks, lit(0), (acc, w) => acc + length(w)).cast("double")
            / nTok.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn(
        "punct_ratio",
        when(nChars > 0,
          regexp_count(t, lit("[!-/:-@\\[-`{-~]")).cast("double") / nChars.cast("double"))
          .otherwise(lit(0.0)))
      .withColumn(
        "stopword_ratio",
        when(nTok > 0,
          size(filter(toks, w => w.isin(StopwordsEn: _*))).cast("double")
            / nTok.cast("double"))
          .otherwise(lit(0.0)))
  }

  /** Stopword profiles for the n-gram/stopword language-ID heuristic. First
    * language in this order wins score ties (deterministic). */
  val LangProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "is", "to"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"),
    "es" -> Seq("el", "la", "de", "y", "es", "un"),
    "fr" -> Seq("le", "la", "les", "et", "est", "un"),
  )

  /** Language-ID heuristic: per-language stopword hit count over tokens;
    * highest score wins, earlier profile order wins ties. CJK text is
    * detected by codepoint range (score = CJK char count). */
  def languageId(text: Column): Column = {
    val toks = tokens(lower(text))
    val scores = LangProfiles.map { case (lang, words) =>
      lang -> size(filter(toks, w => w.isin(words: _*)))
    } :+ ("zh" -> regexp_count(text, lit("[\\x{4E00}-\\x{9FFF}]")))
    // first profile with score >= all later ones wins (stable tie-break)
    val langs = scores.map(_._1)
    val cols = scores.map(_._2)
    val picks = langs.indices.init.map { i =>
      val geAllLater = cols.drop(i + 1).map(c => cols(i) >= c).reduce(_ && _)
      (geAllLater, lit(langs(i)))
    }
    picks.foldRight(lit(langs.last): Column) { case ((cond, v), rest) =>
      when(cond, v).otherwise(rest)
    }
  }

  /** Per-group corpus statistics — the monitoring table a curation
    * pipeline publishes after every run: document counts, token totals and
    * means, and token-count percentiles (p50/p90).
    *
    * `exact = true` uses the interpolated `percentile` aggregate, which
    * buffers every group's values — right for oracle checks and moderate
    * groups, wrong for a 100-TB corpus with billions of docs per language.
    * `exact = false` switches to `approx_percentile` (t-digest sketch,
    * bounded memory per group) — the form to run at scale. */
  def corpusStats(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      exact: Boolean = true,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(groupCol, textCol))
    val n = tokenCount(col(textCol)).cast("long")
    def pct(p: Double): Column =
      if (exact) percentile(col("__graft_n"), lit(p))
      else approx_percentile(col("__graft_n"), lit(p), lit(10000)).cast("double")
    df.select(col(groupCol), n.as("__graft_n"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(col("__graft_n")).as("total_tokens"),
        (sum(col("__graft_n")).cast("double") / count(lit(1)).cast("double"))
          .as("mean_tokens"),
        pct(0.5).as("p50_tokens"),
        pct(0.9).as("p90_tokens"))
  }

  /** WITHIN-document repeated-line removal — the intra-doc half of the
    * RefinedWeb line-dedup pass ([[removeCommonLines]] is the cross-corpus
    * half): each document keeps only the FIRST occurrence of every line,
    * in reading order, so navigation bars and footers repeated inside one
    * page collapse without any corpus-level statistics. In-place
    * replacement of `textCol`; NULL text stays NULL.
    *
    * Scale shape: a PURE NARROW projection — split, keep-first filter,
    * re-join all happen inside one row, no explode, no shuffle, no fit.
    * The keep-first test is `array_position(prefix, line) == own position`
    * over growing prefixes (O(lines²) comparisons per doc — lines per
    * document are bounded small, and it stays whole-stage-codegen where
    * the grouped alternative would shuffle every line of the corpus). */
  def dedupLinesWithinDoc(
      df: DataFrame,
      textCol: String,
      sepRegex: String = "\n",
      joinSep: String = "\n",
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    val arr = split(col(textCol), sepRegex)
    val kept = filter(arr, (x, i) =>
      array_position(slice(arr, lit(1), i + 1), x) === (i + 1).cast("long"))
    df.withColumn(textCol,
      when(col(textCol).isNull, lit(null).cast("string"))
        .otherwise(array_join(kept, joinSep)))
  }

  /** Context-window truncation report: per group, how much of the corpus a
    * `contextLen`-token training window actually sees — docs over the
    * window, the token mass inside it (`Σ min(tokens, contextLen)`), and
    * the mass lost past it. The pre-flight check before committing a
    * context length to a mix: a 2k window over a books-heavy slice can
    * silently discard most of the token mass, and this one aggregate says
    * so before any tokenization or sharding runs. Counts default to
    * whitespace tokens; pass `tokenCountCol` (e.g. a precomputed
    * [[graft.ops.Bpe.bpeTokenCount]] column) to budget in subword tokens —
    * the same pluggable-token convention as `sampleTokenBudget`.
    *
    * Scale shape: one narrow count projection + one hash aggregate (exact
    * integer sums); output is group-cardinality-sized. */
  def truncationReport(
      df: DataFrame,
      groupCol: String,
      textCol: String,
      contextLen: Long,
      tokenCountCol: Option[String] = None,
  ): DataFrame = {
    require(contextLen >= 1, "contextLen must be >= 1")
    graft.core.Validators.requireColumns(df,
      Seq(groupCol) ++ (if (tokenCountCol.isEmpty) Seq(textCol) else tokenCountCol.toSeq))
    val n = tokenCountCol.map(c => col(c).cast("long"))
      .getOrElse(tokenCount(col(textCol)).cast("long"))
    df.select(col(groupCol), n.as("__graft_n"))
      .groupBy(groupCol)
      .agg(
        count(lit(1)).as("n_docs"),
        sum(when(col("__graft_n") > contextLen, 1L).otherwise(0L)).as("n_truncated"),
        sum(col("__graft_n")).as("total_tokens"),
        sum(least(col("__graft_n"), lit(contextLen))).as("tokens_kept"),
        sum(greatest(col("__graft_n") - contextLen, lit(0L))).as("tokens_lost"))
  }

  /** Unicode canonicalization — the pass that must precede any hashing,
    * fingerprinting, or dedup so visually-identical byte sequences
    * (precomposed é vs e + combining accent, NFKC-folded ligatures and
    * width variants) collide. Normalization runs in the native
    * graft_normalize expression (Spark has no builtin); lowercasing and whitespace collapsing compose on top as
    * ordinary codegen'd expressions. In-place replacement of `textCol`;
    * one narrow projection, no shuffle. */
  def normalizeText(
      df: DataFrame,
      textCol: String,
      form: String = "NFC",
      stripAccents: Boolean = false,
      lowercase: Boolean = false,
      collapseWhitespace: Boolean = false,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    require(Set("NFC", "NFD", "NFKC", "NFKD")(form.toUpperCase(java.util.Locale.ROOT)),
      s"unknown normalization form '$form'")
    var c: Column = call_function(graft.functions.TilePairs.NormalizeName,
      col(textCol), lit(form), lit(stripAccents))
    if (lowercase) c = lower(c)
    if (collapseWhitespace) c = trim(regexp_replace(c, "\\s+", " "))
    df.withColumn(textCol, c)
  }

  /** Corpus-level common-line removal (the Gopher/CCNet boilerplate pass):
    * split every document on `sepRegex`, drop the lines that occur in MORE
    * than `maxDocFreq` distinct documents (nav bars, license footers,
    * cookie banners…), reassemble the survivors in original order with
    * `joinSep`. Documents whose every line is common come back as "".
    *
    * Shuffle profile: one distinct + count aggregate keyed on the line
    * (map-side partial), one anti-join of the exploded lines against the
    * (small — boilerplate is by definition rare as a fraction of distinct
    * lines) common set, one per-doc reassembly aggregate, one join back to
    * the input for the non-text columns.
    *
    * `hashKeys = true` is the extreme-scale mode: the doc-freq aggregate
    * and the anti-join key on `xxhash64(line)` instead of the line string,
    * so aggregate state and shuffle keys are 8 bytes regardless of line
    * length. The trade is a documented false-positive chance: two distinct
    * lines colliding merge their document frequencies (expected colliding
    * pairs ≈ V²/2⁶⁵ for V distinct lines — about 0.003 at V = 10⁹), which
    * can only remove MORE lines, never fewer. Default stays exact. */
  def removeCommonLines(
      df: DataFrame,
      idCol: String,
      textCol: String,
      sepRegex: String = "\n",
      joinSep: String = "\n",
      maxDocFreq: Long = 1L,
      hashKeys: Boolean = false,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    require(maxDocFreq >= 1L, "maxDocFreq must be >= 1")
    val lines = df.select(col(idCol).as("__graft_id"),
      posexplode(split(col(textCol), sepRegex)).as(Seq("__graft_pos", "__graft_ln")))
      .withColumn("__graft_k",
        if (hashKeys) xxhash64(col("__graft_ln")) else col("__graft_ln"))
    val common = lines.select("__graft_k", "__graft_id").distinct()
      .groupBy("__graft_k").agg(count(lit(1)).as("__graft_df"))
      .filter(col("__graft_df") > maxDocFreq)
      .select("__graft_k")
    val rebuilt = lines.join(common, Seq("__graft_k"), "left_anti")
      .groupBy("__graft_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__graft_pos"), col("__graft_ln")))),
          s => s("__graft_ln")),
        joinSep).as("__graft_new"))
    df.join(rebuilt, col(idCol) === col("__graft_id"), "left")
      .withColumn(textCol, coalesce(col("__graft_new"), lit("")))
      .drop("__graft_id", "__graft_new")
  }

  /** Corpus-level repeated-span removal — the exact-substring dedup pass
    * (RefinedWeb / "Deduplicating Training Data" style) at token-n-gram
    * granularity: any token covered by an n-gram occurring in MORE than
    * `maxDocFreq` distinct documents is cut, and each document is
    * reassembled from its surviving tokens in order. Catches boilerplate
    * that repeats mid-sentence (license blurbs, navigation crumbs,
    * templated spans), which line-level [[removeCommonLines]] misses when
    * the surrounding text varies. Documents with NO covered token pass
    * through byte-identical (original whitespace intact — only documents
    * that actually lose a span are re-joined with `joinSep`); a
    * fully-covered document comes back as "".
    *
    * Shuffle profile mirrors [[removeCommonLines]]: gram doc-freq
    * aggregate, semi-join of gram starts against the common set, one
    * distinct over covered (doc, position) pairs, anti-join of the token
    * rows, per-doc reassembly, join back.
    *
    * `hashKeys = true` keys the gram doc-freq aggregate and semi-join on
    * `xxhash64(gram)` — 8 bytes of aggregate state per distinct n-gram at
    * 100 TB instead of the n-token string. Collisions (expected pairs ≈
    * V²/2⁶⁵) can only mark MORE spans common, never fewer; the default
    * stays exact so removal can never false-positive. */
  def removeRepeatedSpans(
      df: DataFrame,
      idCol: String,
      textCol: String,
      n: Int = 13,
      maxDocFreq: Long = 1L,
      joinSep: String = " ",
      hashKeys: Boolean = false,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    require(n >= 1, "n must be >= 1")
    require(maxDocFreq >= 1L, "maxDocFreq must be >= 1")
    val base = df.select(col(idCol).as("__graft_id"), tokens(col(textCol)).as("__graft_w"))
    val grams = base
      .filter(size(col("__graft_w")) >= n)
      .select(col("__graft_id"),
        posexplode(transform(
          sequence(lit(0), size(col("__graft_w")) - n),
          q => array_join(slice(col("__graft_w"), q + 1, lit(n)), " ")))
          .as(Seq("__graft_q", "__graft_g")))
      .withColumn("__graft_k",
        if (hashKeys) xxhash64(col("__graft_g")) else col("__graft_g"))
    val common = grams.select("__graft_k", "__graft_id").distinct()
      .groupBy("__graft_k").agg(count(lit(1)).as("__graft_df"))
      .filter(col("__graft_df") > maxDocFreq)
      .select("__graft_k")
    val covered = grams.join(common, Seq("__graft_k"), "left_semi")
      .select(col("__graft_id"),
        explode(sequence(col("__graft_q"), col("__graft_q") + (n - 1))).as("__graft_p"))
      .distinct()
    // only documents that actually lose a token are rebuilt — everything
    // else passes through byte-identical (original whitespace intact)
    val affected = covered.select("__graft_id").distinct()
    val tokRows = base.join(affected, Seq("__graft_id"), "left_semi")
      .select(col("__graft_id"),
        posexplode(col("__graft_w")).as(Seq("__graft_p", "__graft_tok")))
    val rebuilt = tokRows.join(covered, Seq("__graft_id", "__graft_p"), "left_anti")
      .groupBy("__graft_id")
      .agg(array_join(
        transform(
          array_sort(collect_list(struct(col("__graft_p"), col("__graft_tok")))),
          s => s("__graft_tok")),
        joinSep).as("__graft_new"))
    val affectedText = affected
      .join(rebuilt, Seq("__graft_id"), "left")
      // a fully-covered doc keeps zero tokens → no rebuilt row → ""
      .select(col("__graft_id"), coalesce(col("__graft_new"), lit("")).as("__graft_new"))
    df.join(affectedText, col(idCol) === col("__graft_id"), "left")
      .withColumn(textCol, coalesce(col("__graft_new"), col(textCol)))
      .drop("__graft_id", "__graft_new")
  }

  /** Document fingerprint: md5 of the whitespace-normalized, lowercased
    * text. Stable across engines (md5 is md5 everywhere). */
  def fingerprint(text: Column): Column =
    md5(trim(regexp_replace(lower(text), "\\s+", " ")).cast("binary"))

  /** The quality-filter pipeline stage: keep documents passing all
    * [[qualityFeatures]]-based thresholds (and none of the feature columns
    * survive into the output — this is the filter, not the profiler). A
    * single narrow filter projection; predicates push toward the scan. */
  def qualityFilter(
      df: DataFrame,
      textCol: String,
      minTokens: Int = 5,
      maxPunctRatio: Double = 0.2,
      minStopwordRatio: Double = 0.0,
  ): DataFrame = {
    val scored = qualityFeatures(df, textCol)
    scored
      .filter(col("n_tokens") >= minTokens &&
        col("punct_ratio") <= maxPunctRatio &&
        col("stopword_ratio") >= minStopwordRatio)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** Word-level repetition features — the Gopher/RefinedWeb-style corpus
    * hygiene signals for machine-generated or boilerplate text:
    *   rep_dup_word_frac   fraction of tokens that are repeats of an
    *                       earlier token (1 − distinct/total);
    *   rep_top_word_frac   the most frequent token's share of all tokens;
    *   rep_top_bigram_frac the most frequent word-bigram's share.
    * Per-row expressions (the per-doc mode runs O(|distinct| × |tokens|)
    * inside one projection — no shuffle, no UDF), exact integer-count
    * divisions so any engine reproduces the doubles bit-for-bit. */
  def repetitionFeatures(df: DataFrame, textCol: String): DataFrame = {
    // Native one-pass kernel: the pure-Column twin below walks the token
    // array through four interpreted expression trees per row — measured
    // ~5 s over the sf0.1 corpus vs ~0.2 s for the kernel.
    val rep = call_function(graft.functions.TilePairs.RepetitionName, col(textCol))
    df.withColumn("__graft_rep", rep)
      .withColumn("rep_dup_word_frac", col("__graft_rep.dup_word_frac"))
      .withColumn("rep_top_word_frac", col("__graft_rep.top_word_frac"))
      .withColumn("rep_top_bigram_frac", col("__graft_rep.top_bigram_frac"))
      .drop("__graft_rep")
  }

  /** Pure-Column reference for [[repetitionFeatures]] (OpsSpec pins
    * bit-parity with the kernel). */
  private[graft] def repetitionFeaturesFallback(df: DataFrame, textCol: String): DataFrame = {
    def toks = tokens(lower(col(textCol)))
    def topShare(arr: Column): Column = {
      val counts = transform(array_distinct(arr), w => size(filter(arr, x => x === w)))
      when(size(arr) > 0,
        array_max(counts).cast("double") / size(arr).cast("double"))
        .otherwise(lit(0.0))
    }
    def bigrams = {
      val n = size(toks)
      when(n >= 2, transform(sequence(lit(1), n - 1), i =>
        concat(element_at(toks, i), lit(" "), element_at(toks, i + 1))))
        .otherwise(array().cast("array<string>"))
    }
    df.withColumn(
        "rep_dup_word_frac",
        when(size(toks) > 0,
          lit(1.0) - size(array_distinct(toks)).cast("double") / size(toks).cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("rep_top_word_frac", topShare(toks))
      .withColumn("rep_top_bigram_frac", topShare(bigrams))
  }

  /** The repetition-filter pipeline stage: keep documents whose repetition
    * signals stay below the thresholds; feature columns do not survive into
    * the output. Single narrow filter projection. */
  def repetitionFilter(
      df: DataFrame,
      textCol: String,
      maxDupWordFrac: Double = 0.3,
      maxTopWordFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.18,
  ): DataFrame = {
    val scored = repetitionFeatures(df, textCol)
    scored
      .filter(col("rep_dup_word_frac") <= maxDupWordFrac &&
        col("rep_top_word_frac") <= maxTopWordFrac &&
        col("rep_top_bigram_frac") <= maxTopBigramFrac)
      .select(df.columns.map(col).toSeq: _*)
  }

  /** PII signal counts (emails, phone-shaped numbers, IPv4-shaped dotted
    * quads) — the redaction/filter pre-pass of a training-data pipeline.
    * Patterns are deliberately RE2-compatible (no lookarounds, no
    * backreferences) so Java-regex Spark and RE2-based engines count
    * identically; counts are non-overlapping left-to-right matches in both.
    * Detection only — redaction policy is the caller's. */
  def piiCounts(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    df.withColumn("n_emails",
        regexp_count(t, lit("[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}")))
      .withColumn("n_phones",
        regexp_count(t, lit("[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}")))
      .withColumn("n_ipv4",
        regexp_count(t, lit("[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}")))
  }

  /** PII redaction — the scrub counterpart of [[piiCounts]]: replaces every
    * email, phone-shaped number, and IPv4-shaped dotted quad with its
    * placeholder token, in that order (emails first so their digit runs
    * can't be half-eaten by the phone pattern; phones before IPs so
    * `123.456.7890` isn't misread as a dotted quad). Same RE2-compatible
    * patterns as [[piiCounts]] — any engine reproduces the output
    * byte-for-byte. One narrow projection, in-place on `textCol`. */
  def redactPii(
      df: DataFrame,
      textCol: String,
      emailToken: String = "<EMAIL>",
      phoneToken: String = "<PHONE>",
      ipToken: String = "<IP>",
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(col(textCol),
          "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", emailToken),
        "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", phoneToken),
      "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", ipToken)
    df.withColumn(textCol, scrubbed)
  }

  /** [[piiCounts]] plus the financial/identity signals a release gate also
    * scans for: card-SHAPED digit runs (13–19 digits with optional single
    * space/dash separators — shape only, no Luhn check, so treat counts as
    * a detector signal, not a verdict), SSN-shaped 3-2-4 groups, and
    * IBAN-shaped country-code+check-digit runs. All RE2-compatible (no
    * backrefs/lookarounds), per-row `regexp_count` projections. Counts
    * are INDEPENDENT detectors, so one span can trip several (an IBAN's
    * digit run also counts as card-shaped — RE2 has no lookarounds to
    * exclude it); [[redactPiiExtended]] resolves such overlaps by
    * replacement order instead. */
  def piiCountsExtended(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    piiCounts(df, textCol)
      .withColumn("n_cards",
        regexp_count(t, lit("[0-9](?:[ -]?[0-9]){12,18}")))
      .withColumn("n_ssns",
        regexp_count(t, lit("[0-9]{3}-[0-9]{2}-[0-9]{4}")))
      .withColumn("n_ibans",
        regexp_count(t, lit("[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}")))
  }

  /** Scrub counterpart of [[piiCountsExtended]] — [[redactPii]]'s chain
    * with the extended patterns woven in at the order that prevents
    * cross-bites: emails first (digit runs inside locals), then IBAN
    * (letter-anchored, can't collide with digit patterns), then
    * card-shaped runs (≥13 digits — a 10-digit phone never matches), then
    * SSN (3-2-4 ≠ phone's 3-3-4), then phone, then IPv4. In-place on
    * `textCol`; one narrow projection; byte-replayable by any RE2
    * engine. */
  def redactPiiExtended(
      df: DataFrame,
      textCol: String,
      emailToken: String = "<EMAIL>",
      phoneToken: String = "<PHONE>",
      ipToken: String = "<IP>",
      cardToken: String = "<CARD>",
      ssnToken: String = "<SSN>",
      ibanToken: String = "<IBAN>",
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    val scrubbed = regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(
            regexp_replace(
              regexp_replace(col(textCol),
                "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}", emailToken),
              "[A-Z]{2}[0-9]{2}[A-Z0-9]{11,30}", ibanToken),
            "[0-9](?:[ -]?[0-9]){12,18}", cardToken),
          "[0-9]{3}-[0-9]{2}-[0-9]{4}", ssnToken),
        "[0-9]{3}[-.][0-9]{3}[-.][0-9]{4}", phoneToken),
      "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}", ipToken)
    df.withColumn(textCol, scrubbed)
  }

  /** HTML → plain-text extraction — the boilerplate-stripping stage a web
    * corpus (Common-Crawl-style) runs before any quality/dedup work. A
    * deliberately rule-based, RE2-portable cascade (the [[redactPii]]
    * convention — no HTML parser dependency, identical semantics in any
    * engine):
    *   1. `<script>`/`<style>` blocks (content and all) → one space;
    *   2. HTML comments → one space;
    *   3. block-closing tags (`</p> </div> </li> </h1..6> </tr>`) and
    *      `<br>` → newline (so block structure survives as line breaks);
    *   4. every remaining tag → one space;
    *   5. the five ubiquitous entities decoded (`&nbsp; &lt; &gt; &quot;
    *      &#39;`), then `&amp;` LAST — decoding `&amp;` first would
    *      double-decode `&amp;lt;` into `<`;
    *   6. whitespace normalization: runs of spaces/tabs → one space,
    *      newline runs (with surrounding spaces) → one newline, trimmed.
    * One narrow projection per row, no shuffle. Not a sanitizer — malformed
    * HTML degrades gracefully (unmatched `<` survives as text), which is
    * the right failure mode for a lossy extraction stage. */
  def htmlToText(html: Column): Column = {
    val noComments = removeInvisibleHtml(html)
    val blocksAsNewlines = regexp_replace(noComments,
      "(?i)</(p|div|li|h[1-6]|tr)>|<br[^>]*>", "\n")
    val noTags = regexp_replace(blocksAsNewlines, "(?s)<[^>]*>", " ")
    val decoded = EntityDecodes.foldLeft(noTags) { case (c, (ent, ch)) =>
      regexp_replace(c, ent, ch) }
    // regex trim, not trim(): leading/trailing NEWLINES must go too
    regexp_replace(
      regexp_replace(regexp_replace(decoded, "[ \\t]+", " "),
        " *\\n[ \\n]*", "\n"),
      "^\\s+|\\s+$", "")
  }

  /** [[htmlToText]] as a stage: appends `outCol` with the extracted plain
    * text of `htmlCol`. */
  def stripHtml(
      df: DataFrame, htmlCol: String, outCol: String = "text_plain"): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(htmlCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "stripHtml")
    df.withColumn(outCol, htmlToText(col(htmlCol)))
  }

  /** The robots META directives of an HTML page — `<meta name="robots"
    * content="…">` (attribute order-insensitive), lowercased and
    * trimmed; empty string when absent. The training-data COMPLIANCE
    * gate a curation pipeline pairs with robots.txt: a page that says
    * `noindex` asked not to be indexed, and corpus builders honor it
    * the same way crawlers do. RE2-compatible (the two attribute orders
    * as separate patterns — no lookarounds), shared with the oracle;
    * one narrow projection. */
  def metaRobots(html: Column): Column =
    lower(trim(metaContentRaw(html, "robots")))

  /** `<meta name="<name>" content="…">` extraction, both attribute
    * orders — the shared core of [[metaRobots]] and [[metaContent]].
    * Yields `''` when the tag is absent. `name` must be a plain
    * attribute token (letters/digits/`:_-`) — it is spliced into the
    * pattern verbatim. */
  private def metaContentRaw(html: Column, name: String): Column = {
    require(name.matches("[A-Za-z0-9:_-]+"),
      s"meta name must be a plain token, got '$name'")
    // the name token must be TERMINATED (closing quote, whitespace, `/`,
    // or — content-first order only — the tag's `>`): a bare-prefix match
    // would extract <meta name="descriptions"> for the 'description'
    // request. Consumed character classes, not lookarounds (RE2-safe);
    // in name-first order `>` can't terminate because content= must still
    // follow inside the same tag.
    val nameFirst = regexp_extract(html,
      "(?is)<meta[^>]*\\bname\\s*=\\s*[\"']?" + name + "[\"'\\s/][^>]*" +
        "\\bcontent\\s*=\\s*[\"']([^\"']*)", 1)
    val contentFirst = regexp_extract(html,
      "(?is)<meta[^>]*\\bcontent\\s*=\\s*[\"']([^\"']*)[\"'][^>]*" +
        "\\bname\\s*=\\s*[\"']?" + name + "[\"'\\s/>]", 1)
    when(nameFirst =!= "", nameFirst).otherwise(contentFirst)
  }

  /** The content of a named `<meta>` tag (description, keywords, any
    * plain-token name), whitespace-collapsed and trimmed; NULL when the
    * page has no such tag (or its content is empty — indistinguishable
    * by construction, documented). Both attribute orders, RE2-safe. */
  def metaContent(html: Column, name: String): Column = {
    val raw = trim(regexp_replace(metaContentRaw(html, name), "\\s+", " "))
    when(raw =!= "", raw)
  }

  /** The page `<title>` — first title tag's inner text (nested markup in
    * a title is invalid HTML and not matched), whitespace-collapsed and
    * trimmed; NULL when absent or empty. */
  def htmlTitle(html: Column): Column = {
    val raw = trim(regexp_replace(
      regexp_extract(html, "(?is)<title[^>]*>([^<]*)</title", 1), "\\s+", " "))
    when(raw =!= "", raw)
  }

  /** The `<link rel="canonical" href="…">` target — the page's OWN
    * declared canonical URL (RFC 6596), the crawl-side dedup signal that
    * collapses print/mobile/tracking variants BEFORE any content
    * comparison runs. Both attribute orders, either quote style or bare
    * href; NULL when absent. The value is returned VERBATIM (sites emit
    * relative canonicals — resolve against the page URL with
    * [[graft.ops.LinkGraph.resolveUrl]]). */
  def relCanonical(html: Column): Column = {
    val relFirst = regexp_extract(html,
      "(?is)<link[^>]*\\brel\\s*=\\s*[\"']?canonical[\"']?[^>]*" +
        "\\bhref\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)", 1)
    val hrefFirst = regexp_extract(html,
      "(?is)<link[^>]*\\bhref\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)[^>]*" +
        "\\brel\\s*=\\s*[\"']?canonical[\"']?", 1)
    val raw = trim(when(relFirst =!= "", relFirst).otherwise(hrefFirst), "\"'")
    when(raw =!= "", raw)
  }

  /** Unicode-script histogram of a text column — the mixed-script /
    * mojibake quality signal of a multilingual crawl: appends per-script
    * character counts (`n_latin`, `n_cyrillic`, `n_han`, `n_arabic`,
    * `n_hangul`, `n_kana`), `n_digit`, `n_replacement` (U+FFFD — the
    * char the round-9 charset decode emits for undecodable bytes, so a
    * nonzero count IS the mojibake detector), `n_chars`, and
    * `dominant_script` (the max-count script, first-in-order on ties:
    * latin, cyrillic, han, arabic, hangul, kana; 'none' when the text
    * has no scripted character at all — numbers-and-punctuation rows).
    *
    * Spam/encoding gates compose directly: a page claiming lang='en'
    * with dominant_script='cyrillic' is a lang-id contradiction; a page
    * with n_replacement > 0 survived a broken decode; a page whose
    * second script exceeds ~20% of its scripted chars is a mixed-script
    * suspect (the homoglyph-spam shape).
    *
    * All counts are strip-and-measure regex expressions over Unicode
    * script classes (Java `\p{IsLatin}` here, RE2 `\p{Latin}` in the
    * oracle twin — same script property, both linear-scan); one narrow
    * projection, no shuffle, codegen-friendly. */
  def scriptProfile(df: DataFrame, textCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    graft.core.Validators.requireColumnsAbsent(df,
      Seq("n_chars", "n_latin", "n_cyrillic", "n_han", "n_arabic",
        "n_hangul", "n_kana", "n_digit", "n_replacement", "dominant_script"),
      "scriptProfile")
    val t = coalesce(col(textCol), lit(""))
    def cnt(cls: String): Column =
      length(regexp_replace(t, s"[^$cls]", "")).cast("long")
    val nLatin = cnt("\\p{IsLatin}")
    val nCyr = cnt("\\p{IsCyrillic}")
    val nHan = cnt("\\p{IsHan}")
    val nArab = cnt("\\p{IsArabic}")
    val nHang = cnt("\\p{IsHangul}")
    val nKana = cnt("\\p{IsHiragana}\\p{IsKatakana}")
    val top = greatest(nLatin, nCyr, nHan, nArab, nHang, nKana)
    df.withColumn("n_chars", length(t).cast("long"))
      .withColumn("n_latin", nLatin)
      .withColumn("n_cyrillic", nCyr)
      .withColumn("n_han", nHan)
      .withColumn("n_arabic", nArab)
      .withColumn("n_hangul", nHang)
      .withColumn("n_kana", nKana)
      .withColumn("n_digit", cnt("0-9"))
      .withColumn("n_replacement", cnt("\\uFFFD"))
      .withColumn("dominant_script",
        when(top === 0L, "none")
          .when(nLatin === top, "latin")
          .when(nCyr === top, "cyrillic")
          .when(nHan === top, "han")
          .when(nArab === top, "arabic")
          .when(nHang === top, "hangul")
          .otherwise("kana"))
  }

  /** The head-metadata columns of an HTML page in one pass: appends
    * `title`, `meta_description`, `canonical_url` ([[htmlTitle]] /
    * [[metaContent]](description) / [[relCanonical]]) — the ingest
    * columns a document store keys search snippets and canonical-dedup
    * on. One narrow projection, no shuffle. */
  def htmlHead(df: DataFrame, htmlCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(htmlCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("title", "meta_description", "canonical_url"), "htmlHead")
    df.withColumn("title", htmlTitle(col(htmlCol)))
      .withColumn("meta_description", metaContent(col(htmlCol), "description"))
      .withColumn("canonical_url", relCanonical(col(htmlCol)))
  }

  /** The six-entity decode table shared by [[htmlToText]] and
    * [[mainContent]]'s block cleanup — ONE copy so the `&amp;`-last
    * ordering invariant (decoding it first would double-decode
    * `&amp;lt;`) can never fork between the two consumers. */
  private val EntityDecodes: Seq[(String, String)] = Seq(
    "&nbsp;" -> " ", "&lt;" -> "<", "&gt;" -> ">",
    "&quot;" -> "\"", "&#39;" -> "'", "&amp;" -> "&")

  /** Script/style/comment removal shared by [[htmlToText]] and
    * [[mainContent]] (their common first pass). */
  private def removeInvisibleHtml(html: Column): Column =
    regexp_replace(regexp_replace(regexp_replace(html,
      "(?is)<script[^>]*>.*?</script>", " "),
      "(?is)<style[^>]*>.*?</style>", " "),
      "(?s)<!--.*?-->", " ")

  /** The per-block cleanup shared by [[mainContent]]'s block and link-text
    * measurements: strip tags, decode the six entities (`&amp;` last),
    * collapse whitespace, trim. */
  private def blockClean(b: Column): Column = {
    val strip = regexp_replace(b, "(?s)<[^>]*>", " ")
    val ent = EntityDecodes.foldLeft(strip) { case (c, (e, ch)) =>
      regexp_replace(c, e, ch) }
    trim(regexp_replace(ent, "\\s+", " "))
  }

  /** Main-content extraction (the jusText/readability heuristic, rule-based
    * edition) — what crawl curation actually needs beyond [[htmlToText]]:
    * a raw page strips to "Home About … TEXT … Terms Privacy", polluting
    * n-grams, dedup fingerprints, and LM training alike. The page splits
    * into BLOCKS at block-level closing tags / `<br>`, and a block
    * survives iff its cleaned text is at least `minChars` long AND its
    * link-text share is at most `maxLinkDensity` (boilerplate nav/footer
    * blocks are short or link-saturated; body prose is neither — Kohlschütter
    * et al.'s boilerplate signal, simplified to its two strongest rules).
    * Surviving blocks join with newlines in page order.
    *
    * Link density is measured multiplicatively (`linkLen ≤ d · cleanLen`,
    * no division) on the cleaned inner text of `<a>` elements, so the rule
    * replays exactly in any engine; every step is an RE2-portable regexp
    * or list operation (the [[htmlToText]] convention). One narrow
    * projection per row — no shuffle, nothing corpus-wide. */
  def mainContent(
      html: Column, minChars: Int = 20, maxLinkDensity: Double = 0.33): Column = {
    val preClean = removeInvisibleHtml(html)
    val blocks = split(preClean,
      "(?i)</(?:p|div|li|h[1-6]|tr|td|section|article|blockquote)>|<br[^>]*>")
    // `<a(?:[\s/][^>]*)?>`: the attribute part must start with
    // whitespace or '/', so <abbr>/<aside>/<article> can never open a
    // "link" and swallow the prose up to the next real </a>. Known
    // limitation (inherent to block splitting, as in jusText): an <a>
    // spanning a block boundary (card-style <a><div>…</div></a>) is cut
    // by the split and its anchor text counts as plain text.
    val scored = transform(blocks, b => {
      val clean = blockClean(b)
      val linkClean = blockClean(array_join(
        regexp_extract_all(b, lit("(?is)<a(?:[\\s/][^>]*)?>(.*?)</a>"), lit(1)), " "))
      struct(clean.as("c"), length(clean).as("n"), length(linkClean).as("l"))
    })
    val kept = filter(scored, s =>
      s("n") >= minChars &&
        s("l").cast("double") <= lit(maxLinkDensity) * s("n").cast("double"))
    array_join(transform(kept, s => s("c")), "\n")
  }

  /** [[mainContent]] as a stage: appends `outCol` with the extracted body
    * text of `htmlCol`. */
  def extractMainContent(
      df: DataFrame,
      htmlCol: String,
      outCol: String = "main_content",
      minChars: Int = 20,
      maxLinkDensity: Double = 0.33): DataFrame = {
    require(minChars >= 0, "minChars must be >= 0")
    require(maxLinkDensity >= 0.0 && maxLinkDensity <= 1.0,
      "maxLinkDensity must be in [0, 1]")
    graft.core.Validators.requireColumns(df, Seq(htmlCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "extractMainContent")
    df.withColumn(outCol, mainContent(col(htmlCol), minChars, maxLinkDensity))
  }

  /** Rule-based sentence segmentation — the granularity shift for
    * sentence-level dedup/analysis: a sentence ends at `. ! ?` followed by
    * whitespace (RE2-portable — no lookbehind, so the rule is "mark then
    * split": punctuation+gap is rewritten to punctuation+U+001E and the
    * text splits on the marker). Output one row per non-empty sentence:
    * (`idCol`, `sent_id` = 0-based position in reading order, `sentence`);
    * a document with no sentence-final punctuation is one sentence.
    * Abbreviation dots ("Dr. Smith") split — the standard trade of every
    * rule-based splitter; at curation scale recall beats precision. One
    * narrow projection + generator, no shuffle. */
  def splitSentences(
      df: DataFrame, idCol: String, textCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    graft.core.Validators.requireColumnsAbsent(df,
      Seq("sent_id", "sentence"), "splitSentences")
    val marked = regexp_replace(col(textCol), "([.!?])\\s+", "$1\u001E")
    df.select(col(idCol),
      posexplode(split(marked, "\u001E")).as(Seq("sent_id", "sentence")))
      .filter(col("sentence") =!= "")
  }

  /** Token-window document chunking — the context-length splitting step
    * before tokenization/packing: each document becomes
    * ceil-many windows of `chunkSize` whitespace tokens advancing by
    * `chunkSize − overlap` (so consecutive chunks share `overlap` tokens).
    * Documents with ≤ `chunkSize` tokens yield exactly one chunk; empty/
    * whitespace-only documents yield none. Output appends
    * (chunk_id, chunk_text, chunk_tokens); other columns pass through.
    *
    * Chunk count is exact integer math — `(n − chunkSize + stride − 1) DIV
    * stride + 1` — so any engine replays the same chunk boundaries. One
    * narrow projection + generator (explode): no shuffle at any corpus
    * size; output rows ≈ input tokens / stride. */
  def chunkTokens(
      df: DataFrame,
      textCol: String,
      chunkSize: Int,
      overlap: Int = 0,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    chunkWindows(df.withColumn("__graft_toks", tokens(col(textCol))),
      chunkSize, overlap, joiner = " ")
  }

  /** [[chunkTokens]] over a PRECOMPUTED token-array column — the
    * tokenizer-aware variant: chunk by BPE (or any other) tokens by
    * composing [[Bpe.tokenizeBpe]] (or your own tokenizer) in front.
    * `joiner` rebuilds `chunk_text` from the window's tokens — `""` for
    * subword tokens that are exact character subsequences (BPE), `" "` for
    * whitespace tokens. The token column is consumed (dropped from the
    * output), matching chunkTokens' shape. */
  def chunkTokensBy(
      df: DataFrame,
      tokensCol: String,
      chunkSize: Int,
      overlap: Int = 0,
      joiner: String = "",
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(tokensCol))
    chunkWindows(df.withColumn("__graft_toks", col(tokensCol)).drop(tokensCol),
      chunkSize, overlap, joiner)
  }

  /** Shared window arithmetic of [[chunkTokens]]/[[chunkTokensBy]] over the
    * `__graft_toks` array column (consumed). */
  private def chunkWindows(
      df: DataFrame, chunkSize: Int, overlap: Int, joiner: String): DataFrame = {
    require(chunkSize >= 1, "chunkSize must be >= 1")
    require(overlap >= 0 && overlap < chunkSize, "overlap must be in [0, chunkSize)")
    graft.core.Validators.requireColumnsAbsent(df,
      Seq("chunk_id", "chunk_text", "chunk_tokens"), "chunkTokens")
    val stride = chunkSize - overlap
    val n = size(col("__graft_toks"))
    // ceil((n − chunkSize) / stride) + 1 via exact integer math (values are
    // token counts < 2^31, exact in the double floor)
    val nChunks = when(n <= 0, lit(0L))
      .when(n <= chunkSize, lit(1L))
      .otherwise(floor((n - chunkSize + stride - 1).cast("double") / stride).cast("long") + 1)
    df.withColumn("__graft_nc", nChunks.cast("long"))
      .withColumn("chunk_id",
        explode(when(col("__graft_nc") > 0,
          sequence(lit(0L), col("__graft_nc") - 1)).otherwise(array().cast("array<long>"))))
      .withColumn("chunk_text",
        array_join(slice(col("__graft_toks"),
          (col("chunk_id") * stride + 1).cast("int"), lit(chunkSize)), joiner))
      .withColumn("chunk_tokens",
        least(lit(chunkSize).cast("int"),
          (size(col("__graft_toks")) - col("chunk_id") * stride).cast("int")))
      .drop("__graft_toks", "__graft_nc")
  }

  /** Per-group corpus diversity: total token n-gram occurrences, distinct
    * n-grams, and their ratio (the distinct-n-gram diversity statistic of
    * text-generation eval, applied to corpora: low values flag templated /
    * machine-generated / over-duplicated slices BEFORE they train). Grams
    * are lowercased whitespace-token windows joined by a single space, so
    * the count replays verbatim in SQL; docs shorter than n tokens
    * contribute nothing. One explode over the corpus into a single hash
    * aggregate (count + distinct-count per group) — a word-count-shaped
    * job at any scale. Output: (group, n_grams, distinct_ngrams,
    * diversity) with diversity 9-decimal-rounded. */
  def diversityStats(
      df: org.apache.spark.sql.DataFrame,
      groupCol: String,
      textCol: String,
      n: Int): org.apache.spark.sql.DataFrame = {
    require(n >= 1, "n must be >= 1")
    graft.core.Validators.requireColumns(df, Seq(groupCol, textCol))
    val toks = tokens(lower(col(textCol)))
    val grams = when(size(toks) >= n,
      transform(sequence(lit(0), size(toks) - n),
        i => concat_ws(" ", slice(toks, i + lit(1), lit(n)))))
      .otherwise(array().cast("array<string>"))
    df.select(col(groupCol).as("group"), explode(grams).as("gram"))
      .groupBy("group")
      .agg(
        count(lit(1)).as("n_grams"),
        countDistinct(col("gram")).as("distinct_ngrams"))
      .withColumn("diversity",
        round(col("distinct_ngrams").cast("double") /
          col("n_grams").cast("double"), 9))
  }

  /** Per-document TF-IDF top terms: lowercased whitespace tokens, raw term
    * frequency × ln(N / doc_freq), the k highest-scoring terms per doc
    * (ties by term). Scores are rounded to 9 decimals BEFORE ranking so the
    * ordering is engine-portable (ln differs in the last ulp across libm
    * implementations). Shuffle profile: two hash aggregates, one join on
    * term (broadcastable when the vocabulary is small), one per-doc window.
    * Output: (id, term, tfidf). */
  def tfidfTopTerms(
      df: org.apache.spark.sql.DataFrame,
      idCol: String,
      textCol: String,
      k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = df.count().toDouble
    val tf = df
      .select(col(idCol).as("id"), explode(tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("term").agg(count(lit(1)).as("df"))
    tf.join(dfreq, "term")
      .withColumn("tfidf", round(col("tf") * log(lit(n) / col("df")), 9))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("id").orderBy(col("tfidf").desc, col("term").asc)))
      .filter(col("__rn") <= k)
      .select("id", "term", "tfidf")
  }

  /** Corpus n-gram statistics: the k character n-grams with the highest
    * DOCUMENT frequency (each doc counts a gram once — the statistic behind
    * stop-gram lists for the dedup prefix filters). Ties break by gram for
    * determinism. One explode + hash aggregate + TakeOrdered — no full
    * sort, scales like any word-count. */
  def topNgrams(df: org.apache.spark.sql.DataFrame, textCol: String, n: Int, k: Int)
      : org.apache.spark.sql.DataFrame = {
    val grams = call_function(graft.functions.TilePairs.ShingleStrName, col(textCol), lit(n))
    df.select(explode(grams).as("gram"))
      .groupBy("gram")
      .agg(count(lit(1)).as("doc_freq"))
      .orderBy(col("doc_freq").desc, col("gram").asc)
      .limit(k)
  }

  /** The eight "required stopwords" of the Gopher ruleset: a document is
    * expected to contain at least `minStopHits` DISTINCT words from this
    * list (natural-language prose virtually always does; tables, code, and
    * navigation boilerplate virtually never do). */
  val GopherStopwords: Seq[String] =
    Seq("the", "be", "to", "of", "and", "that", "have", "with")

  /** Gopher-ruleset quality features (the published document-hygiene
    * heuristics from the Gopher corpus pipeline — Rae et al. 2021,
    * "Scaling Language Models: Methods, Analysis & Insights from Training
    * Gopher", Table A1), complementing [[qualityFeatures]]'s ratio
    * signals. Appended columns:
    *   n_words             whitespace token count;
    *   mean_word_len       mean token length in characters;
    *   hash_word_ratio     '#' occurrences per word;
    *   ellipsis_word_ratio '...'/'…' occurrences per word;
    *   bullet_line_frac    fraction of non-blank lines starting with a
    *                       bullet glyph (-, *, •, ‣, ▶);
    *   ellipsis_line_frac  fraction of non-blank lines ending in an
    *                       ellipsis;
    *   alpha_word_frac     fraction of words containing an ASCII letter;
    *   stop_hits           distinct [[GopherStopwords]] present.
    * One narrow projection — no shuffle, no UDF; every ratio is an exact
    * integer-count division, so any engine reproduces the doubles
    * bit-for-bit. Empty documents (no words / no non-blank lines) score
    * 0.0 on the affected ratios. */
  def gopherFeatures(df: DataFrame, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    val nTok = size(toks)
    val lines = filter(split(t, "\n"), l => trim(l) =!= "")
    val nLines = size(lines)
    def perWord(n: Column): Column =
      when(nTok > 0, n.cast("double") / nTok.cast("double")).otherwise(lit(0.0))
    def perLine(n: Column): Column =
      when(nLines > 0, n.cast("double") / nLines.cast("double")).otherwise(lit(0.0))
    df.withColumn("n_words", nTok)
      .withColumn("mean_word_len",
        perWord(aggregate(toks, lit(0), (acc, w) => acc + length(w))))
      .withColumn("hash_word_ratio", perWord(regexp_count(t, lit("#"))))
      .withColumn("ellipsis_word_ratio",
        perWord(regexp_count(t, lit("\\.\\.\\.|…"))))
      .withColumn("bullet_line_frac",
        perLine(size(filter(lines, l => l.rlike("^\\s*[-*•‣▶]")))))
      .withColumn("ellipsis_line_frac",
        perLine(size(filter(lines, l => l.rlike("(\\.\\.\\.|…)\\s*$")))))
      .withColumn("alpha_word_frac",
        perWord(size(filter(toks, w => w.rlike("[A-Za-z]")))))
      .withColumn("stop_hits",
        GopherStopwords.map(sw =>
          when(array_contains(toks, sw), lit(1)).otherwise(lit(0)))
          .reduce(_ + _))
  }

  /** [[gopherFeatures]] applied as a filter with the published Gopher
    * thresholds as defaults: word count in [50, 100k], mean word length in
    * [3, 10], at most 0.1 hash or ellipsis symbols per word, at most 90%
    * bullet lines, at most 30% ellipsis-ended lines, at least 80% of words
    * with an alphabetic character, and at least 2 of the required
    * stopwords. Input schema is preserved; a pure narrow filter. */
  def gopherFilter(
      df: DataFrame,
      textCol: String,
      minWords: Int = 50,
      maxWords: Int = 100000,
      minMeanWordLen: Double = 3.0,
      maxMeanWordLen: Double = 10.0,
      maxSymbolWordRatio: Double = 0.1,
      maxBulletLineFrac: Double = 0.9,
      maxEllipsisLineFrac: Double = 0.3,
      minAlphaWordFrac: Double = 0.8,
      minStopHits: Int = 2,
  ): DataFrame = {
    val scored = gopherFeatures(df, textCol)
    scored
      .filter(col("n_words") >= minWords && col("n_words") <= maxWords &&
        col("mean_word_len") >= minMeanWordLen &&
        col("mean_word_len") <= maxMeanWordLen &&
        col("hash_word_ratio") <= maxSymbolWordRatio &&
        col("ellipsis_word_ratio") <= maxSymbolWordRatio &&
        col("bullet_line_frac") <= maxBulletLineFrac &&
        col("ellipsis_line_frac") <= maxEllipsisLineFrac &&
        col("alpha_word_frac") >= minAlphaWordFrac &&
        col("stop_hits") >= minStopHits)
      .select(df.columns.map(col).toSeq: _*)
  }
}
