package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The canonical corpus-curation endpoint: the hygiene chain a
  * training-data pipeline runs before tokenization, composed from the
  * individually-oracled stages (extension beyond the reference surface,
  * SURVEY §2.12).
  *
  * Stage order is deliberate for scale: the narrow per-row filters
  * (quality, repetition) run FIRST so the shuffling stages (exact dedup,
  * near-dup clustering) see the smallest possible corpus; the deterministic
  * sample runs LAST so the sampled corpus is already clean and its rate is
  * measured against kept documents.
  */
object Curation {

  /** Optional Unicode normalization → quality filter → repetition filter →
    * optional corpus-level common-line removal → exact dedup on the
    * whitespace/case-insensitive fingerprint (keep the smallest id) →
    * optional MinHash near-dup removal (keep one representative per
    * cluster) → optional deterministic id-hash sample.
    *
    * Input schema is preserved. Defaults: `normalize = false`,
    * `redactPii = false` (on: scrub emails/
    * phones/IPs right after normalization, BEFORE any fingerprinting so
    * redacted twins collapse), `lineDedupMaxDocFreq = 0` (off; > 0 removes
    * lines appearing in more than that many docs BEFORE fingerprinting, so
    * de-boilerplated duplicates collapse), `spanDedupMaxDocFreq = 0` (off;
    * > 0 cuts token n-gram spans shared by more than that many docs — the
    * exact-substring pass, same placement rationale), `samplePercent = 100`
    * keeps everything, `nearDup = false` skips the clustering stage. */
  def curate(
      df: DataFrame,
      idCol: String,
      textCol: String,
      normalize: Boolean = false,
      redactPii: Boolean = false,
      minTokens: Int = 5,
      maxPunctRatio: Double = 0.2,
      maxDupWordFrac: Double = 0.3,
      maxTopWordFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.18,
      lineDedupMaxDocFreq: Long = 0L,
      spanDedupMaxDocFreq: Long = 0L,
      spanDedupN: Int = 13,
      nearDup: Boolean = true,
      nearDupThreshold: Double = 0.8,
      samplePercent: Int = 100,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(idCol, textCol))
    val canonical =
      if (normalize)
        TextOps.normalizeText(df, textCol, form = "NFKC", stripAccents = false)
      else df
    val scrubbed =
      if (redactPii) TextOps.redactPii(canonical, textCol) else canonical
    val filtered = TextOps.repetitionFilter(
      TextOps.qualityFilter(scrubbed, textCol, minTokens, maxPunctRatio),
      textCol, maxDupWordFrac, maxTopWordFrac, maxTopBigramFrac)
    val lineClean0 =
      if (lineDedupMaxDocFreq > 0L)
        TextOps.removeCommonLines(filtered, idCol, textCol,
          maxDocFreq = lineDedupMaxDocFreq)
      else filtered
    val lineClean =
      if (spanDedupMaxDocFreq > 0L)
        TextOps.removeRepeatedSpans(lineClean0, idCol, textCol,
          n = spanDedupN, maxDocFreq = spanDedupMaxDocFreq)
      else lineClean0
    // exact dedup on the normalized fingerprint: one hash shuffle, smallest
    // id survives (deterministic)
    val exact = Dedup.exact(
      lineClean.withColumn("__fp", TextOps.fingerprint(col(textCol))),
      Seq("__fp"), idCol).drop("__fp")
    val deduped =
      if (nearDup) Dedup.dedupCorpus(exact, idCol, textCol, threshold = nearDupThreshold)
      else exact
    if (samplePercent >= 100) deduped
    else Sampling.hashSample(deduped, idCol, samplePercent)
  }

  /** Per-rule drop accounting for [[curate]]'s narrow filter stages — the
    * "where did my corpus go" report every large curation run needs before
    * anyone trusts its output. Returns one row per stage:
    *   input               total documents seen;
    *   quality_min_tokens  docs with fewer than `minTokens` tokens;
    *   quality_punct_ratio docs over `maxPunctRatio`;
    *   rep_dup_word        docs over `maxDupWordFrac`;
    *   rep_top_word        docs over `maxTopWordFrac`;
    *   rep_top_bigram      docs over `maxTopBigramFrac`;
    *   fail_any            docs failing at least one rule;
    *   kept                docs passing all rules.
    * Rule counts are MARGINAL — each rule evaluated independently over the
    * full input (they need not sum to `fail_any`: one doc can fail
    * several). One scan, one aggregate: all eight numbers come from a
    * single projection computing every rule's boolean, so the report costs
    * one pass over the corpus regardless of rule count. The shuffling
    * stages (dedup, near-dup) are deliberately out of scope — their drop
    * counts depend on pairing, not per-row predicates; count them by
    * differencing [[curate]]'s stage outputs. */
  def funnel(
      df: DataFrame,
      textCol: String,
      minTokens: Int = 5,
      maxPunctRatio: Double = 0.2,
      maxDupWordFrac: Double = 0.3,
      maxTopWordFrac: Double = 0.2,
      maxTopBigramFrac: Double = 0.18,
  ): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(textCol))
    // pruned to the text column: the feature appends collide with nothing,
    // and the scan reads one column regardless of input width
    val scored = TextOps.repetitionFeatures(
      TextOps.qualityFeatures(df.select(col(textCol)), textCol), textCol)
    val fails: Seq[(String, Column)] = Seq(
      "quality_min_tokens" -> (col("n_tokens") < minTokens),
      "quality_punct_ratio" -> (col("punct_ratio") > maxPunctRatio),
      "rep_dup_word" -> (col("rep_dup_word_frac") > maxDupWordFrac),
      "rep_top_word" -> (col("rep_top_word_frac") > maxTopWordFrac),
      "rep_top_bigram" -> (col("rep_top_bigram_frac") > maxTopBigramFrac))
    val fAny = fails.map(_._2).reduce(_ || _)
    def cnt(c: Column): Column = coalesce(sum(when(c, 1L).otherwise(0L)), lit(0L))
    val agg = scored.agg(
      count(lit(1)).as("input"),
      (fails.map { case (n, c) => cnt(c).as(n) } :+
        cnt(fAny).as("fail_any") :+
        cnt(!fAny).as("kept")): _*)
    val stages = "input" +: fails.map(_._1) :+ "fail_any" :+ "kept"
    agg.select(explode(array(stages.map(n =>
      struct(lit(n).as("stage"), col(n).as("n_docs"))): _*)).as("s"))
      .select(col("s.stage").as("stage"), col("s.n_docs").as("n_docs"))
  }

  /** Population-stability drift between two corpus drops over a categorical
    * column (lang, source, registered domain, quality bin, …): per
    * category, both drops' counts and shares plus the PSI contribution
    * `(p_ref − p_cur)·ln(p_ref/p_cur)` with shares clamped at `eps`
    * (the [[graft.transformers.DropHighPSIFeatures]] convention) and
    * rounded 1e-9 for engine-stable replay. Σ psi_term is the corpus PSI —
    * the release-gate number for "did my lang/domain/quality mix move
    * between drops?" (>0.25 conventionally = major shift). Categories
    * present in only one drop get count 0 on the other side and a clamped
    * share, so appearing/vanishing domains surface loudly instead of
    * silently dropping from the report. NULL categories are real
    * categories (a missing lang tag drifting IS drift) and join by
    * null-safe equality. Numeric drift composes: discretize first (e.g.
    * [[graft.transformers.EqualFrequencyDiscretizer]] on token counts fit
    * on the reference drop), then feed the bin label here.
    *
    * Scale shape: one hash aggregate per drop, then a full-outer join +
    * share windows on the two DICTIONARY-sized count tables — the drops
    * themselves never join or shuffle. */
  def categoryDriftPsi(
      ref: DataFrame,
      cur: DataFrame,
      groupCol: String,
      eps: Double = 0.0001,
  ): DataFrame = {
    require(eps > 0.0, "eps must be > 0")
    graft.core.Validators.requireColumns(ref, Seq(groupCol))
    graft.core.Validators.requireColumns(cur, Seq(groupCol))
    import org.apache.spark.sql.expressions.Window
    def counted(df: DataFrame, out: String): DataFrame =
      df.groupBy(col(groupCol).cast("string").as(s"__graft_g_$out"))
        .agg(count(lit(1)).as(out))
    val r = counted(ref, "n_ref")
    val c = counted(cur, "n_cur")
    // DELIBERATE single-partition window: the frame below it is the
    // joined category-count table — dictionary-sized by construction
    // (categories of lang/domain/bin labels), never the drops. Catalyst
    // folds the constant partition key to an EMPTY spec, so the runtime
    // logs `WindowExec: No Partition Defined` — expected here, and
    // pinned as the ONLY allowed case (QueriesSmokeSpec's
    // globalWindowAllowed). The distributed alternative (aggregate +
    // broadcast cross join) would re-scan the count subtree for totals
    // that Σ-over-categories already carries in one pass.
    val all = Window.partitionBy(lit(1))
    val joined = r.join(c, col("__graft_g_n_ref") <=> col("__graft_g_n_cur"), "full_outer")
      .select(
        coalesce(col("__graft_g_n_ref"), col("__graft_g_n_cur")).as(groupCol),
        coalesce(col("n_ref"), lit(0L)).as("n_ref"),
        coalesce(col("n_cur"), lit(0L)).as("n_cur"))
    // an EMPTY drop (total 0) is the loudest drift there is — guard the
    // division so every share clamps to eps instead of propagating the
    // 0/0 NaN through greatest() and poisoning psi_term
    def share(n: Column): Column = {
      val tot = sum(n).over(all)
      greatest(when(tot > 0, n.cast("double") / tot.cast("double"))
        .otherwise(lit(0.0)), lit(eps))
    }
    val refPct = share(col("n_ref"))
    val curPct = share(col("n_cur"))
    joined.select(
      col(groupCol), col("n_ref"), col("n_cur"),
      round(refPct, 9).as("ref_pct"),
      round(curPct, 9).as("cur_pct"),
      // + 0.0 folds IEEE −0.0 (a tiny-negative term rounded away) to 0.0,
      // the cat_woe oracle convention, so both engines hash identically
      (round((refPct - curPct) * log(refPct / curPct), 9) + lit(0.0)).as("psi_term"))
  }

  /** Content-level diff between two corpus drops — [[graft.sources.Writer]]
    * `manifestDiff`'s row-granular sibling: per id, `added` (only in the
    * new drop), `removed` (only in the old), `changed` (both, content
    * fingerprint differs — NULL-safe, so NULL↔non-NULL IS a change), or
    * `unchanged`. `includeUnchanged = false` (default) keeps the report
    * delta-sized — on a 100 TB corpus the interesting rows are the few
    * that moved, and the status filter prunes before anything returns.
    *
    * PRECONDITION: ids are unique within each drop (the standing corpus
    * rule — [[expectationsReport]]'s `uniqueCol` is the pre-check, the
    * Dedup family the fix). A duplicated id fans out through the
    * full-outer join and emits one (possibly contradictory) status row
    * per pairing; this op does not aggregate them away.
    *
    * One full-outer hash join on id over two (id, fingerprint)
    * projections — the drops' text columns never move, only their
    * digests. Output: (id, status). */
  def corpusDiff(
      old: DataFrame,
      cur: DataFrame,
      idCol: String,
      fpCol: String,
      includeUnchanged: Boolean = false): DataFrame = {
    graft.core.Validators.requireColumns(old, Seq(idCol, fpCol))
    graft.core.Validators.requireColumns(cur, Seq(idCol, fpCol))
    // presence FLAGS, not the id values, decide the status: a NULL id
    // present in both drops null-safe-joins fine but its id VALUE is
    // null on both sides — testing the value would misreport it removed
    val o = old.select(col(idCol).as("__graft_ido"), col(fpCol).as("__graft_fpo"),
      lit(1).as("__graft_po"))
    val c = cur.select(col(idCol).as("__graft_idc"), col(fpCol).as("__graft_fpc"),
      lit(1).as("__graft_pc"))
    val joined = o.join(c, col("__graft_ido") <=> col("__graft_idc"), "full_outer")
      .select(
        coalesce(col("__graft_ido"), col("__graft_idc")).as("id"),
        when(col("__graft_pc").isNull, lit("removed"))
          .when(col("__graft_po").isNull, lit("added"))
          .when(!(col("__graft_fpo") <=> col("__graft_fpc")), lit("changed"))
          .otherwise(lit("unchanged")).as("status"))
    if (includeUnchanged) joined else joined.filter(col("status") =!= "unchanged")
  }

  /** Pre-training data-quality gate (the expectations report a pipeline
    * asserts before shipping a drop): every rule is a per-row boolean
    * Column expected TRUE; a NULL verdict counts as a VIOLATION (an
    * expectation not demonstrably met is not met). `uniqueCol` adds the
    * one cross-row expectation worth its aggregate: id uniqueness, whose
    * violations are duplicate occurrences (n − distinct) plus NULL ids.
    *
    * ONE aggregate job evaluates every rule in a single corpus scan
    * (map-side partial, one sum per rule); the report itself is a
    * rules-sized driver frame. Output: (rule, n_rows, n_violations,
    * pass) — `pass` iff n_violations = 0. */
  def expectationsReport(
      df: DataFrame,
      rules: Seq[(String, Column)],
      uniqueCol: Option[String] = None): DataFrame = {
    require(rules.nonEmpty || uniqueCol.nonEmpty,
      "expectationsReport needs at least one rule")
    require(rules.map(_._1).distinct.size == rules.size,
      "rule names must be unique")
    uniqueCol.foreach(u => graft.core.Validators.requireColumns(df, Seq(u)))
    val aggs =
      rules.map { case (_, pred) =>
        sum(when(pred, lit(0L)).otherwise(lit(1L))).as("v")
      } ++
      uniqueCol.toSeq.map(u => countDistinct(col(u)).as("d"))
    val row = df.agg(count(lit(1)).as("n"), aggs: _*).head()
    val n = row.getLong(0)
    def longAt(i: Int): Long = if (row.isNullAt(i)) 0L else row.getLong(i)
    val ruleRows = rules.zipWithIndex.map { case ((name, _), i) =>
      (name, longAt(i + 1))
    } ++ uniqueCol.map { u =>
      // n − countDistinct: duplicate occurrences among non-NULL ids plus
      // every NULL id (countDistinct skips NULLs) — each is a violation
      (s"unique($u)", n - longAt(rules.size + 1))
    }
    Sampling.localFrame(df.sparkSession,
      Seq("rule" -> org.apache.spark.sql.types.StringType,
        "n_rows" -> org.apache.spark.sql.types.LongType,
        "n_violations" -> org.apache.spark.sql.types.LongType,
        "pass" -> org.apache.spark.sql.types.BooleanType),
      ruleRows.map { case (name, v) =>
        org.apache.spark.sql.Row(name, n, v, v == 0L) })
  }
}
