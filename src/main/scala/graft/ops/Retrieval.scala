package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.json4s.{JDouble, JInt}

import graft.core.ModelIO

/** Lexical and hybrid retrieval over document tables (extension beyond the
  * reference surface, SURVEY §2.12) — the sparse leg of the retrieval stack
  * whose dense leg lives in [[Similarity]] (brute/IVF/PQ cosine search).
  *
  * BM25 here is the Lucene flavor: idf = ln(1 + (N − df + ½)/(df + ½))
  * (always positive), tf saturation tf·(k1+1)/(tf + k1·(1 − b + b·dl/avgdl)),
  * duplicate query terms counted once. Scores are rounded to 9 decimals
  * BEFORE ranking (the [[TextOps.tfidfTopTerms]] rule) so libm ulp
  * differences in ln cannot flip near-ties across engines; exact ties break
  * by doc id.
  */
object Retrieval {

  /** BM25 top-k lexical retrieval: every query in `queries` retrieves its k
    * best-matching docs in one pass over the corpus.
    *
    * Scale shape (the part that matters at 100 TB): the exploded corpus
    * postings are semi-joined against the BROADCAST distinct query-term
    * list FIRST, so every downstream shuffle — the (query, doc, term) tf
    * aggregate, the per-term document-frequency aggregate, the per-(query,
    * doc) score sum — moves only rows whose term actually occurs in some
    * query. A 100-TB corpus with a 200-term query batch shuffles the
    * postings of 200 terms, not the corpus. Per-doc length and the corpus
    * (N, avgdl) constants come from one separate narrow aggregate over the
    * scan. The final per-query top-k is a rank window on query id that
    * WindowGroupLimit prunes to k rows per partition map-side.
    *
    * Output: (query_id, id, bm25), ≤ k rows per query.
    */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(k1 >= 0.0, "k1 must be >= 0")
    require(b >= 0.0 && b <= 1.0, "b must be in [0, 1]")
    graft.core.Validators.requireColumns(docs, Seq(idCol, textCol))
    graft.core.Validators.requireColumns(queries, Seq(qIdCol, qTextCol))
    val (n, tokens) = corpusConstants(docs, textCol)
    val qTerms = queryTerms(queries, qIdCol, qTextCol)
    val (postings, dfreq) = prunedPostings(docs, idCol, textCol, qTerms)
    scoreAndRank(postings, dfreq, qTerms,
      n.toDouble, avgdlOf(n, tokens), k1, b, k)
  }

  /** Document-length expression: whitespace token count, NULL text ⇒ 0. */
  private def dlExprOf(textCol: String) =
    coalesce(TextOps.tokenCount(lower(col(textCol))).cast("long"), lit(0L))

  /** One narrow aggregate: (doc count, EXACT total token count). An empty
    * corpus yields (0, 0) and flows through the normal pipeline — the
    * postings are empty, so nothing downstream divides by the 0 avgdl. */
  private def corpusConstants(docs: DataFrame, textCol: String): (Long, Long) = {
    val stats = docs.agg(
      count(lit(1)).as("n"), sum(dlExprOf(textCol)).as("tokens")).head()
    (stats.getLong(0), if (stats.isNullAt(1)) 0L else stats.getLong(1))
  }

  /** Sum-then-divide mean document length — exact-integer-totals form
    * (integer sums below 2⁵³ are exact in binary64, so this matches both
    * Spark's avg(long) and DuckDB's avg(double) bit-for-bit). */
  private def avgdlOf(n: Long, tokens: Long): Double =
    if (n == 0) 0.0 else tokens.toDouble / n

  /** The (id, term, tf, dl) postings and (term, df) tables of `docs`,
    * PRUNED to `qTerms`' vocabulary before any wide operator: the
    * broadcast semi join means every downstream shuffle moves only rows
    * whose term occurs in some query. `max(dl)` (not first) keeps the
    * aggregate deterministic even over a malformed corpus with duplicate
    * ids. */
  private def prunedPostings(
      docs: DataFrame, idCol: String, textCol: String,
      qTerms: DataFrame): (DataFrame, DataFrame) = {
    val occ = docs
      .select(col(idCol).as("id"), dlExprOf(textCol).as("dl"),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .join(broadcast(qTerms.select("term").distinct()), Seq("term"), "left_semi")
    val postings = occ.groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    (postings, postings.groupBy("term").agg(count(lit(1)).as("df")))
  }

  /** Distinct (query_id, term) pairs of a query batch. */
  private def queryTerms(
      queries: DataFrame, qIdCol: String, qTextCol: String): DataFrame =
    queries
      .select(col(qIdCol).as("query_id"),
        explode(TextOps.tokens(lower(col(qTextCol)))).as("term"))
      .distinct()

  /** The shared BM25 scorer: postings (id, term, tf, dl) and dfreq
    * (term, df) — both already PRUNED to the query vocabulary, so both
    * broadcasts here are query-sized — join the broadcast query-term list,
    * score, sum per (query, doc), rank top-k.
    *
    * Per-term scores are rounded to 9 decimals BEFORE the per-doc sum, and
    * the sum again after: rounded terms are (up to one ulp) multiples of
    * 1e-9, so their sum in ANY order re-rounds to the same grid point —
    * aggregation order (partitioning, engine) cannot perturb the score. */
  private def scoreAndRank(
      postings: DataFrame, dfreq: DataFrame, qTerms: DataFrame,
      n: Double, avgdl: Double, k1: Double, b: Double, k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val idf = log(lit(1.0) + (lit(n) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val sat = col("tf") * lit(k1 + 1.0) /
      (col("tf") + lit(k1) * (lit(1.0 - b) + lit(b) * col("dl") / lit(avgdl)))
    postings
      .join(broadcast(qTerms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .withColumn("__s", round(idf * sat, 9))
      .groupBy("query_id", "id")
      .agg(round(sum(col("__s")), 9).as("bm25"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("bm25").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** A persisted BM25 inverted index: corpus constants + the (id, term,
    * tf, dl) postings table + the (term, df) document-frequency table —
    * fit ONCE over the corpus, then every query batch probes the postings
    * without ever rescanning the documents (the [[graft.sources.Writer]]
    * IVF-index economics, lexical edition).
    *
    * Persists as a GENERATIONAL [[graft.core.ModelIO]] directory artifact:
    * append-only `gen-NNNNN/{postings,df}` parquet per fit/append batch,
    * and the params.json commit record naming the live generations and the
    * exact integer (n, tokens) totals. Nothing on disk is rewritten in
    * place. SINGLE WRITER: two concurrent appends would both read the same
    * generation list and the last commit would win, silently dropping the
    * other batch's generation (whose orphan dir compact later reaps).
    * Compaction additionally invalidates IN-FLIGHT readers:
    * a [[Bm25Index]] loaded before a compact holds lazy DataFrames over
    * generation directories the compact reaps, so evaluating them
    * afterwards fails with FileNotFoundException — re-[[Bm25Index.load]]
    * after compaction (or defer compaction to a quiet window). */
  final case class Bm25Index(
      n: Long,
      tokens: Long,
      k1: Double,
      b: Double,
      postings: DataFrame,
      dfreq: DataFrame) {

    /** Mean document length — derived from the EXACT integer totals so an
      * appended index recomputes it exactly, never by un-averaging a
      * stored double ([[avgdlOf]]'s bit-parity rationale). */
    def avgdl: Double = avgdlOf(n, tokens)

    /** Persists as a fresh single-generation directory. */
    def save(dir: String): Unit = Bm25Index.commit(dir, Nil, this)
  }

  object Bm25Index {

    /** Writes `idx`'s tables as the generation after `committed` and
      * commits `idx`'s totals: postings term-repartitioned and SORTED by
      * term within files — a term-predicate probe prunes parquet row
      * groups by min/max statistics — plus its vocabulary-sized df. */
    private[Retrieval] def commit(
        dir: String, committed: Seq[String], idx: Bm25Index,
        compact: Boolean = false): Unit =
      ModelIO.writeGeneration(dir, committed, 2,
        Seq("n" -> JInt(idx.n), "tokens" -> JInt(idx.tokens),
          "k1" -> JDouble(idx.k1), "b" -> JDouble(idx.b)),
        Seq("postings" -> idx.postings.repartition(col("term")).sortWithinPartitions("term"),
          "df" -> idx.dfreq),
        compact)

    /** The committed (n, tokens, k1, b) and generations; reads no table. */
    private[Retrieval] def committed(dir: String)
        : (Long, Long, Double, Double, ModelIO.Generations) = {
      val g = ModelIO.readGenerations(dir, "BM25 index")
      val r = g.record
      // lng, not dbl(...).toLong: the (n, tokens) totals are the EXACT
      // integers the avgdl bit-parity contract rests on — a Double
      // round-trip would silently lose precision above 2^53
      (ModelIO.lng(r \ "n"), ModelIO.lng(r \ "tokens"),
        ModelIO.dbl(r \ "k1"), ModelIO.dbl(r \ "b"), g)
    }

    def load(spark: org.apache.spark.sql.SparkSession, dir: String): Bm25Index = {
      val (n, tokens, k1, b, g) = committed(dir)
      // one generation reads its df verbatim; a multi-generation index
      // merges the (disjoint-corpus) per-generation counts — a
      // vocabulary-sized aggregate that the search prunes FIRST anyway
      val df = g.table(spark, "df")
      Bm25Index(n, tokens, k1, b, g.table(spark, "postings"),
        if (g.live.size == 1) df else df.groupBy("term").agg(sum(col("df")).as("df")))
    }
  }

  /** Append a NEW batch of documents to an on-disk [[Bm25Index]] without
    * rebuilding it: the batch becomes its own term-sorted generation
    * directory, and the params.json commit atomically adds it to the live
    * set with the advanced exact integer (n, tokens) totals. Cost ∝ batch
    * — the existing generations are never read, let alone rewritten. A
    * crash before the commit leaves an ignored orphan directory; the
    * retried append commits exactly once.
    *
    * Batch ids must be NEW to the index (dedup first — [[Dedup.keyIndexApply]]
    * is the standing tool): an id already present would hold two (id, term)
    * posting rows and double-count its df contributions. Run
    * [[compactBm25Index]] periodically: every append adds a generation the
    * probe must open.
    */
  def appendToBm25Index(
      batch: DataFrame, idCol: String, textCol: String, dir: String): Unit = {
    graft.core.Validators.requireColumns(batch, Seq(idCol, textCol))
    val (n, tokens, k1, b, g) = Bm25Index.committed(dir)
    val delta = bm25Fit(batch, idCol, textCol, k1, b)
    // empty batch → true no-op: committing a junk empty generation would
    // add one parquet footer to every future probe for nothing
    if (delta.n == 0L) return
    // the new generation holds the batch's tables; the record, the totals
    Bm25Index.commit(dir, g.live, delta.copy(n = n + delta.n, tokens = tokens + delta.tokens))
  }

  /** Builds the [[Bm25Index]]: one constants aggregate + one (id, term)
    * tf aggregate over the exploded corpus + the term-keyed df aggregate
    * it feeds. The full postings table is corpus-token-sized — that IS
    * the inverted index; searches then touch only the query vocabulary's
    * slice of it. */
  def bm25Fit(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k1: Double = 1.2,
      b: Double = 0.75): Bm25Index = {
    require(k1 >= 0.0, "k1 must be >= 0")
    require(b >= 0.0 && b <= 1.0, "b must be in [0, 1]")
    graft.core.Validators.requireColumns(docs, Seq(idCol, textCol))
    val (n, tokens) = corpusConstants(docs, textCol)
    val postings = docs
      .select(col(idCol).as("id"), dlExprOf(textCol).as("dl"),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .groupBy("id", "term")
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
      .select("id", "term", "tf", "dl")
    val dfreq = postings.groupBy("term").agg(count(lit(1)).as("df"))
    Bm25Index(n, tokens, k1, b, postings, dfreq)
  }

  /** Terms-per-IN-literal bound for the postings probe: at or below this
    * the query vocabulary pushes into the postings scan as an IN filter
    * (parquet row-group pruning over the term-sorted index files); above
    * it the prune falls back to a broadcast semi join (no oversized plan
    * literal — the [[graft.transformers.CategoricalEncoding.MaxCaseBranches]]
    * rationale). */
  val Bm25InListMax = 256

  /** Search a fitted/loaded [[Bm25Index]]: prune its postings and df
    * tables to the query vocabulary, then the same scorer as [[bm25TopK]]
    * — identical results, but the corpus is never rescanned and never
    * re-aggregated. The vocabulary prune pushes into the postings SCAN as
    * an IN filter when the query batch is small (≤ [[Bm25InListMax]]
    * distinct terms), so a probe over a term-sorted on-disk index reads
    * the query terms' row groups, not the corpus's. */
  def bm25SearchIndex(
      index: Bm25Index,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int): DataFrame = {
    require(k >= 1, "k must be >= 1")
    graft.core.Validators.requireColumns(queries, Seq(qIdCol, qTextCol))
    searchIndexWithTerms(index, queryTerms(queries, qIdCol, qTextCol), k)
  }

  /** The index probe shared by [[bm25SearchIndex]] and
    * [[bm25PrfSearchIndex]]'s two passes: prune postings/df to the
    * (query_id, term) set, then the common scorer. */
  private def searchIndexWithTerms(
      index: Bm25Index, qTerms: DataFrame, k: Int): DataFrame = {
    // take(max + 1), not collect: the driver pull stays bounded whatever
    // the query batch holds — when the probe head shows MORE than the
    // IN-literal bound, nothing else is pulled and the prune stays
    // distributed as a broadcast semi join
    val termsHead = qTerms.select("term").distinct()
      .take(Bm25InListMax + 1).map(_.getString(0))
    def prune(df: DataFrame): DataFrame =
      if (termsHead.length <= Bm25InListMax)
        df.filter(col("term").isin(termsHead.toSeq: _*))
      else df.join(broadcast(qTerms.select("term").distinct()), Seq("term"), "left_semi")
    scoreAndRank(prune(index.postings), prune(index.dfreq), qTerms,
      index.n.toDouble, index.avgdl, index.k1, index.b, k)
  }

  /** Two-stage retrieval: BM25 shortlist (`kLex` per query) over the text,
    * exact-cosine rerank of the shortlist against the query embeddings,
    * top-`k` out — the production lexical-recall / dense-precision split.
    *
    * Scale shape: the shortlist (≤ kLex·|queries| rows) is the BROADCAST
    * build side of the join against the corpus embedding table — the
    * embeddings never shuffle and only shortlist rows are scored; the
    * query embeddings broadcast likewise; the final rank window moves
    * shortlist-sized rows. Zero-norm embeddings drop (the
    * [[Similarity.cosineTopKBatch]] NaN rule). Scores are 9-decimal-
    * rounded for engine portability.
    *
    * Output: (query_id, id, bm25, cos), ≤ k rows per query, ranked by
    * rounded cosine with id ties.
    */
  def bm25Rerank(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      corpusEmb: DataFrame,
      eIdCol: String,
      eEmbCol: String,
      queryEmb: DataFrame,
      qeIdCol: String,
      qeEmbCol: String,
      kLex: Int,
      k: Int): DataFrame = {
    require(kLex >= k, "kLex must be >= k (the shortlist feeds the rerank)")
    rerankShortlist(
      bm25TopK(docs, idCol, textCol, queries, qIdCol, qTextCol, kLex),
      corpusEmb, eIdCol, eEmbCol, queryEmb, qeIdCol, qeEmbCol, k)
  }

  /** [[bm25Rerank]] with the lexical stage probing a persisted
    * [[Bm25Index]] instead of rescanning the corpus — the
    * [[bm25PrfSearchIndex]] treatment for two-stage retrieval: identical
    * results (same oracle), but the per-search cost is the pruned index
    * probe plus the shortlist-sized rerank. */
  def bm25RerankIndex(
      index: Bm25Index,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      corpusEmb: DataFrame,
      eIdCol: String,
      eEmbCol: String,
      queryEmb: DataFrame,
      qeIdCol: String,
      qeEmbCol: String,
      kLex: Int,
      k: Int): DataFrame = {
    require(kLex >= k, "kLex must be >= k (the shortlist feeds the rerank)")
    rerankShortlist(
      bm25SearchIndex(index, queries, qIdCol, qTextCol, kLex),
      corpusEmb, eIdCol, eEmbCol, queryEmb, qeIdCol, qeEmbCol, k)
  }

  /** The dense stage shared by [[bm25Rerank]] and [[bm25RerankIndex]]:
    * exact-cosine rerank of a (query_id, id, bm25) shortlist against the
    * query embeddings, top-`k` out. The shortlist (≤ kLex·|queries| rows)
    * is the BROADCAST build side against the corpus embedding table — the
    * embeddings never shuffle and only shortlist rows are scored; the
    * query embeddings broadcast likewise; the final rank window moves
    * shortlist-sized rows. Zero-norm embeddings drop (the
    * [[Similarity.cosineTopKBatch]] NaN rule); cosines are
    * 9-decimal-rounded for engine portability. */
  private def rerankShortlist(
      shortlist: DataFrame,
      corpusEmb: DataFrame,
      eIdCol: String,
      eEmbCol: String,
      queryEmb: DataFrame,
      qeIdCol: String,
      qeEmbCol: String,
      k: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    graft.core.Validators.requireColumns(corpusEmb, Seq(eIdCol, eEmbCol))
    graft.core.Validators.requireColumns(queryEmb, Seq(qeIdCol, qeEmbCol))
    val e = corpusEmb
      .select(col(eIdCol).as("id"), col(eEmbCol).as("emb"))
      .withColumn("nrm", sqrt(Similarity.graftDot(col("emb"), col("emb"))))
      .filter(col("nrm") > 0.0 && col("nrm") <= Double.MaxValue)
    val q = broadcast(
      queryEmb.select(col(qeIdCol).as("query_id"), col(qeEmbCol).as("qemb"))
        .withColumn("qnrm", sqrt(Similarity.graftDot(col("qemb"), col("qemb"))))
        .filter(col("qnrm") > 0.0 && col("qnrm") <= Double.MaxValue))
    e.join(broadcast(shortlist), Seq("id"))
      .join(q, Seq("query_id"))
      .select(col("query_id"), col("id"), col("bm25"),
        round(Similarity.graftDot(col("emb"), col("qemb")) / (col("nrm") * col("qnrm")), 9).as("cos"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cos").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .drop("__rn")
  }

  /** Reciprocal-rank fusion of two per-query rankings (hybrid retrieval's
    * standard combiner): each input is re-ranked per query by
    * (score DESC, id ASC), a doc's fused score is Σ 1/(c + rank) over the
    * lists it appears in, and the k best fused docs survive per query.
    * RRF is rank-only — the two score columns never need to be on the same
    * scale, which is exactly why it is the default for BM25 ⊕ cosine.
    *
    * Fused scores are rounded to 9 decimals before the final rank (the
    * engine-portability rule); fused ties break by id. Inputs are already
    * top-k rankings (≤ k·|queries| rows), so every shuffle here is
    * queries-sized, not corpus-sized — trivially safe at any corpus scale.
    *
    * Output: (query_id, id, rrf), ≤ k rows per query.
    */
  def rrfFuse(
      a: DataFrame,
      b: DataFrame,
      queryCol: String,
      idCol: String,
      scoreColA: String,
      scoreColB: String,
      k: Int,
      c: Int = 60,
      weightA: Double = 1.0,
      weightB: Double = 1.0): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    require(c >= 0, "c must be >= 0")
    require(weightA >= 0.0 && weightB >= 0.0, "fusion weights must be >= 0")
    graft.core.Validators.requireColumns(a, Seq(queryCol, idCol, scoreColA))
    graft.core.Validators.requireColumns(b, Seq(queryCol, idCol, scoreColB))
    // each weighted reciprocal is 9-decimal-rounded before the two-term
    // sum (the bm25TopK grid-sum rule), so the fused score replays
    // bit-for-bit; non-unit weights ("trust the dense leg 3x") tilt the
    // fusion without any score calibration
    def ranked(df: DataFrame, scoreCol: String, w: Double, out: String): DataFrame =
      df.select(col(queryCol).as("query_id"), col(idCol).as("id"),
        col(scoreCol).as("__s"))
        .withColumn(out,
          round(lit(w) / (lit(c.toDouble) + row_number().over(
            Window.partitionBy("query_id").orderBy(col("__s").desc, col("id").asc))), 9))
        .drop("__s")
    ranked(a, scoreColA, weightA, "__ra")
      .join(ranked(b, scoreColB, weightB, "__rb"), Seq("query_id", "id"), "full_outer")
      .withColumn("rrf",
        round(coalesce(col("__ra"), lit(0.0)) + coalesce(col("__rb"), lit(0.0)), 9))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("rrf").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .select("query_id", "id", "rrf")
  }

  /** Corpus stopwords straight off the index's df table: the terms
    * appearing in at least `minDfFrac` of the documents — the data-driven
    * stopword list that feeds [[TextOps.removeCommonLines]]-style
    * boilerplate passes and query-term pruning, for free once a
    * [[Bm25Index]] exists (the df table is vocabulary-sized; no corpus
    * scan). Output: (term, df), the exact document frequencies. */
  def stopwords(index: Bm25Index, minDfFrac: Double): DataFrame = {
    require(minDfFrac > 0.0 && minDfFrac <= 1.0, "minDfFrac must be in (0, 1]")
    index.dfreq
      .filter(col("df").cast("double") >= lit(minDfFrac) * lit(index.n.toDouble))
      .select("term", "df")
  }

  /** Compact an on-disk [[Bm25Index]] after a run of appends: every
    * append adds a generation the probe must open, and a term's postings
    * fragment across generations, degrading row-group pruning. Compaction
    * merges all live generations into ONE new globally term-sorted
    * generation, commits params.json to name only it (same atomic rename
    * as every commit), and then reaps every other generation directory —
    * including orphans from crashed appends. Results are unchanged by
    * construction; only file layout moves.
    *
    * Caveats (the [[Bm25Index]] single-writer contract): don't run
    * concurrently with an append, and re-load any [[Bm25Index]] held from
    * before the compact — its lazy postings/df frames point at the reaped
    * generation directories ("readers see the previous index or the new
    * one" holds up to the params.json read, not for in-flight frames). */
  def compactBm25Index(
      spark: org.apache.spark.sql.SparkSession, dir: String): Unit = {
    val (_, _, _, _, g) = Bm25Index.committed(dir)
    // merged df must MATERIALIZE under the new generation before the old
    // ones (its inputs) are reaped — the generation write is that
    Bm25Index.commit(dir, g.live, Bm25Index.load(spark, dir), compact = true)
  }

  /** BM25 with pseudo-relevance feedback (RM3's rank-only skeleton): a
    * first BM25 pass retrieves `fbDocs` feedback docs per query, the
    * `fbTerms` terms with the highest summed term frequency across them
    * (ties by term) expand the query, and a second BM25 pass scores the
    * expanded term set. Classic lexical recall lift — "spark shuffle"
    * pulls in docs that only say "exchange partition" — with zero trained
    * components.
    *
    * Everything stays integer/rank-deterministic: term selection is an
    * integer tf sum + a (sum DESC, term) rank, expansion is a distinct
    * union with the original terms, and the rescoring is [[bm25TopK]]'s
    * grid-sum scorer. Scale shape: two passes of the bm25TopK shape; the
    * feedback join (shortlist ⋈ postings) is pruned by the broadcast
    * shortlist before anything aggregates, so pass two's vocabulary is
    * (original ∪ fbTerms·queries)-sized — still query-sized, never
    * corpus-sized.
    *
    * Output: (query_id, id, bm25), ≤ k rows per query — same contract as
    * [[bm25TopK]], directly comparable with it through
    * [[evalRankingMetrics]].
    */
  def bm25PrfTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int,
      fbDocs: Int = 5,
      fbTerms: Int = 10,
      k1: Double = 1.2,
      b: Double = 0.75): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(fbDocs >= 1, "fbDocs must be >= 1")
    require(fbTerms >= 1, "fbTerms must be >= 1")
    graft.core.Validators.requireColumns(docs, Seq(idCol, textCol))
    graft.core.Validators.requireColumns(queries, Seq(qIdCol, qTextCol))
    // pass one: plain BM25, feedback shortlist — built from the shared
    // helpers so the corpus constants aggregate runs ONCE for both passes
    val (n, tokens) = corpusConstants(docs, textCol)
    val avgdl = avgdlOf(n, tokens)
    val qt1 = queryTerms(queries, qIdCol, qTextCol)
    val (p1, d1) = prunedPostings(docs, idCol, textCol, qt1)
    val fb = scoreAndRank(p1, d1, qt1, n.toDouble, avgdl, k1, b, fbDocs)
      .select("query_id", "id")
    // term statistics of the feedback docs only: the broadcast shortlist
    // prunes the exploded corpus before the tf aggregate
    val fbTf = docs
      .select(col(idCol).as("id"),
        explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .join(broadcast(fb), Seq("id"))
      .groupBy("query_id", "term")
      .agg(count(lit(1)).as("__tf"))
    // pass two: the original terms ∪ the expansion, deduped, rescored
    // through the same pruned-postings scorer
    val qTerms = qt1.unionByName(collectExpansion(fbTf, fbTerms)).distinct()
    val (postings, dfreq) = prunedPostings(docs, idCol, textCol, qTerms)
    scoreAndRank(postings, dfreq, qTerms, n.toDouble, avgdl, k1, b, k)
  }

  /** The PRF expansion cut shared by [[bm25PrfTopK]] and
    * [[bm25PrfSearchIndex]]: the `fbTerms` highest-summed-tf terms per
    * query (ties by term), collected and re-shipped as a local frame. The
    * expansion is ≤ fbTerms·|queries| rows — a bounded fit-time pull, like
    * every fit in this package; leaving it lazy would embed the ENTIRE
    * pass-one subtree into pass two's plan at every use site (measured 41
    * Exchange nodes vs pass two's own 9). */
  private def collectExpansion(fbTf: DataFrame, fbTerms: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val expansion = fbTf
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id")
          .orderBy(col("__tf").desc, col("term").asc)))
      .filter(col("__rn") <= fbTerms)
      .select("query_id", "term")
    val expRows = expansion.collect().toSeq
    import scala.jdk.CollectionConverters._
    fbTf.sparkSession.createDataFrame(expRows.asJava, expansion.schema)
  }

  /** [[bm25PrfTopK]] against a persisted [[Bm25Index]] — IDENTICAL results,
    * but both passes probe pre-paid aggregates instead of re-scanning the
    * corpus: the direct form tokenizes and explodes the documents TWICE
    * (once per pass) plus once more for the feedback tf statistics; here
    * pass one is an index probe, the feedback term statistics come straight
    * off the postings table's stored tf column (pruned by the broadcast
    * ≤ fbDocs·|queries| shortlist before the (query, term) aggregate), and
    * pass two is a second probe over the expanded vocabulary. The corpus
    * text is never touched, so the whole query is postings-sized — on a
    * term-sorted on-disk index both probes row-group-prune to the query
    * vocabulary exactly like [[bm25SearchIndex]].
    *
    * Output: (query_id, id, bm25), ≤ k rows per query — same contract (and
    * same oracle) as [[bm25PrfTopK]]. */
  def bm25PrfSearchIndex(
      index: Bm25Index,
      queries: DataFrame,
      qIdCol: String,
      qTextCol: String,
      k: Int,
      fbDocs: Int = 5,
      fbTerms: Int = 10): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(fbDocs >= 1, "fbDocs must be >= 1")
    require(fbTerms >= 1, "fbTerms must be >= 1")
    graft.core.Validators.requireColumns(queries, Seq(qIdCol, qTextCol))
    val qt1 = queryTerms(queries, qIdCol, qTextCol)
    val fb = searchIndexWithTerms(index, qt1, fbDocs).select("query_id", "id")
    // feedback term statistics WITHOUT a corpus scan: tf per (id, term) is
    // exactly what the postings store — summing it over a query's feedback
    // docs replays the direct form's explode-and-count to the integer
    val fbTf = index.postings
      .join(broadcast(fb), Seq("id"))
      .groupBy("query_id", "term")
      .agg(sum(col("tf")).as("__tf"))
    val qTerms = qt1.unionByName(collectExpansion(fbTf, fbTerms)).distinct()
    searchIndexWithTerms(index, qTerms, k)
  }

  /** Per-query ranking-quality metrics against a binary-relevance truth
    * set — the retrieval stack's report card next to
    * [[Similarity.evalRecall]]: hit@k (did ANY relevant doc make the top
    * k), reciprocal rank of the FIRST relevant hit (0 when none — mean
    * over queries is MRR), and NDCG@k (DCG against the ideal DCG of
    * min(|truth|, k) relevant docs up top).
    *
    * Engine portability: every 1/log₂(rank+1) gain and every 1/rank
    * reciprocal is 9-decimal-rounded BEFORE summing (the bm25TopK
    * grid-sum rule), and the predicted list re-ranks on (score DESC, id)
    * so rank assignment replays exactly. Both inputs are per-query lists
    * (≤ k·|queries| rows after the rank cut), so every shuffle here is
    * queries-sized. Output: (query_id, n_truth, hit, rr, ndcg).
    */
  def evalRankingMetrics(
      predicted: DataFrame,
      truth: DataFrame,
      queryCol: String,
      idCol: String,
      scoreCol: String,
      k: Int,
      relCol: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(k >= 1, "k must be >= 1")
    graft.core.Validators.requireColumns(predicted, Seq(queryCol, idCol, scoreCol))
    graft.core.Validators.requireColumns(truth, Seq(queryCol, idCol) ++ relCol)
    // graded relevance when relCol is given (linear rel/log₂ gains — the
    // exact-integer-replay choice; NULL rel → 0); binary membership (1.0)
    // otherwise
    val relExpr = relCol
      .map(c => coalesce(col(c).cast("double"), lit(0.0)))
      .getOrElse(lit(1.0))
    // max-aggregate, not distinct: duplicate (query, id) truth rows with
    // DIFFERENT graded rel (two annotators) must collapse to one row, or
    // the join fans out and double-counts DCG and n_truth
    val t = truth.select(col(queryCol).as("query_id"), col(idCol).as("id"),
      relExpr.as("__rel"))
      .groupBy("query_id", "id").agg(max(col("__rel")).as("__rel"))
    val truthCounts = t.groupBy("query_id").agg(count(lit(1)).as("n_truth"))
    def gainAt(rel: Column, rank: Column): Column =
      round(rel / log2(rank + lit(1)), 9)
    val ranked = predicted
      .select(col(queryCol).as("query_id"), col(idCol).as("id"),
        col(scoreCol).as("__s"))
      .withColumn("__rn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__s").desc, col("id").asc)))
      .filter(col("__rn") <= k)
      .join(t, Seq("query_id", "id"), "left")
      .withColumn("__rel", coalesce(col("__rel"), lit(0.0)))
    val perQuery = ranked.groupBy("query_id").agg(
      max((col("__rel") > 0.0).cast("int")).as("hit"),
      round(coalesce(
        lit(1.0) / min(when(col("__rel") > 0.0, col("__rn"))), lit(0.0)), 9)
        .as("rr"),
      round(sum(gainAt(col("__rel"), col("__rn"))), 9).as("__dcg"))
    // ideal DCG: the truth set's own best ordering (rel DESC, id) cut at
    // k — for binary truth this is the closed-form Σ 1/log₂(i+1) over
    // min(n_truth, k) positions; same 9-decimal grid-sum rule
    val ideal = t
      .withColumn("__irn", row_number().over(
        Window.partitionBy("query_id").orderBy(col("__rel").desc, col("id").asc)))
      .filter(col("__irn") <= k)
      .groupBy("query_id")
      .agg(round(sum(gainAt(col("__rel"), col("__irn"))), 9).as("__idcg"))
    truthCounts
      .join(perQuery, Seq("query_id"), "left")
      .join(ideal, Seq("query_id"), "left")
      .withColumn("hit", coalesce(col("hit"), lit(0)))
      .withColumn("rr", coalesce(col("rr"), lit(0.0)))
      .withColumn("ndcg",
        when(coalesce(col("__idcg"), lit(0.0)) > 0.0,
          round(coalesce(col("__dcg"), lit(0.0)) / col("__idcg"), 9))
          .otherwise(lit(0.0)))
      .select("query_id", "n_truth", "hit", "rr", "ndcg")
  }

  /** Feature-hashed signed bag-of-words embedding (Weinberger et al.'s
    * hashing trick): token t adds sign(t) ∈ {−1, +1} to component
    * bucket(t) = xxhash64(seed, t) mod dim, sign from an independent
    * xxhash64(seed+1, t) bit; the count vector is then L2-normalized. The
    * bridge from a raw text corpus into the dense retrieval stack
    * ([[Similarity.cosineTopKBatch]], IVF, PQ) when no trained embeddings
    * exist yet.
    *
    * Pure NARROW per-row compute — the token array maps to (bucket, sign)
    * structs, folds into a dim-sized accumulator, and normalizes, all
    * inside one projection: no explode, no shuffle, nothing corpus-wide.
    * O(tokens · dim) work per row, the right trade against a corpus-wide
    * explode + groupBy shuffle for the small dims (16–256) this targets.
    * All-zero rows (empty/NULL text, or signs cancelling) yield the zero
    * vector unchanged — NOT NaN — and carry hash_norm = 0 so callers can
    * filter them before cosine search (which drops zero-norm rows anyway).
    *
    * Appends `<textCol>_hash` (array<double>, unit L2 norm or all-zero)
    * and `<textCol>_hash_norm` (the pre-normalization L2 norm).
    */
  def hashEmbed(
      df: DataFrame,
      textCol: String,
      dim: Int,
      seed: Long = 42L): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    graft.core.Validators.requireColumns(df, Seq(textCol))
    val accum = call_function(graft.functions.TilePairs.HashEmbedName,
      col(textCol), lit(dim), lit(seed))
    val raw = coalesce(accum, array_repeat(lit(0.0), dim))
    val nrm = sqrt(Similarity.dot(raw, raw))
    df.withColumn("__graft_raw", raw)
      .withColumn(s"${textCol}_hash_norm", nrm)
      .withColumn(s"${textCol}_hash",
        when(nrm > 0.0,
          transform(col("__graft_raw"), v => v / nrm))
          .otherwise(col("__graft_raw")))
      .drop("__graft_raw")
  }

  /** Pure-Column reference for the graft_hash_embed kernel's count vector
    * (FunctionsSpec pins bit-parity): the same signed-bucket fold, walked
    * by the interpreted HOF evaluator O(tokens · dim) per row — 33 s over
    * 5 k sf0.1 docs at dim 16, where the kernel is one codegen'd loop. */
  private[graft] def hashEmbedFallback(text: Column, dim: Int, seed: Long): Column = {
    val bs = transform(TextOps.tokens(lower(text)), t => struct(
      hashBucket(t, dim, seed).as("b"),
      hashSign(t, seed).as("s")))
    aggregate(
      bs,
      array_repeat(lit(0.0), dim),
      (acc, x) => transform(acc,
        (v, i) => v + when(i === x("b"), x("s")).otherwise(lit(0.0))))
  }

  /** The bucket half of the hashing trick: xxhash64(seed, t) mod dim. */
  private[ops] def hashBucket(t: Column, dim: Int, seed: Long): Column =
    pmod(xxhash64(lit(seed), t), lit(dim.toLong)).cast("int")

  /** The sign half: an independent hash bit, ±1.0. */
  private[ops] def hashSign(t: Column, seed: Long): Column =
    when(pmod(xxhash64(lit(seed + 1L), t), lit(2L)) === 0L, lit(1.0))
      .otherwise(lit(-1.0))

  /** The (term → bucket, sign) table for a corpus's distinct terms — the
    * aux dump that lets an external engine replay [[hashEmbed]] exactly
    * (the xxhash64 chain itself has no SQL equivalent; the bag-of-words
    * fold, normalization, and everything downstream does). One distinct
    * over the exploded tokens: vocabulary-sized, not corpus-sized. */
  def hashVocab(
      df: DataFrame,
      textCol: String,
      dim: Int,
      seed: Long = 42L): DataFrame = {
    require(dim >= 1, "dim must be >= 1")
    graft.core.Validators.requireColumns(df, Seq(textCol))
    df.select(explode(TextOps.tokens(lower(col(textCol)))).as("term"))
      .distinct()
      .select(col("term"),
        hashBucket(col("term"), dim, seed).as("bucket"),
        hashSign(col("term"), seed).as("sign"))
  }
}
