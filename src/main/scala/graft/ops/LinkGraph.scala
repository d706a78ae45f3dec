package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Crawl link graph: outlink extraction from raw HTML, the host/domain
  * edge graph, and a bounded-iteration centrality over it — the
  * Common-Crawl-style domain-ranking first mile (extension beyond the
  * reference surface, SURVEY §2.11's URL family). Composes with
  * [[Url.domainStats]] / [[Url.domainFilter]]: rank domains by
  * centrality, feed the tail into a blocklist.
  *
  * Everything is Catalyst expressions over linear-scan regexes (no
  * backreferences or lookaround — RE2-compatible, same family as
  * [[Url.HostPattern]]) plus dictionary-sized joins; no UDFs, no
  * driver-side data paths.
  */
object LinkGraph {

  /** `<a …>` tags: the attribute part must start with whitespace or `/` —
    * the [[TextOps]] link-tag rule, so `<abbr>`/`<article>` never match. */
  private val ATagPattern = "(?i)<a[\\s/][^>]*>"

  /** href value inside one tag: double-quoted, single-quoted, or bare. */
  private val HrefPattern =
    "(?i)href\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)"

  /** Non-navigational schemes a link graph ignores. */
  private val SkipSchemes = "^(?i)(?:mailto|javascript|data|tel):"

  /** One row per outlink: appends `outCol` (the link target resolved to an
    * ABSOLUTE URL against the page's base URL) to every input row,
    * exploding pages with multiple links and dropping pages with none.
    *
    * Extraction: `<a>` tags (attribute part must start with whitespace),
    * href values in either quote style or bare. Skipped: empty hrefs,
    * pure fragments (`#…`), and mailto/javascript/data/tel pseudo-links.
    * Resolution (RFC-3986-lite, shared verbatim with the oracle SQL):
    *   - `scheme://…` absolute → kept as-is;
    *   - `//host/…` protocol-relative → base scheme prepended;
    *   - `/path` root-relative → base `scheme://authority` prepended
    *     (authority keeps userinfo/port — only host EXTRACTION strips
    *     them later);
    *   - anything else → appended to the base DIRECTORY (base path up to
    *     its last `/`, or `/` when the base has no path). Dot segments
    *     (`../`) are kept verbatim, not normalized — the graph keys on
    *     the HOST, which dot segments never change.
    *
    * Scale shape: one generator (explode) over a narrow per-row
    * projection — no shuffle, no aggregation; the regexes are
    * linear-scan. A page with L links emits L rows; crawl pages are
    * KB-sized, so the fan-out is bounded by page size. */
  def extractLinks(
      df: DataFrame,
      htmlCol: String,
      baseUrlCol: String,
      outCol: String = "link_url"): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(htmlCol, baseUrlCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq(outCol), "extractLinks")
    val rawHrefs = transform(
      regexp_extract_all(col(htmlCol), lit(ATagPattern), lit(0)),
      t => trim(regexp_extract(t, HrefPattern, 1), "\"'"))
    val hrefs = filter(rawHrefs, h =>
      h =!= "" && !h.startsWith("#") && !h.rlike(SkipSchemes))
    df.withColumn("__graft_h", explode(hrefs))
      .withColumn(outCol, resolveUrl(col(baseUrlCol), col("__graft_h")))
      .drop("__graft_h")
  }

  /** Complete `<a …>text</a>` pairs whose inner text carries NO nested
    * markup — `[^<]*` keeps the scan linear (RE2-compatible, no
    * backtracking) and is also the honesty boundary: an anchor wrapping
    * another tag (`<a…><b>x</b></a>`) is NOT matched here (its link is
    * still extracted by [[extractLinks]], whose pattern is tag-only). */
  private val AnchorPairPattern = "(?is)<a[\\s/][^>]*>[^<]*</a\\s*>"

  /** One row per outlink WITH its anchor text: appends `urlOut` (the
    * href resolved to an absolute URL, exactly [[extractLinks]]'
    * resolution) and `anchorOut` (the tag's inner text,
    * whitespace-collapsed and trimmed) to every input row.
    *
    * Anchor text is the classic web-scale relevance signal — the
    * query-document pair miner of a training pipeline: the text OTHER
    * pages use to describe a target URL. Same skip rules as
    * [[extractLinks]] (empty hrefs, pure fragments, mailto/javascript/
    * data/tel); additionally only simple anchors (no nested markup in
    * the inner text — see [[AnchorPairPattern]]) yield rows, and an
    * anchor whose inner text is all whitespace emits `''` (kept: an
    * image-only anchor is still a link-graph edge with empty evidence).
    *
    * Scale shape: one generator (explode) over a narrow per-row
    * projection, no shuffle — the [[extractLinks]] shape with one more
    * per-match regex extract. */
  def extractAnchors(
      df: DataFrame,
      htmlCol: String,
      baseUrlCol: String,
      urlOut: String = "link_url",
      anchorOut: String = "anchor_text"): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(htmlCol, baseUrlCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq(urlOut, anchorOut), "extractAnchors")
    val pairs = regexp_extract_all(col(htmlCol), lit(AnchorPairPattern), lit(0))
    val href = trim(regexp_extract(col("__graft_pair"), HrefPattern, 1), "\"'")
    val inner = regexp_extract(col("__graft_pair"), "(?is)>([^<]*)</a\\s*>$", 1)
    df.withColumn("__graft_pair", explode(pairs))
      .withColumn("__graft_h", href)
      .filter(col("__graft_h") =!= "" &&
        !col("__graft_h").startsWith("#") &&
        !col("__graft_h").rlike(SkipSchemes))
      .withColumn(urlOut, resolveUrl(col(baseUrlCol), col("__graft_h")))
      .withColumn(anchorOut, trim(regexp_replace(inner, "\\s+", " ")))
      .drop("__graft_pair", "__graft_h")
  }

  /** The WAT HTTP-response-metadata location (Common Crawl's metadata
    * sidecar: one JSON document per capture under
    * Envelope → Payload-Metadata → HTTP-Response-Metadata). Bracket
    * segments: the keys carry hyphens. */
  private val WatHttpMeta =
    "$.Envelope['Payload-Metadata']['HTTP-Response-Metadata']"

  /** …and its HTML-Metadata subtree (the `Links` array, `Head` block). */
  private val WatHtmlMeta = WatHttpMeta + "['HTML-Metadata']"

  private val WatLinkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("text",
      org.apache.spark.sql.types.StringType)))

  /** Outlinks from a WAT metadata payload — the pre-parsed route into
    * the link graph: Common Crawl ships WAT sidecars so a pipeline can
    * skip raw-HTML parsing entirely. One row per link: `link_url` (the
    * WAT-listed target resolved absolute against `baseUrlCol` — WAT
    * stores hrefs VERBATIM, relative ones included) and `anchor_text`
    * (the `text` field, NULL when the entry has none). `anchorsOnly`
    * (default) keeps `A@/href` entries — the `<a>` links; false emits
    * every linked resource (IMG@/src, LINK@/href, SCRIPT@/src …) with
    * the WAT path kept in `link_path`. Malformed/absent Links arrays
    * yield zero rows for that record, never an error (one bad sidecar
    * line must not abort ingest — from_json is lenient by default).
    *
    * Scale shape: one get_json_object + from_json + explode — a narrow
    * generator, no shuffle; the [[extractLinks]] shape with JSON in
    * place of regexes. */
  def watOutlinks(
      df: DataFrame,
      payloadCol: String,
      baseUrlCol: String,
      anchorsOnly: Boolean = true): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(payloadCol, baseUrlCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("link_url", "anchor_text", "link_path"), "watOutlinks")
    val links = from_json(
      get_json_object(col(payloadCol), WatHtmlMeta + ".Links"),
      org.apache.spark.sql.types.ArrayType(WatLinkSchema))
    val out = df
      .withColumn("__graft_l", explode(links))
      .withColumn("link_path", col("__graft_l.path"))
      .filter(if (anchorsOnly) col("link_path") === "A@/href" else lit(true))
      .filter(col("__graft_l.url").isNotNull && col("__graft_l.url") =!= "")
      .withColumn("link_url", resolveUrl(col(baseUrlCol), col("__graft_l.url")))
      .withColumn("anchor_text", col("__graft_l.text"))
      .drop("__graft_l")
    if (anchorsOnly) out.drop("link_path") else out
  }

  /** The page title a WAT sidecar already extracted
    * (HTML-Metadata → Head → Title); NULL when absent. */
  def watTitle(payload: Column): Column =
    get_json_object(payload, WatHtmlMeta + ".Head.Title")

  private val WatMetaSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("name",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("content",
      org.apache.spark.sql.types.StringType)))

  private val WatHeadLinkSchema = org.apache.spark.sql.types.StructType(Seq(
    org.apache.spark.sql.types.StructField("path",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("url",
      org.apache.spark.sql.types.StringType),
    org.apache.spark.sql.types.StructField("rel",
      org.apache.spark.sql.types.StringType)))

  /** Script resources from a WAT metadata payload (Head → Scripts — the
    * sidecar pre-parses `<script src>` separately from body links): one
    * row per script with `script_url` resolved absolute against
    * `baseUrlCol` (WAT stores srcs verbatim, relative included). The
    * supply-chain surface of a crawl — which pages load which external
    * scripts — without touching raw HTML. Absent/malformed Scripts
    * arrays yield zero rows, never an error. Narrow generator, no
    * shuffle (the [[watOutlinks]] shape). */
  def watScripts(
      df: DataFrame,
      payloadCol: String,
      baseUrlCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(payloadCol, baseUrlCol))
    graft.core.Validators.requireColumnsAbsent(df, Seq("script_url"), "watScripts")
    val scripts = from_json(
      get_json_object(col(payloadCol), WatHtmlMeta + ".Head.Scripts"),
      org.apache.spark.sql.types.ArrayType(WatLinkSchema))
    df.withColumn("__graft_s", explode(scripts))
      .filter(col("__graft_s.url").isNotNull && col("__graft_s.url") =!= "")
      .withColumn("script_url", resolveUrl(col(baseUrlCol), col("__graft_s.url")))
      .drop("__graft_s")
  }

  /** FULL head + header enrichment from a WAT metadata payload — the
    * sidecar route to the same ingest columns [[TextOps.htmlHead]]
    * extracts from raw HTML, so a WAT-only pipeline (Common Crawl ships
    * the sidecars precisely so ingest can skip the raw fetch bytes) gets
    * metadata parity. Appends:
    *
    *  - `wat_title` — Head → Title ([[watTitle]]);
    *  - `meta_description` — the first Head → Metas entry whose `name`
    *    is exactly `description` case-insensitively (the JSON twin of
    *    htmlHead's exact-token match: a `descriptions` decoy must NOT
    *    leak through a prefix match), NULL when absent;
    *  - `canonical_url` — the first Head → Link entry with
    *    `rel = canonical`, VERBATIM as declared (relative hrefs stay
    *    relative — resolution is the dedup consumer's job, this op
    *    reports what the sidecar declared, the htmlHead contract);
    *  - `content_type` — Headers → Content-Type as sent;
    *  - `http_status` — Response-Message → Status as an int.
    *
    * Absent/malformed subtrees yield NULLs for that record, never an
    * error (`from_json` lenient, `get` instead of ANSI `element_at`).
    * Scale shape: narrow per-row JSON projections — no explode, no
    * shuffle. */
  def watHeadMeta(df: DataFrame, payloadCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(payloadCol))
    graft.core.Validators.requireColumnsAbsent(
      df, Seq("wat_title", "meta_description", "canonical_url",
        "content_type", "http_status"), "watHeadMeta")
    val p = col(payloadCol)
    val metas = from_json(
      get_json_object(p, WatHtmlMeta + ".Head.Metas"),
      org.apache.spark.sql.types.ArrayType(WatMetaSchema))
    val headLinks = from_json(
      get_json_object(p, WatHtmlMeta + ".Head.Link"),
      org.apache.spark.sql.types.ArrayType(WatHeadLinkSchema))
    df.withColumn("wat_title", watTitle(p))
      .withColumn("meta_description",
        get(filter(metas, m => lower(m.getField("name")) === "description"),
          lit(0)).getField("content"))
      .withColumn("canonical_url",
        get(filter(headLinks, l => lower(l.getField("rel")) === "canonical"),
          lit(0)).getField("url"))
      .withColumn("content_type",
        get_json_object(p, WatHttpMeta + ".Headers['Content-Type']"))
      .withColumn("http_status",
        get_json_object(p, WatHttpMeta + "['Response-Message'].Status")
          .cast("int"))
  }

  /** Resolve `ref` to an ABSOLUTE URL against `base` — the RFC-3986-lite
    * rule set documented on [[extractLinks]] (absolute kept,
    * protocol-relative gains the base scheme, root-relative gains
    * `scheme://authority`, anything else appends to the base DIRECTORY;
    * dot segments kept verbatim). Public because it is ALSO the
    * Location-header resolver of the redirect surface (3xx Location may
    * be relative per RFC 9110) — one resolution implementation, one
    * oracle replay. Pure narrow expressions. */
  def resolveUrl(base: Column, ref: Column): Column = {
    val scheme = regexp_extract(base, "^([a-zA-Z][a-zA-Z0-9+.-]*)://", 1)
    val authority = regexp_extract(base, "^[a-zA-Z][a-zA-Z0-9+.-]*://([^/?#]*)", 1)
    val basePath = regexp_extract(base, Url.PathPattern, 1)
    // the base path up to (and including) its last slash; "/" when the
    // base URL has no path at all
    val baseDir = {
      val d = regexp_replace(basePath, "[^/]*$", "")
      when(d === "", lit("/")).otherwise(d)
    }
    when(ref.rlike("^[a-zA-Z][a-zA-Z0-9+.-]*://"), ref)
      .when(ref.startsWith("//"), concat(scheme, lit(":"), ref))
      .when(ref.startsWith("/"), concat(scheme, lit("://"), authority, ref))
      .otherwise(concat(scheme, lit("://"), authority, baseDir, ref))
  }

  /** The registered-domain edge graph of an outlink table:
    * `(src_domain, dst_domain, n_links)` — both endpoints mapped through
    * [[Url.registeredDomainPsl]] (full PSL semantics; pass
    * [[Psl.snapshotWithPrivate]] to split operator suffixes into per-site
    * domains). Rows where either endpoint has no parseable host drop;
    * `includeSelf = false` (the default) also drops intra-domain edges —
    * site-internal navigation, noise for cross-domain ranking.
    *
    * Scale shape: two narrow host extractions + the zero-shuffle
    * broadcast PSL rule joins per endpoint + ONE (src, dst) aggregate —
    * the only shuffle, keyed on the domain pair. */
  def hostGraph(
      links: DataFrame,
      srcUrlCol: String,
      dstUrlCol: String,
      rules: Psl.Rules = Psl.snapshot,
      includeSelf: Boolean = false): DataFrame = {
    graft.core.Validators.requireColumns(links, Seq(srcUrlCol, dstUrlCol))
    val hosts = links.select(
      Url.host(col(srcUrlCol)).as("__graft_sh"),
      Url.host(col(dstUrlCol)).as("__graft_dh"))
      .filter(col("__graft_sh") =!= "" && col("__graft_dh") =!= "")
    val withSrc = Url.registeredDomainPsl(hosts, "__graft_sh", "src_domain", rules)
    val withBoth = Url.registeredDomainPsl(withSrc, "__graft_dh", "dst_domain", rules)
      .select("src_domain", "dst_domain")
    val edges =
      if (includeSelf) withBoth
      else withBoth.filter(col("src_domain") =!= col("dst_domain"))
    edges.groupBy("src_domain", "dst_domain")
      .agg(count(lit(1)).as("n_links"))
  }

  /** Katz-style in-link centrality over a domain edge graph, EXACT integer
    * arithmetic: after `iterations` rounds,
    * `centrality(d) = Σ_{paths p ending at d, |p| ≤ iterations} Π weights(p)`
    * (+1 for the empty path) — the weighted count of inbound link paths
    * up to the horizon. The recurrence is
    * `c₀ = 1;  c_{t+1}(d) = 1 + Σ_{(s→d)} n_links(s→d) · c_t(s)`.
    *
    * Integers instead of PageRank's damped doubles BY DESIGN: every
    * engine sums BIGINTs to the same value in any order, so the ranking
    * replays bit-identically in the DuckDB oracle and downstream systems
    * — a float power iteration is partition-order-sensitive in its last
    * ulp. The ranking signal is equivalent for curation use (feed the
    * low-centrality tail into [[Url.domainFilter]] blocklists). Keep the
    * horizon small (default 3): weighted path counts grow geometrically
    * with each round — the values are RANKS, not probabilities, and a
    * deep horizon on a dense graph would overflow BIGINT.
    *
    * Scale shape (the conventions of [[Dedup.duplicateClustersIterative]],
    * the distributed rounds duplicate clustering falls back to above its
    * driver bound): the node and score tables are DOMAIN-sized (orders of
    * magnitude below page count); each round is one edges⋈scores join + one dst-keyed
    * aggregate. The edge and node tables are materialized ONCE (every
    * round joins them); the rounds themselves compose into a single
    * plan — each round's score feeds exactly one consumer (the next
    * round), so nothing recomputes, the iteration cap (≤ 10) bounds the
    * plan depth, and only the FINAL score materializes (callers may fan
    * it out). Round 16 dropped the per-round localCheckpoint: at a fixed
    * small horizon it bought no recompute safety and cost one eager
    * multi-stage job cascade per round — measured as a driver-bound
    * serial segment of warc_frontier_schedule, the suite's slowest
    * query. Rounds are a fixed constant — total shuffles are bounded at
    * plan time, never data-dependent. The result is materialized for
    * every `iterations` value, 0 included, so callers always get the same
    * construction-time cost and fan-out contract. */
  def domainCentrality(
      edges: DataFrame,
      srcCol: String = "src_domain",
      dstCol: String = "dst_domain",
      weightCol: String = "n_links",
      iterations: Int = 3): DataFrame = {
    require(iterations >= 0 && iterations <= 10,
      "iterations must be in [0, 10] (integer path counts grow geometrically)")
    graft.core.Validators.requireColumns(edges, Seq(srcCol, dstCol, weightCol))
    // materialize the edge table ONCE: every round joins it, and an
    // un-checkpointed edges frame would re-run the whole upstream plan
    // (link extraction + the hostGraph aggregate) per round
    val e = Dedup.materialize(edges.select(col(srcCol), col(dstCol), col(weightCol)))
    val nodes = Dedup.materialize(
      e.select(col(srcCol).as("domain"))
        .unionByName(e.select(col(dstCol).as("domain")))
        .distinct())
    var score = nodes.withColumn("centrality", lit(1L))
    for (_ <- 1 to iterations) {
      val contrib = e
        .join(score.select(col("domain").as(srcCol), col("centrality").as("__graft_cs")),
          srcCol)
        .groupBy(col(dstCol).as("domain"))
        .agg(sum(col(weightCol) * col("__graft_cs")).as("__graft_in"))
      score = nodes.join(contrib, Seq("domain"), "left")
        .select(col("domain"),
          (lit(1L) + coalesce(col("__graft_in"), lit(0L))).as("centrality"))
    }
    Dedup.materialize(score)
  }
}
