package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** robots.txt parsing and URL permission checks — the crawl-politeness
  * gate of the first mile (extension beyond the reference surface,
  * SURVEY §2.11's URL/crawl family): a fetched corpus must be filterable
  * down to what the robots exclusion protocol actually permitted, both
  * for re-crawls and for audits of an existing crawl.
  *
  * Semantics implemented (RFC 9309 / the Google REP, the parts that
  * matter for corpus filtering):
  *  - groups of one or more consecutive `User-agent` lines followed by
  *    their directives; `Allow`, `Disallow`, and `Crawl-delay` kept
  *    (the delay surfaces through [[crawlDelays]], never as a path
  *    rule), `Sitemap` kept as host-level rows (through [[sitemaps]]),
  *    other directives and `#` comments ignored; empty-value
  *    rules ignored (an empty `Disallow:` means "no restriction", not
  *    "deny all");
  *  - agent selection per host: the target agent's own groups when any
  *    exist (case-insensitive token match), otherwise the `*` groups;
  *  - rule matching against path + query: `*` matches any characters,
  *    a trailing `$` anchors at the end, otherwise prefix match; the
  *    MOST SPECIFIC rule (longest rule text) wins, `Allow` beating
  *    `Disallow` on ties; no matching rule → allowed (and a host with
  *    no rules at all → allowed).
  * Everything is Catalyst expressions — the per-line parse is a split +
  * narrow projections, group assignment is one running-count window per
  * host, and the permission check is one host join + one per-URL
  * best-rule window.
  */
object Robots {

  /** Translate one robots rule value into the anchored regex that
    * implements REP matching (shared verbatim with the oracle SQL): the
    * trailing `$` (if any) becomes the regex end anchor, every other
    * regex metacharacter is escaped, `*` → `.*`, and the whole pattern
    * is start-anchored. Used as `regexp_like(target, pattern)`. */
  private[ops] def buildRegex(rule: Column): Column = {
    val endAnchored = rule.endsWith("$")
    val body = when(endAnchored, rule.substr(lit(1), length(rule) - 1))
      .otherwise(rule)
    val escaped = regexp_replace(body, "([.^$+?(){}\\[\\]|\\\\])", "\\\\$1")
    val starred = regexp_replace(escaped, "\\*", ".*")
    concat(lit("^"), starred, when(endAnchored, lit("$")).otherwise(lit("")))
  }

  /** Parse per-host robots.txt documents into a rule table.
    *
    * Input: one row per host — `hostCol` (the key the permission check
    * joins on) and `contentCol` (the raw robots.txt text; NULL → no
    * rules). Output: one row per (host, group, agent, rule):
    *   host, grp (0-based group index), agent (lowercased token),
    *   kind ('allow' | 'disallow' | 'crawl-delay' | 'none' — the
    *   directive-less-group sentinel — | 'sitemap' — host-level, grp=-1),
    *   rule (the raw value), rule_len (specificity), pattern (the
    *   anchored match regex; null for sentinels and sitemap rows).
    *
    * Scale shape: split + posexplode (narrow), one per-host running-count
    * window to assign groups (robots files are KB-sized — a host's lines
    * always fit one task), and one within-group agents×rules join keyed
    * on (host, grp) — dictionary-sized per host. */
  def robotsParse(
      df: DataFrame,
      hostCol: String,
      contentCol: String): DataFrame = {
    graft.core.Validators.requireColumns(df, Seq(hostCol, contentCol))
    import org.apache.spark.sql.expressions.Window
    val kept = df
      .select(col(hostCol).as("host"), col(contentCol).as("__g_c"))
      .filter(col("__g_c").isNotNull)
      .select(col("host"),
        posexplode(split(col("__g_c"), "\r?\n")).as(Seq("line_no", "__g_l")))
      // strip comments, trim
      .withColumn("__g_l", trim(regexp_replace(col("__g_l"), "#.*$", "")))
      .withColumn("field",
        lower(trim(regexp_extract(col("__g_l"), "^([^:]+):", 1))))
      .withColumn("value",
        trim(regexp_extract(col("__g_l"), "^[^:]+:(.*)$", 1)))
      .filter(col("field").isin(
        "user-agent", "allow", "disallow", "crawl-delay", "sitemap"))
    // `Sitemap:` is HOST-level, not group-level (RFC 9309 §2.3 treats it
    // as independent of any user-agent group): it surfaces as
    // kind='sitemap' rows (grp=-1, agent='*') and never participates in
    // grouping — a Sitemap line between two User-agent lines must not
    // split their group. Consumers read these rows straight off the
    // parse ([[sitemaps]]); both permission-side consumers filter by
    // directive kind after agent selection, so they never see them.
    val sitemapRows = kept
      .filter(col("field") === "sitemap" && col("value") =!= "")
      .select(col("host"), lit(-1).as("grp"), lit("*").as("agent"),
        lit("sitemap").as("kind"), col("value").as("rule"),
        length(col("value")).as("rule_len"),
        lit(null).cast("string").as("pattern"))
    val lines = kept.filter(col("field") =!= "sitemap")
    val w = Window.partitionBy("host").orderBy("line_no")
    // a user-agent line NOT preceded by another user-agent line starts a
    // new group; its directives run until the next such start
    val grouped = lines
      .withColumn("__g_prev", lag(col("field"), 1).over(w))
      .withColumn("__g_start",
        (col("field") === "user-agent" &&
          (col("__g_prev").isNull || col("__g_prev") =!= "user-agent")).cast("int"))
      .withColumn("grp",
        sum(col("__g_start")).over(w.rowsBetween(Window.unboundedPreceding, 0)) - 1)
      .filter(col("grp") >= 0) // directives before any user-agent line: ignored
    // PRODUCT TOKEN, not the whole line: `User-agent: GraftBot/1.2`
    // targets the crawler "graftbot" (RFC 9309 token matching) — keeping
    // the version would silently fall every versioned group back to `*`
    val agents = grouped.filter(col("field") === "user-agent")
      .select(col("host"), col("grp"),
        lower(regexp_extract(col("value"), "^([^/\\s]*)", 1)).as("agent"))
      .filter(col("agent") =!= "")
      .distinct()
    val rules = grouped
      .filter(col("field") =!= "user-agent" && col("value") =!= "")
      .select(col("host"), col("grp"), col("field").as("kind"),
        col("value").as("rule"))
    // LEFT join, not inner: a group whose directives are all empty-value
    // (the whitelist idiom `User-agent: foo` + bare `Disallow:`) must
    // still EXIST in the rule table — RFC 9309 says a matching group with
    // no rules means UNRESTRICTED. An inner join would vanish the group,
    // agent selection would fall back to `*`, and the idiom would invert
    // into a full deny. Directive-less groups keep one kind='none'
    // sentinel row; both consumers filter by kind AFTER selection, so a
    // sentinel selects its group but never matches a URL.
    agents.join(rules, Seq("host", "grp"), "left")
      .select(col("host"), col("grp"), col("agent"),
        coalesce(col("kind"), lit("none")).as("kind"),
        coalesce(col("rule"), lit("")).as("rule"),
        coalesce(length(col("rule")), lit(0)).as("rule_len"),
        when(col("rule").isNotNull, buildRegex(col("rule"))).as("pattern"))
      .unionByName(sitemapRows)
  }

  /** The per-host sitemap URLs declared in robots.txt — kind='sitemap'
    * rows of a [[robotsParse]] table as (host, sitemap_url), the
    * discovery half of the frontier mile ([[Sitemap.sitemapUrls]]
    * extracts the page URLs once the sitemap bodies are fetched). */
  def sitemaps(rules: DataFrame): DataFrame =
    rules.filter(col("kind") === "sitemap")
      .select(col("host"), col("rule").as("sitemap_url"))

  /** The ONE agent-selection rule ([[robotsAllowed]] and [[crawlDelays]]
    * must never diverge): per host, the agent's own groups when any
    * exist, otherwise the `*` groups. Callers filter by directive KIND
    * only AFTER selection — group membership is decided by the whole
    * group (an exact group that happens to lack a delay, or path rules,
    * means "this group applies and says nothing", never a fallback to
    * `*`). */
  private def agentSelected(rules: DataFrame, agent: String): DataFrame = {
    val a = lit(agent.toLowerCase)
    val hostsWithExact = rules.filter(col("agent") === a)
      .select(col("host")).distinct().withColumn("__g_ex", lit(1))
    rules
      .join(hostsWithExact, Seq("host"), "left")
      .filter(when(col("__g_ex").isNotNull, col("agent") === a)
        .otherwise(col("agent") === "*"))
      .drop("__g_ex")
  }

  /** The per-host crawl delay for `agent` from a [[robotsParse]] rule
    * table: one row per host that declares a `Crawl-delay`, with the
    * SAME agent-selection rule as [[robotsAllowed]] (the agent's own
    * groups when any exist, else the `*` groups) and the maximum delay
    * when a host declares several. Output: (host, crawl_delay_sec
    * DOUBLE — the directive accepts fractional seconds); hosts without
    * a parseable delay are absent (scheduler default applies). Rules
    * tables are hosts-sized; two dictionary joins + one aggregate. */
  def crawlDelays(
      rules: DataFrame,
      agent: String): DataFrame = {
    require(agent.nonEmpty, "crawlDelays: agent must be non-empty")
    agentSelected(rules, agent)
      .filter(col("kind") === "crawl-delay")
      .withColumn("__g_d", col("rule").cast("double"))
      .filter(col("__g_d").isNotNull && col("__g_d") >= 0)
      .groupBy("host")
      .agg(max(col("__g_d")).as("crawl_delay_sec"))
  }

  /** Appends `allowed` (boolean) to `urls`: whether `agent` may fetch
    * each URL under the parsed `rules` ([[robotsParse]] output). The
    * match target is path + `?query` (fragments are never sent); a URL
    * whose host has no applicable rules — or no rules at all — is
    * allowed.
    *
    * Scale shape: the rules collapse to ONE precedence-sorted array per
    * host (a hosts-sized aggregate — longest rule first, allow before
    * disallow on length ties, robots precedence baked into the sort
    * key), the URL side takes one narrow target projection + one LEFT
    * join keyed on host (hosts-sized build side: AQE broadcasts it),
    * and the verdict is the first array entry whose pattern matches —
    * the [[graft.functions.RobotsVerdict]] kernel (compiled patterns
    * memoized per executor); the URL side never shuffles and never
    * widens. The regex evaluation count is
    * the same per (url, same-host rule) bound as a join-condition
    * match — robots files are tens of rules. STREAM-CAPABLE: every
    * URL-side op is a
    * narrow projection or a stream-static join, so the gate drops into
    * a live frontier ([[graft.streaming.StreamingOps.politenessSchedule]]'s
    * recrawl loop) unchanged. */
  def robotsAllowed(
      urls: DataFrame,
      urlCol: String,
      rules: DataFrame,
      agent: String,
      outCol: String = "allowed"): DataFrame = {
    graft.core.Validators.requireColumns(urls, Seq(urlCol))
    graft.core.Validators.requireColumnsAbsent(urls, Seq(outCol), "robotsAllowed")
    require(agent.nonEmpty, "robotsAllowed: agent must be non-empty")
    // one precedence-sorted rule array per host: sort_array ascending on
    // (−rule_len, kind rank) puts the longest rule first and allow (0)
    // before disallow (1) on ties — the robots precedence order, so the
    // FIRST matching entry is the verdict. Helper-prefixed so a urls
    // frame carrying its own kind/pattern/… columns can never collide.
    val applicable = agentSelected(rules, agent)
      .filter(col("kind").isin("allow", "disallow")) // crawl-delay rows aside
      .groupBy(col("host").as("__g_rh"))
      .agg(sort_array(collect_list(struct(
        (-col("rule_len")).as("nl"),
        when(col("kind") === "allow", 0).otherwise(1).as("kr"),
        col("pattern").as("pat")))).as("__g_rules"))
    // fragments are never sent to the server: strip them BEFORE the
    // query extraction, so a '?' inside the fragment can't resurrect as
    // a query string
    val noFrag = regexp_replace(col(urlCol), "#.*$", "")
    val keyed = urls.withColumn("__g_host", Url.host(col(urlCol)))
      .withColumn("__g_target",
        concat(
          when(regexp_extract(col(urlCol), Url.PathPattern, 1) === "", lit("/"))
            .otherwise(regexp_extract(col(urlCol), Url.PathPattern, 1)),
          when(regexp_extract(noFrag, "\\?(.*)$", 1) =!= "",
            concat(lit("?"), regexp_extract(noFrag, "\\?(.*)$", 1)))
            .otherwise(lit(""))))
    // first-match verdict: the native kernel memoizes compiled patterns
    // per executor (a non-foldable regexp_like — see robotsVerdictFallback
    // — pays Pattern.compile per row × rule: pure CPU burn at crawl scale
    // on identical host-level patterns)
    val verdict = call_function(graft.functions.TilePairs.RobotsVerdictName,
      col("__g_target"), col("__g_rules"))
    keyed
      .join(applicable, col("__g_host") === col("__g_rh"), "left")
      .withColumn(outCol, coalesce(verdict === 0, lit(true)))
      .drop("__g_host", "__g_target", "__g_rh", "__g_rules")
  }

  /** Pure-Column reference for the graft_robots_verdict kernel
    * (FunctionsSpec pins bit-parity): the `kr` of the first
    * precedence-sorted rule whose pattern matches `target`, NULL when
    * none does. */
  private[graft] def robotsVerdictFallback(target: Column, rules: Column): Column =
    get(filter(rules, r => regexp_like(target, r.getField("pat"))), lit(0)).getField("kr")
}
