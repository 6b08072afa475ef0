package graft

import graft.core.{DDF, DDFManager}
import graft.operators._
import graft.stats.{Sketches, Stats}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import EntryShared._

/** SparkEntry query rows — URL/domain curation rows (w01-w06). Split from SparkEntry.scala by family
  * (r15 verdict ask #7); composed into the pinned registry by
  * [[SparkEntry.queries]].
  */
private[graft] object EntryUrlQ {

  val qs: Seq[Q] = Seq(
    Q("w01_url_normalize",
      (s, d) => {
        val m = mgr(s, d)
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), syntheticUrl(40).as("url"))
        pipeline.UrlCuration.urlNormalize(docs, "url")
          .select("doc_id", "url", "url_norm")
          .orderBy("doc_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, ${duckUrlRaw(40)} AS url FROM documents),
              |$duckUrlNormCtes
              |SELECT doc_id, url, url_norm FROM p5 ORDER BY doc_id""".stripMargin)),

    Q("w02_registered_domain",
      (s, d) => {
        val m = mgr(s, d)
        val hosts = m.getDDFByName("documents").df
          .select(col("doc_id"),
            pipeline.UrlCuration.hostOf(syntheticUrl(40)).as("host"))
        pipeline.UrlCuration.registeredDomain(hosts, "host", wSuffixes)
          .select("doc_id", "host", "registered_domain", "registered_domain_suffix")
          .orderBy("doc_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, ${duckUrlRaw(40)} AS url FROM documents),
              |h AS (SELECT doc_id, $duckHostExpr AS host FROM u),
              |$duckRegDomainCtes
              |SELECT doc_id, host, registered_domain, registered_domain_suffix
              |FROM d3 ORDER BY doc_id""".stripMargin)),

    Q("w03_domain_cap_build",
      (s, d) => {
        val m = mgr(s, d)
        // the composed crawl-curation shape: normalize → registered
        // domain → broadcast blocklist anti-join → per-domain cap (5
        // best-by-length docs per registrant) via budgetSelectByGroup —
        // the payload never rides a window, the blocklist never shuffles
        val spark = s
        import spark.implicits._
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), col("n_chars"), syntheticUrl(5).as("url"))
        val withDom = pipeline.UrlCuration.registeredDomain(
          docs.withColumn("host", pipeline.UrlCuration.hostOf(col("url"))),
          "host", wSuffixes)
        val block = Seq("example.com", "site-3.co.uk").toDF("blocked")
        val allowed = withDom
          .join(broadcast(block), col("registered_domain") === col("blocked"),
            "left_anti")
          .withColumn("__cost", lit(1L))
        Views.budgetSelectByGroup(allowed, "registered_domain",
            Seq(col("n_chars").desc, col("doc_id").asc), "__cost",
            budgets = Map.empty, defaultBudget = 5L)
          .select("doc_id", "registered_domain", "n_chars")
          .orderBy("registered_domain", "doc_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, n_chars, ${duckUrlRaw(5)} AS url
              |  FROM documents),
              |h AS (SELECT doc_id, n_chars, $duckHostExpr AS host FROM u),
              |$duckRegDomainCtes,
              |r AS (SELECT doc_id, registered_domain, n_chars,
              |    row_number() OVER (PARTITION BY registered_domain
              |      ORDER BY n_chars DESC, doc_id) AS rn
              |  FROM d3
              |  WHERE registered_domain IS NULL
              |     OR registered_domain NOT IN ('example.com', 'site-3.co.uk'))
              |SELECT doc_id, registered_domain, n_chars FROM r WHERE rn <= 5
              |ORDER BY registered_domain, doc_id""".stripMargin)),

    Q("w05_registered_domain_psl",
      (s, d) => {
        val m = mgr(s, d)
        // the FULL public-suffix algorithm (r15): wildcard '*.ck' makes
        // every <label>.ck its own suffix, exception '!www.ck' carves
        // www.ck back out as a registrable domain, exacts and the
        // implicit '*' default rule fill the rest — hosts synthesized to
        // hit every rule class including the host-IS-suffix NULL case
        val id = col("doc_id")
        val host = when(id % 6 === 0,
            concat(lit("www.Site-"), (id % 40).cast("string"), lit(".Co.UK")))
          .when(id % 6 === 1,
            concat(lit("a.b.Site-"), (id % 40).cast("string"), lit(".CK")))
          .when(id % 6 === 2, lit("WWW.CK"))
          .when(id % 6 === 3, lit("Sub.www.ck"))
          .when(id % 6 === 4,
            concat(lit("Site-"), (id % 40).cast("string"), lit(".ck")))
          .otherwise(
            concat(lit("x.Site-"), (id % 40).cast("string"), lit(".example.com")))
        val hosts = m.getDDFByName("documents").df.select(id, host.as("host"))
        pipeline.UrlCuration.registeredDomain(hosts, "host",
            Seq("com", "uk", "co.uk", "ck", "*.ck", "!www.ck"))
          .select("doc_id", "host", "registered_domain", "registered_domain_suffix")
          .orderBy("doc_id")
      },
      Some("""WITH h AS (SELECT doc_id, CASE
             |    WHEN doc_id % 6 = 0 THEN 'www.Site-' || (doc_id % 40)::VARCHAR || '.Co.UK'
             |    WHEN doc_id % 6 = 1 THEN 'a.b.Site-' || (doc_id % 40)::VARCHAR || '.CK'
             |    WHEN doc_id % 6 = 2 THEN 'WWW.CK'
             |    WHEN doc_id % 6 = 3 THEN 'Sub.www.ck'
             |    WHEN doc_id % 6 = 4 THEN 'Site-' || (doc_id % 40)::VARCHAR || '.ck'
             |    ELSE 'x.Site-' || (doc_id % 40)::VARCHAR || '.example.com' END AS host
             |  FROM documents),
             |d1 AS (SELECT *, string_split(lower(host), '.') AS l,
             |  len(string_split(lower(host), '.')) AS n FROM h),
             |d2 AS (SELECT *, CASE
             |    WHEN n >= 2 AND array_to_string(l[n - 1:n], '.') = 'www.ck' THEN 1
             |    WHEN n >= 2 AND (array_to_string(l[n - 1:n], '.') = 'co.uk'
             |                     OR l[n] = 'ck') THEN 2
             |    WHEN n >= 1 AND l[n] IN ('com', 'uk', 'ck') THEN 1
             |    WHEN n >= 1 THEN 1 END AS d FROM d1)
             |SELECT doc_id, host,
             |  CASE WHEN n >= d + 1 THEN array_to_string(l[n - d:n], '.') END
             |    AS registered_domain,
             |  CASE WHEN d IS NOT NULL THEN array_to_string(l[n - d + 1:n], '.') END
             |    AS registered_domain_suffix
             |FROM d2 ORDER BY doc_id""".stripMargin)),

    Q("w06_domain_datacard",
      (s, d) => {
        val m = mgr(s, d)
        // the crawl report card (r15): URL family composed with p10's
        // datasheet — registered domain becomes the reporting key, so a
        // corpus owner reads per-REGISTRANT volumes, dup rates, quality
        // pass counts and language mix (the admission question at
        // domain granularity, not source-tag granularity)
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), col("text"), syntheticUrl(5).as("url"))
        val withDom = pipeline.UrlCuration.registeredDomain(
          docs.withColumn("host", pipeline.UrlCuration.hostOf(col("url"))),
          "host", wSuffixes)
        pipeline.TextAnalysis.datacard(withDom, "text", "doc_id",
            "registered_domain")
          .select(col("source").as("registered_domain"), col("n_docs"),
            col("n_tokens"), col("n_dup_docs"), col("n_quality_hi"),
            col("top_lang"), col("n_langs"))
          .orderBy("registered_domain")
      },
      Some(s"""WITH u AS (SELECT doc_id, text, ${duckUrlRaw(5)} AS url
              |  FROM documents),
              |h AS (SELECT doc_id, text, $duckHostExpr AS host FROM u),
              |$duckRegDomainCtes,
              |sc AS (SELECT doc_id, registered_domain AS source, text,
              |    $duckLangScores
              |  FROM d3),
              |b AS (SELECT source, md5(${duckNorm("text")}) AS fp,
              |    ${duckTokenCount("text")} AS tc,
              |    $duckLangCase AS lang,
              |    CASE WHEN ${duckQuality("text")} >= 0.5 THEN 1 ELSE 0 END AS hi
              |  FROM sc),
              |g AS (SELECT source, fp, count(*) AS n, sum(tc) AS tok,
              |    sum(hi) AS hi, min(lang) AS lang
              |  FROM b GROUP BY source, fp),
              |per AS (SELECT source, sum(n)::BIGINT AS n_docs,
              |    sum(tok)::BIGINT AS n_tokens,
              |    (sum(n) - count(*))::BIGINT AS n_dup_docs,
              |    sum(hi)::BIGINT AS n_quality_hi
              |  FROM g GROUP BY source),
              |lc AS (SELECT source, lang, sum(n) AS ln FROM g GROUP BY source, lang),
              |top AS (SELECT source, lang,
              |    row_number() OVER (PARTITION BY source ORDER BY ln DESC, lang) AS rn,
              |    count(*) OVER (PARTITION BY source) AS nl FROM lc)
              |SELECT p.source AS registered_domain, p.n_docs, p.n_tokens,
              |  p.n_dup_docs, p.n_quality_hi, t.lang AS top_lang,
              |  t.nl::BIGINT AS n_langs
              |FROM per p JOIN top t
              |  ON t.source IS NOT DISTINCT FROM p.source AND t.rn = 1
              |ORDER BY registered_domain""".stripMargin)),

    Q("w04_url_dedup",
      (s, d) => {
        val m = mgr(s, d)
        // distinct raw spellings of one resource (tracking params, case,
        // default ports, '' vs '/' paths, fragments) collapse to one
        // canonical group; only the canonical key shuffles
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), syntheticUrl(5).as("url"))
        pipeline.UrlCuration.urlDedup(docs, "url", "doc_id")
          .orderBy("url_norm")
      },
      Some(s"""WITH u AS (SELECT doc_id, ${duckUrlRaw(5)} AS url FROM documents),
              |$duckUrlNormCtes
              |SELECT url_norm, min(doc_id)::BIGINT AS keep_id,
              |  count(*)::BIGINT AS n_dups
              |FROM p5 WHERE url_norm IS NOT NULL
              |GROUP BY url_norm ORDER BY url_norm""".stripMargin)),

    Q("w07_robots_filter",
      (s, d) => {
        val m = mgr(s, d)
        import s.implicits._
        // crawl politeness through the gate (r16): RFC 9309 decisions
        // over a per-host rule table — longest match wins, allow wins
        // length ties, unmatched URLs ride defaultAllow, non-URLs
        // (IPv6 quarantine rows) drop. The rule set exercises prefix
        // rules, a longer-allow carve-out, a '*' wildcard over the
        // query, a blanket '/' disallow with an allow carve-out, and
        // trailing-'$' anchors that both fire and fail. The oracle
        // inlines the COMPILED regexes (robotsRegexCol's outputs, which
        // UrlCurationSpec pins) and the lexicographic (len, allow) max
        // as max(2*len + allow).
        val rules = Seq(
          ("site-2.example.com", "disallow", "/Articles/"),
          ("site-2.example.com", "allow", "/Articles/1"),
          ("site-8.blogspot.com", "disallow", "*gclid*"),
          ("site-7.org", "disallow", "/"),
          ("site-7.org", "allow", "/Articles/2"),
          ("site-4.co.uk", "disallow", "/$"),
          ("site-10.example.com", "disallow", "/Articles/1$"))
          .toDF("host", "rule", "pattern")
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), syntheticUrl(12).as("url"))
        pipeline.UrlCuration.robotsFilter(docs, "url", rules)
          .select("doc_id", "url")
          .orderBy("doc_id")
      },
      Some(s"""WITH u AS (SELECT doc_id, ${duckUrlRaw(12)} AS url FROM documents),
              |u2 AS (SELECT doc_id, url, regexp_replace(regexp_replace(trim(url),
              |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '#.*', '') AS r0
              |  FROM u),
              |h AS (SELECT doc_id, url, $duckHostExpr AS host,
              |    CASE WHEN regexp_extract(trim(url),
              |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '' THEN NULL
              |      WHEN r0 = '' THEN '/'
              |      WHEN substr(r0, 1, 1) = '?' THEN '/' || r0
              |      ELSE r0 END AS p
              |  FROM u2),
              |rr AS (SELECT * FROM (VALUES
              |    ('site-2.example.com', 0, 10, '^/Articles/'),
              |    ('site-2.example.com', 1, 11, '^/Articles/1'),
              |    ('site-8.blogspot.com', 0, 7, '^.*gclid.*'),
              |    ('site-7.org', 0, 1, '^/'),
              |    ('site-7.org', 1, 11, '^/Articles/2'),
              |    ('site-4.co.uk', 0, 2, '^/$$'),
              |    ('site-10.example.com', 0, 12, '^/Articles/1$$'))
              |  AS t(host, a, len, rx)),
              |m AS (SELECT h.doc_id, r.len * 2 + r.a AS s FROM h JOIN rr r
              |  ON h.host = r.host AND regexp_matches(h.p, r.rx)),
              |best AS (SELECT doc_id, max(s) AS s FROM m GROUP BY doc_id)
              |SELECT h.doc_id, h.url FROM h LEFT JOIN best b ON h.doc_id = b.doc_id
              |WHERE h.host IS NOT NULL AND h.p IS NOT NULL
              |  AND coalesce(b.s % 2 = 1, true)
              |ORDER BY h.doc_id""".stripMargin)),

    Q("w09_robots_parse_filter",
      (s, d) => {
        val m = mgr(s, d)
        // raw robots.txt bodies through the gate (r17, verdict ask #4):
        // robotsParse turns fetched bodies into the (host, rule,
        // pattern) table and robotsFilter applies it — the previously
        // missing step between a robots corpus and the politeness
        // filter. Twelve hosts exercise the three group-selection
        // regimes for agent "graftbot-img": k%3==0 hosts carry an exact
        // "graftbot-img" group (specificity 12, with an inline-comment
        // carve-out rule), k%3==1 hosts a "graftbot" prefix group with
        // TWO consecutive User-agent lines (8), everyone else falls to
        // the "*" group (0); an always-present "other-bot" group must
        // never win, Sitemap/noise lines carry no rules, and the first
        // section uses CRLF line ends. The oracle replays the whole
        // parse (line split, comment strip, lag-based group starts,
        // specificity max, tie merge) plus robotsRegexCol's compilation
        // and w07's decision replay, all in SQL.
        val id = col("doc_id")
        val body = concat(
          lit("# managed robots\r\nUser-agent: other-bot\r\nDisallow: /\r\n\r\n"),
          when(id % 3 === 0, lit("User-agent: graftbot-img\nDisallow: /Articles/\n" +
            "Allow: /Articles/1 # carve\n")).otherwise(lit("")),
          when(id % 3 === 1, lit("User-agent: graftbot\nUser-agent: extra-bot\n" +
            "Disallow: *gclid*\n")).otherwise(lit("")),
          lit("User-agent: *\nDisallow: /$\n" +
            "Sitemap: https://sm.example.com/x.xml\nnoise line\n"))
        val bodies = m.getDDFByName("documents").df.filter(id < 12)
          .select(concat(lit("site-"), id.cast("string"),
            lit(".example.com")).as("host"), body.as("body"))
        val rules = pipeline.UrlCuration.robotsParse(
          bodies, "host", "body", agent = "graftbot-img")
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), syntheticUrl(12).as("url"))
        pipeline.UrlCuration.robotsFilter(docs, "url", rules)
          .select("doc_id", "url")
          .orderBy("doc_id")
      },
      Some(s"""WITH bodies AS (SELECT 'site-' || doc_id::VARCHAR || '.example.com' AS host,
              |    '# managed robots' || chr(13) || chr(10) ||
              |    'User-agent: other-bot' || chr(13) || chr(10) ||
              |    'Disallow: /' || chr(13) || chr(10) || chr(13) || chr(10) ||
              |    CASE WHEN doc_id % 3 = 0 THEN 'User-agent: graftbot-img' ||
              |      chr(10) || 'Disallow: /Articles/' || chr(10) ||
              |      'Allow: /Articles/1 # carve' || chr(10) ELSE '' END ||
              |    CASE WHEN doc_id % 3 = 1 THEN 'User-agent: graftbot' ||
              |      chr(10) || 'User-agent: extra-bot' || chr(10) ||
              |      'Disallow: *gclid*' || chr(10) ELSE '' END ||
              |    'User-agent: *' || chr(10) || 'Disallow: /$$' || chr(10) ||
              |    'Sitemap: https://sm.example.com/x.xml' || chr(10) ||
              |    'noise line' || chr(10) AS body
              |  FROM documents WHERE doc_id < 12),
              |ln AS (SELECT host,
              |    unnest(generate_series(1, len(string_split_regex(body, '\\r?\\n'))))
              |      AS pos,
              |    unnest(string_split_regex(body, '\\r?\\n')) AS line
              |  FROM bodies),
              |kv AS (SELECT host, pos,
              |    lower(regexp_extract(trim(regexp_replace(line, '#.*', '')),
              |      '^([A-Za-z-]+)\\s*:', 1)) AS k,
              |    trim(regexp_replace(trim(regexp_replace(line, '#.*', '')),
              |      '^[A-Za-z-]+\\s*:', '')) AS v
              |  FROM ln),
              |st AS (SELECT *, (k = 'user-agent') AS isua FROM kv),
              |gs AS (SELECT *, CASE WHEN isua AND NOT coalesce(
              |      lag(isua) OVER (PARTITION BY host ORDER BY pos), false)
              |    THEN 1 ELSE 0 END AS gst FROM st),
              |gg AS (SELECT *, sum(gst) OVER (PARTITION BY host ORDER BY pos)
              |    AS gid FROM gs),
              |g1 AS (SELECT * FROM gg WHERE gid > 0),
              |spec AS (SELECT host, gid, max(CASE WHEN v = '*' THEN 0
              |      WHEN starts_with('graftbot-img', lower(v)) THEN length(v)
              |      ELSE -2147483648 END) AS sp
              |  FROM g1 WHERE isua GROUP BY host, gid),
              |spec2 AS (SELECT * FROM spec WHERE sp > -2147483648),
              |best AS (SELECT host, max(sp) AS bs FROM spec2 GROUP BY host),
              |sel AS (SELECT s2.host, s2.gid FROM spec2 s2
              |  JOIN best ON s2.host = best.host AND s2.sp = best.bs),
              |rules AS (SELECT g1.host, g1.k AS rule, g1.v AS pattern
              |  FROM g1 JOIN sel ON g1.host = sel.host AND g1.gid = sel.gid
              |  WHERE g1.k IN ('allow', 'disallow') AND g1.v <> ''),
              |crx AS (SELECT host,
              |    2 * length(pattern) + (rule = 'allow')::INT AS sc,
              |    ${duckRobotsRegexExpr("pattern")} AS rx
              |  FROM rules),
              |u AS (SELECT doc_id, ${duckUrlRaw(12)} AS url FROM documents),
              |u2 AS (SELECT doc_id, url, regexp_replace(regexp_replace(trim(url),
              |    '^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*', ''), '#.*', '') AS r0
              |  FROM u),
              |h AS (SELECT doc_id, url, $duckHostExpr AS host,
              |    CASE WHEN regexp_extract(trim(url),
              |        '^([A-Za-z][A-Za-z0-9+.-]*)://', 1) = '' THEN NULL
              |      WHEN r0 = '' THEN '/'
              |      WHEN substr(r0, 1, 1) = '?' THEN '/' || r0
              |      ELSE r0 END AS p
              |  FROM u2),
              |mm AS (SELECT h.doc_id, c.sc FROM h JOIN crx c
              |  ON h.host = c.host AND regexp_matches(h.p, c.rx)),
              |bst AS (SELECT doc_id, max(sc) AS sc FROM mm GROUP BY doc_id)
              |SELECT h.doc_id, h.url FROM h LEFT JOIN bst b ON h.doc_id = b.doc_id
              |WHERE h.host IS NOT NULL AND h.p IS NOT NULL
              |  AND coalesce(b.sc % 2 = 1, true)
              |ORDER BY h.doc_id""".stripMargin)),

    Q("w10_robots_sitemaps",
      (s, d) => {
        val m = mgr(s, d)
        // the crawl-seeding companion of w09 (r17): Sitemap: pointers
        // are HOST-wide per RFC 9309 §2.3 — extracted regardless of
        // group position, field name case-folded, values (URLs)
        // case-preserved, inline comments stripped, empty values drop,
        // mixed-case hosts fold. Closes robots → sitemap → ht08 seed.
        val id = col("doc_id")
        val body = concat(
          lit("# seeds\r\nUser-agent: *\r\nDisallow: /private/\r\n"),
          lit("Sitemap: https://site-"), id.cast("string"),
          lit(".example.com/sitemap.xml\n"),
          when(id % 2 === 0, concat(
            lit("sitemap: https://cdn.example.org/sm/"),
            (id % 7).cast("string"), lit(".xml.gz # mirror\n")))
            .otherwise(lit("")),
          lit("Sitemap:\nnoise\n"))
        val bodies = m.getDDFByName("documents").df.filter(id < 20)
          .select(concat(lit("Site-"), id.cast("string"),
            lit(".Example.com")).as("host"), body.as("body"))
        pipeline.UrlCuration.robotsSitemaps(bodies, "host", "body")
          .orderBy("host", "sitemap_url")
      },
      Some("""WITH b AS (SELECT doc_id,
             |    lower('Site-' || doc_id::VARCHAR || '.Example.com') AS host,
             |    '# seeds' || chr(13) || chr(10) ||
             |    'User-agent: *' || chr(13) || chr(10) ||
             |    'Disallow: /private/' || chr(13) || chr(10) ||
             |    'Sitemap: https://site-' || doc_id::VARCHAR ||
             |    '.example.com/sitemap.xml' || chr(10) ||
             |    CASE WHEN doc_id % 2 = 0 THEN
             |      'sitemap: https://cdn.example.org/sm/' ||
             |      (doc_id % 7)::VARCHAR || '.xml.gz # mirror' || chr(10)
             |      ELSE '' END ||
             |    'Sitemap:' || chr(10) || 'noise' || chr(10) AS body
             |  FROM documents WHERE doc_id < 20),
             |ln AS (SELECT host, unnest(string_split_regex(body, '\r?\n')) AS line
             |  FROM b),
             |cl AS (SELECT host, trim(regexp_replace(line, '#.*', '')) AS c0
             |  FROM ln),
             |sm AS (SELECT host,
             |    trim(regexp_replace(c0, '^[A-Za-z-]+\s*:', '')) AS sitemap_url
             |  FROM cl
             |  WHERE lower(regexp_extract(c0, '^([A-Za-z-]+)\s*:', 1)) = 'sitemap')
             |SELECT host, sitemap_url FROM sm WHERE sitemap_url <> ''
             |ORDER BY host, sitemap_url""".stripMargin)),

    Q("w11_frontier_schedule",
      (s, d) => {
        val m = mgr(s, d)
        // politeness scheduling (r17): the frontier's per-host fetch
        // plan — rank by priority (tie → url), cap at 5 per host per
        // cycle, 500 ms between same-host fetches. The full synthetic
        // URL mix rides through hostOf (84 host combos; IPv6 rows
        // quarantine), and the oracle replays the rank as a plain
        // row_number window — pinning that the bounded-heap aggregate
        // is VALUE-identical to the window it replaces.
        val frontier = m.getDDFByName("documents").df
          .select(syntheticUrl(12).as("url"),
            ((col("doc_id") * 37) % 100).cast("double").as("prio"))
        pipeline.UrlCuration.frontierSchedule(frontier, "url", "prio",
            crawlDelayMs = 500L, maxPerHost = 5)
          .orderBy("host", "slot")
      },
      Some(s"""WITH u AS (SELECT doc_id, ${duckUrlRaw(12)} AS url,
              |    ((doc_id * 37) % 100)::DOUBLE AS prio FROM documents),
              |h AS (SELECT url, prio, ${duckHostExprOf("url")} AS host FROM u),
              |h2 AS (SELECT * FROM h WHERE host IS NOT NULL AND host <> ''),
              |r AS (SELECT host, url, prio,
              |    row_number() OVER (PARTITION BY host
              |      ORDER BY prio DESC, url) AS rn
              |  FROM h2)
              |SELECT host, url, prio AS priority, (rn - 1)::BIGINT AS slot,
              |  ((rn - 1) * 500)::BIGINT AS scheduled_ms
              |FROM r WHERE rn <= 5 ORDER BY host, slot""".stripMargin)),

    Q("w12_redirect_resolve",
      (s, d) => {
        val m = mgr(s, d)
        // redirect-chain resolution (r17): the fetch log's 3xx rows
        // become edges (Location resolved against the redirecting URL —
        // k%10==1 rows use a RELATIVE `../` Location to pin RFC 9110 +
        // 3986 together), then every URL follows its chain ≤3 hops.
        // Planted regimes: k%10==3 → two-hop chain (302 → 307 → 200),
        // k%10==5 → one hop, k%10==1 → one relative hop, k%10==9 →
        // self-loop (hops = bound, terminal = false), else terminal at
        // hop 0. The oracle replays the resolution and all three join
        // rounds.
        val id = col("doc_id")
        def urlOf(k: Column) = concat(lit("https://rd-"),
          (k % 7).cast("string"), lit(".example.com/p/"), k.cast("string"))
        val log = m.getDDFByName("documents").df.filter(id < 60)
          .select(urlOf(id).as("url"),
            when(id % 10 === 1, 301).when(id % 10 === 3, 302)
              .when(id % 10 === 5, 307).when(id % 10 === 9, 308)
              .otherwise(200).as("status"),
            when(id % 10 === 1, concat(lit("../hop/"), id.cast("string")))
              .when(id % 10 === 3, urlOf(id + 2))
              .when(id % 10 === 5, urlOf(id + 2))
              .when(id % 10 === 9, urlOf(id))
              .otherwise(lit(null).cast("string")).as("location"))
        pipeline.UrlCuration.resolveRedirects(log, "url", "status",
            "location", maxHops = 3)
          .orderBy("url")
      },
      Some(s"""WITH lg AS (SELECT
              |    'https://rd-' || (doc_id % 7)::VARCHAR || '.example.com/p/' ||
              |      doc_id::VARCHAR AS url,
              |    CASE WHEN doc_id % 10 = 1 THEN 301
              |      WHEN doc_id % 10 = 3 THEN 302
              |      WHEN doc_id % 10 = 5 THEN 307
              |      WHEN doc_id % 10 = 9 THEN 308 ELSE 200 END AS status,
              |    CASE WHEN doc_id % 10 = 1 THEN '../hop/' || doc_id::VARCHAR
              |      WHEN doc_id % 10 IN (3, 5) THEN 'https://rd-' ||
              |        ((doc_id + 2) % 7)::VARCHAR || '.example.com/p/' ||
              |        (doc_id + 2)::VARCHAR
              |      WHEN doc_id % 10 = 9 THEN 'https://rd-' ||
              |        (doc_id % 7)::VARCHAR || '.example.com/p/' ||
              |        doc_id::VARCHAR END AS location
              |  FROM documents WHERE doc_id < 60),
              |e0 AS (SELECT url AS src, trim(location) AS th FROM lg
              |  WHERE status IN (301, 302, 303, 307, 308)
              |    AND location IS NOT NULL),
              |rc AS (SELECT src, ${duckResolveCase("src", "th")} AS r0 FROM e0),
              |${duckRemoveDotsCtes("rc", "r0", "rr", "dst", "wz")},
              |eg AS MATERIALIZED (SELECT src, min(dst) AS dst FROM rr
              |  WHERE dst IS NOT NULL GROUP BY src),
              |s0 AS (SELECT DISTINCT url FROM lg WHERE url IS NOT NULL),
              |s1 AS (SELECT s.url, coalesce(e.dst, s.url) AS f,
              |    CASE WHEN e.dst IS NOT NULL THEN 1 ELSE 0 END AS hops
              |  FROM s0 s LEFT JOIN eg e ON s.url = e.src),
              |s2 AS (SELECT s.url, coalesce(e.dst, s.f) AS f,
              |    CASE WHEN e.dst IS NOT NULL THEN 2 ELSE s.hops END AS hops
              |  FROM s1 s LEFT JOIN eg e ON s.f = e.src),
              |s3 AS (SELECT s.url, coalesce(e.dst, s.f) AS f,
              |    CASE WHEN e.dst IS NOT NULL THEN 3 ELSE s.hops END AS hops
              |  FROM s2 s LEFT JOIN eg e ON s.f = e.src)
              |SELECT s.url, s.f AS final_url, s.hops::BIGINT AS hops,
              |  (e.src IS NULL) AS terminal
              |FROM s3 s LEFT JOIN (SELECT DISTINCT src FROM eg) e
              |  ON s.f = e.src
              |ORDER BY s.url""".stripMargin)),

    Q("w13_revisit_schedule",
      (s, d) => {
        val m = mgr(s, d)
        // freshness scheduling (r17): 40 URLs × 10 fetches an hour
        // apart, content hash rolling over every 1-4 fetches by URL
        // regime (uid%4), uid%5==0 URLs never change (max-interval
        // clamp), plus 5 single-fetch URLs (no observations → max).
        // The oracle replays the lag window, the change count, and the
        // Cho–Garcia-Molina estimator including both clamps — ln() is
        // hash-stable cross-engine (the t10/t13 precedent).
        val id = col("doc_id")
        val hist = m.getDDFByName("documents").df.filter(id < 400)
          .select((id % 40).as("uid"), expr("doc_id div 40").as("seq"))
          .select(
            concat(lit("https://rev-"), col("uid").cast("string"),
              lit(".example.com/p")).as("url"),
            (lit(1700000000L) + col("seq") * 3600L + col("uid"))
              .cast("double").as("ts"),
            when(col("uid") % 5 === 0,
                concat(lit("h"), col("uid").cast("string"), lit("-const")))
              .otherwise(concat(lit("h"), col("uid").cast("string"), lit("-"),
                floor(col("seq") / (lit(1) + col("uid") % 4))
                  .cast("long").cast("string"))).as("hash"))
        val singles = m.getDDFByName("documents").df
          .filter(id >= 400 && id < 405)
          .select(concat(lit("https://single-"), (id - 400).cast("string"),
              lit(".example.com/")).as("url"),
            lit(1700000000.0).as("ts"), lit("hs").as("hash"))
        // ln() outputs emit as SCALED LONGS (r18 gate fix): the r17
        // round(λ,10) contract hash-failed in the driver because both
        // engines compute λ = -ln(1.0)/3600 = -0.0 for never-changed
        // URLs, and DuckDB's round() PRESERVES the -0.0 bit pattern
        // while Spark's BigDecimal round normalizes it to +0.0 — an
        // 8-row bit-level mismatch invisible to numeric compare.
        // Integers have no signed zero; margins to the nearest .5
        // rounding boundary are ≥0.0054 on λ·1e10 and ≥0.064 on
        // revisit·1e3 vs cross-engine ln noise ≤1e-9 scaled units.
        // Clamps compare the UNROUNDED λ on both sides.
        pipeline.UrlCuration.revisitSchedule(hist.unionByName(singles),
            "url", "ts", "hash", minIntervalS = 600.0,
            maxIntervalS = 2592000.0)
          .select(col("url"), col("n_fetches"), col("n_changes"),
            round(col("lambda") * 1e10).cast("long").as("lambda_e10"),
            round(col("revisit_s") * 1e3).cast("long").as("revisit_ms"))
          .orderBy("url")
      },
      Some("""WITH h0 AS (SELECT (doc_id % 40) AS uid, (doc_id // 40) AS seq
             |  FROM documents WHERE doc_id < 400),
             |h2 AS (SELECT 'https://rev-' || uid::VARCHAR || '.example.com/p'
             |      AS url,
             |    (1700000000 + seq * 3600 + uid)::DOUBLE AS ts,
             |    CASE WHEN uid % 5 = 0 THEN 'h' || uid::VARCHAR || '-const'
             |      ELSE 'h' || uid::VARCHAR || '-' ||
             |        (floor(seq / (1 + uid % 4))::BIGINT)::VARCHAR END AS hash
             |  FROM h0
             |  UNION ALL
             |  SELECT 'https://single-' || (doc_id - 400)::VARCHAR ||
             |      '.example.com/' AS url,
             |    1700000000.0 AS ts, 'hs' AS hash
             |  FROM documents WHERE doc_id >= 400 AND doc_id < 405),
             |fl AS (SELECT url, ts,
             |    CASE WHEN lag(hash) OVER (PARTITION BY url ORDER BY ts, hash)
             |        IS NOT NULL
             |      AND lag(hash) OVER (PARTITION BY url ORDER BY ts, hash)
             |        <> hash
             |      THEN 1 ELSE 0 END AS chg
             |  FROM h2),
             |ag AS (SELECT url, count(*) - 1 AS n, sum(chg)::BIGINT AS x,
             |    max(ts) - min(ts) AS span
             |  FROM fl GROUP BY url),
             |lm AS (SELECT url, (n + 1)::BIGINT AS n_fetches,
             |    x AS n_changes,
             |    CASE WHEN n > 0 AND span > 0
             |      THEN -ln((n - x + 0.5) / (n + 0.5)) / (span / n)
             |      ELSE 0.0 END AS lambda
             |  FROM ag)
             |SELECT url, n_fetches, n_changes,
             |  CAST(round(lambda * 1e10) AS BIGINT) AS lambda_e10,
             |  CAST(round((CASE WHEN lambda > 0
             |    THEN least(greatest(1.0 / lambda, 600.0), 2592000.0)
             |    ELSE 2592000.0 END) * 1e3) AS BIGINT) AS revisit_ms
             |FROM lm ORDER BY url""".stripMargin)),

    Q("w14_crawl_quota",
      (s, d) => {
        val m = mgr(s, d)
        // per-domain crawl-budget apportionment (r17): observed URL
        // mass per registered domain → Hamilton largest-remainder
        // split of 1000 fetch slots. Weights are exact longs (counts),
        // so the whole quota derivation is basic IEEE ops and the
        // oracle matches WITHOUT rounding; the remainder bump replays
        // as a row_number over (rem DESC, domain) — pinning
        // budgetSelect's sampled-cutoff greedy value-identical to the
        // window form, the ds03/q92 discipline on a second shape.
        val docs = m.getDDFByName("documents").df
          .select(syntheticUrl(5).as("url"))
        val withDom = pipeline.UrlCuration.registeredDomain(
          docs.withColumn("host", pipeline.UrlCuration.hostOf(col("url"))),
          "host", wSuffixes)
        val weights = withDom.filter(col("registered_domain").isNotNull)
          .groupBy("registered_domain").agg(count(lit(1)).as("n_urls"))
        Views.apportionBudget(weights, "registered_domain", "n_urls", 1000L)
          .select(col("key").as("registered_domain"),
            col("weight").as("n_urls"), col("quota"))
          .orderBy("registered_domain")
      },
      Some(s"""WITH u AS (SELECT doc_id, ${duckUrlRaw(5)} AS url
              |  FROM documents),
              |h AS (SELECT doc_id, $duckHostExpr AS host FROM u),
              |$duckRegDomainCtes,
              |g AS (SELECT registered_domain, count(*)::BIGINT AS w FROM d3
              |  WHERE registered_domain IS NOT NULL GROUP BY 1),
              |tw AS (SELECT sum(w)::BIGINT AS tw FROM g),
              |q AS (SELECT registered_domain, w,
              |    (w::DOUBLE * 1000) / (tw.tw::DOUBLE) AS ex FROM g, tw),
              |q2 AS (SELECT *, floor(ex)::BIGINT AS fl,
              |    ex - floor(ex) AS rem FROM q),
              |fs AS (SELECT sum(fl)::BIGINT AS fsum FROM q2),
              |rk AS (SELECT registered_domain,
              |    row_number() OVER (ORDER BY rem DESC, registered_domain)
              |      AS rn FROM q2)
              |SELECT q2.registered_domain, q2.w AS n_urls,
              |  (q2.fl + CASE WHEN rk.rn <= (1000 - fs.fsum) THEN 1
              |    ELSE 0 END)::BIGINT AS quota
              |FROM q2 JOIN rk USING (registered_domain), fs
              |ORDER BY registered_domain""".stripMargin)),

    Q("w15_politeness_build",
      (s, d) => {
        val m = mgr(s, d)
        // the politeness loop closed (r17): raw robots bodies →
        // group-selected Crawl-delay per host → frontier scheduling
        // spaced by each host's OWN budget. Twelve hosts exercise the
        // three selection regimes (exact group delay 2, two-UA prefix
        // group 1.5, star fallback 7 — other-bot's 99 must never win);
        // k%3==2 star groups carry a junk 'Crawl-delay: fast' that
        // must drop without killing the parse (try_cast); hosts
        // outside the robots corpus ride defaultDelayMs.
        val id = col("doc_id")
        val body = concat(
          lit("User-agent: other-bot\r\nCrawl-delay: 99\r\nDisallow: /\r\n\r\n"),
          when(id % 3 === 0, lit("User-agent: graftbot-img\n" +
            "Crawl-delay: 2\nDisallow: /Articles/\n")).otherwise(lit("")),
          when(id % 3 === 1, lit("User-agent: graftbot\nUser-agent: extra-bot\n" +
            "Crawl-delay: 1.5\nDisallow: *gclid*\n")).otherwise(lit("")),
          lit("User-agent: *\n"),
          when(id % 3 === 2, lit("Crawl-delay: fast\n")).otherwise(lit("")),
          lit("Crawl-delay: 7\nDisallow: /$\n"))
        val bodies = m.getDDFByName("documents").df.filter(id < 12)
          .select(concat(lit("site-"), id.cast("string"),
            lit(".example.com")).as("host"), body.as("body"))
        val delays = pipeline.UrlCuration.robotsCrawlDelays(
          bodies, "host", "body", agent = "graftbot-img")
        val frontier = m.getDDFByName("documents").df
          .select(syntheticUrl(12).as("url"),
            ((col("doc_id") * 37) % 100).cast("double").as("prio"))
        pipeline.UrlCuration.frontierSchedule(frontier, "url", "prio",
            delays, defaultDelayMs = 500L, maxPerHost = 4)
          .orderBy("host", "slot")
      },
      Some(s"""WITH bodies AS (SELECT 'site-' || doc_id::VARCHAR ||
              |      '.example.com' AS host,
              |    'User-agent: other-bot' || chr(13) || chr(10) ||
              |    'Crawl-delay: 99' || chr(13) || chr(10) ||
              |    'Disallow: /' || chr(13) || chr(10) || chr(13) || chr(10) ||
              |    CASE WHEN doc_id % 3 = 0 THEN 'User-agent: graftbot-img' ||
              |      chr(10) || 'Crawl-delay: 2' || chr(10) ||
              |      'Disallow: /Articles/' || chr(10) ELSE '' END ||
              |    CASE WHEN doc_id % 3 = 1 THEN 'User-agent: graftbot' ||
              |      chr(10) || 'User-agent: extra-bot' || chr(10) ||
              |      'Crawl-delay: 1.5' || chr(10) ||
              |      'Disallow: *gclid*' || chr(10) ELSE '' END ||
              |    'User-agent: *' || chr(10) ||
              |    CASE WHEN doc_id % 3 = 2 THEN 'Crawl-delay: fast' || chr(10)
              |      ELSE '' END ||
              |    'Crawl-delay: 7' || chr(10) || 'Disallow: /$$' || chr(10)
              |      AS body
              |  FROM documents WHERE doc_id < 12),
              |ln AS (SELECT host,
              |    unnest(generate_series(1, len(string_split_regex(body, '\\r?\\n'))))
              |      AS pos,
              |    unnest(string_split_regex(body, '\\r?\\n')) AS line
              |  FROM bodies),
              |kv AS (SELECT host, pos,
              |    lower(regexp_extract(trim(regexp_replace(line, '#.*', '')),
              |      '^([A-Za-z-]+)\\s*:', 1)) AS k,
              |    trim(regexp_replace(trim(regexp_replace(line, '#.*', '')),
              |      '^[A-Za-z-]+\\s*:', '')) AS v
              |  FROM ln),
              |st AS (SELECT *, (k = 'user-agent') AS isua FROM kv),
              |gs AS (SELECT *, CASE WHEN isua AND NOT coalesce(
              |      lag(isua) OVER (PARTITION BY host ORDER BY pos), false)
              |    THEN 1 ELSE 0 END AS gst FROM st),
              |gg AS (SELECT *, sum(gst) OVER (PARTITION BY host ORDER BY pos)
              |    AS gid FROM gs),
              |g1 AS (SELECT * FROM gg WHERE gid > 0),
              |spec AS (SELECT host, gid, max(CASE WHEN v = '*' THEN 0
              |      WHEN starts_with('graftbot-img', lower(v)) THEN length(v)
              |      ELSE -2147483648 END) AS sp
              |  FROM g1 WHERE isua GROUP BY host, gid),
              |spec2 AS (SELECT * FROM spec WHERE sp > -2147483648),
              |best AS (SELECT host, max(sp) AS bs FROM spec2 GROUP BY host),
              |sel AS (SELECT s2.host, s2.gid FROM spec2 s2
              |  JOIN best ON s2.host = best.host AND s2.sp = best.bs),
              |dl AS (SELECT g1.host, min(TRY_CAST(g1.v AS DOUBLE)) AS ds
              |  FROM g1 JOIN sel ON g1.host = sel.host AND g1.gid = sel.gid
              |  WHERE g1.k = 'crawl-delay'
              |    AND TRY_CAST(g1.v AS DOUBLE) IS NOT NULL
              |    AND TRY_CAST(g1.v AS DOUBLE) >= 0
              |  GROUP BY g1.host),
              |u AS (SELECT doc_id, ${duckUrlRaw(12)} AS url,
              |    ((doc_id * 37) % 100)::DOUBLE AS prio FROM documents),
              |h AS (SELECT url, prio, ${duckHostExprOf("url")} AS host FROM u),
              |h2 AS (SELECT * FROM h WHERE host IS NOT NULL AND host <> ''),
              |r AS (SELECT host, url, prio,
              |    row_number() OVER (PARTITION BY host
              |      ORDER BY prio DESC, url) AS rn
              |  FROM h2)
              |SELECT r.host, r.url, r.prio AS priority,
              |  (r.rn - 1)::BIGINT AS slot,
              |  ((r.rn - 1) * coalesce(floor(dl.ds * 1000)::BIGINT, 500))
              |    AS scheduled_ms
              |FROM r LEFT JOIN dl ON r.host = dl.host
              |WHERE r.rn <= 4 ORDER BY r.host, slot""".stripMargin)),

    Q("w08_domain_authority",
      (s, d) => {
        val m = mgr(s, d)
        // the web-graph capstone (r16): raw HTML → outlink extraction →
        // registered-domain edges → 5 rounds of integer PageRank (g01's
        // deterministic fixed-point kernel). Each doc links the pages of
        // docs (7k+3)%391 and (13k+5)%391, so the domain graph is a
        // deterministic cross-domain mesh; IPv6 rows quarantine out of
        // BOTH endpoints via hostOf. The domain map is derived ONCE over
        // the distinct hosts (config-sized) and broadcast back onto both
        // edge endpoints — the corpus never pays the suffix probes
        // per-link.
        val docs = m.getDDFByName("documents").df
          .select(col("doc_id"), syntheticUrl(12).as("src_url"),
            concat(lit("<html><body><a href=\""),
              syntheticUrlOf((col("doc_id") * 7 + 3) % 391, 12),
              lit("\">x</a><a href=\""),
              syntheticUrlOf((col("doc_id") * 13 + 5) % 391, 12),
              lit("\">y</a></body></html>")).as("html"))
        val links = pipeline.HtmlExtract.linkExtract(docs, "html", "src_url")
          .filter(col("resolved").isNotNull)
          .select(pipeline.UrlCuration.hostOf(col("src_url")).as("src_host"),
            pipeline.UrlCuration.hostOf(col("resolved")).as("dst_host"))
          .filter(col("src_host").isNotNull && col("dst_host").isNotNull)
        val hosts = links.select(col("src_host").as("host"))
          .union(links.select(col("dst_host").as("host"))).distinct()
        val dom = pipeline.UrlCuration.registeredDomain(hosts, "host", wSuffixes)
          .filter(col("registered_domain").isNotNull)
          .select("host", "registered_domain")
        val edges = links
          .join(broadcast(dom.select(col("host").as("src_host"),
            col("registered_domain").as("src"))), Seq("src_host"))
          .join(broadcast(dom.select(col("host").as("dst_host"),
            col("registered_domain").as("dst"))), Seq("dst_host"))
          .select("src", "dst")
        operators.Graph.pageRank(edges, "src", "dst", iterations = 5)
          .orderBy(col("pr").desc, col("node"))
      },
      Some {
        val base = s"""WITH u AS (SELECT doc_id,
          |    ${duckUrlRawOf("doc_id", 12)} AS src_url,
          |    '<html><body><a href="' ||
          |    (${duckUrlRawOf("((doc_id * 7 + 3) % 391)", 12)}) ||
          |    '">x</a><a href="' ||
          |    (${duckUrlRawOf("((doc_id * 13 + 5) % 391)", 12)}) ||
          |    '">y</a></body></html>' AS html
          |  FROM documents),
          |$duckLinkCtes,
          |lh AS (SELECT ${duckHostExprOf("src_url")} AS src_host,
          |    ${duckHostExprOf("resolved")} AS dst_host
          |  FROM r WHERE resolved IS NOT NULL),
          |lh2 AS (SELECT * FROM lh
          |  WHERE src_host IS NOT NULL AND dst_host IS NOT NULL),
          |hosts AS (SELECT DISTINCT src_host AS host FROM lh2
          |          UNION SELECT DISTINCT dst_host FROM lh2),
          |${duckRegDomainCtesFrom("hosts")},
          |dm AS (SELECT host, registered_domain FROM d3
          |  WHERE registered_domain IS NOT NULL),
          |edges AS MATERIALIZED (SELECT DISTINCT a.registered_domain AS src,
          |    b.registered_domain AS dst
          |  FROM lh2 l JOIN dm a ON l.src_host = a.host
          |  JOIN dm b ON l.dst_host = b.host),
          |deg AS MATERIALIZED (SELECT src, count(*)::BIGINT AS outdeg
          |  FROM edges GROUP BY src),
          |nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM edges
          |          UNION SELECT DISTINCT dst FROM edges),
          |pr0 AS MATERIALIZED (SELECT node, 1000000::BIGINT AS pr FROM nodes)""".stripMargin
        // pr_k is referenced by BOTH c_k and pr_{k+1}: without AS
        // MATERIALIZED DuckDB re-inlines the whole upstream regex
        // pipeline 2^iterations times — measured 55 s / OOM-under-
        // pressure at sf0.001 vs instant materialized
        val iters = (0 until 5).map { k =>
          s"""c$k AS MATERIALIZED (
             |  SELECT e.dst AS node, sum(p.pr // d.outdeg)::BIGINT AS contrib
             |  FROM edges e JOIN pr$k p ON e.src = p.node JOIN deg d ON e.src = d.src
             |  GROUP BY e.dst),
             |pr${k + 1} AS MATERIALIZED (
             |  SELECT n.node,
             |    (150000 + (85 * coalesce(c.contrib, 0)) // 100)::BIGINT AS pr
             |  FROM nodes n LEFT JOIN c$k c ON n.node = c.node)""".stripMargin
        }
        s"${(base +: iters).mkString(",\n")}\n" +
          "SELECT node, pr FROM pr5 ORDER BY pr DESC, node"
      })
  )
}
