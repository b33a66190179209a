package graft

import graft.operators.TextAnalysis
import org.apache.spark.sql.functions._

/** Text-pipeline queries over `documents`: text analysis (quality, lang-id,
  * fingerprint, language models) and line/URL/boilerplate cleanup.
  */
object QueriesText {

  private val wordsSql = "string_split_regex(lower(trim(text)), '\\s+')"

  /** Shared by `text_perplexity` (single LM join) and
    * `text_perplexity_tiered` (head-broadcast + tail join) — one oracle,
    * two topologies, identical results. */
  private val perplexityOracle: String =
    s"""WITH tok AS (SELECT doc_id AS id, unnest($wordsSql) AS w FROM documents),
       |lm AS (SELECT w, count(*) AS c FROM tok GROUP BY w),
       |n AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM lm),
       |s AS (SELECT w, CAST(round(ln(n / c), 6) AS DECIMAL(18,6)) AS surp FROM lm, n),
       |d AS (SELECT id, count(*) AS n_tokens, sum(surp) AS ssum
       |      FROM tok JOIN s USING (w) GROUP BY id)
       |SELECT id AS doc_id, n_tokens,
       |       round(CAST(ssum AS DOUBLE) / n_tokens, 6) AS mean_surprisal
       |FROM d ORDER BY doc_id""".stripMargin

  def queries: Map[String, Q] = Map(

    // C4-style cross-document line dedup: duplicated lines keep only their
    // first occurrence; per-doc census of total/kept/duplicated lines. The
    // arg-min keeper is a single int64 aggregate — skew-proof for
    // boilerplate lines repeated millions of times.
    "text_line_dedup" -> Q(
      fn = (s, dir) =>
        TextAnalysis.lineDedupStats(Tables.documents(s, dir), "doc_id", "text", 4)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id")),
      oracle = Some(
        s"""WITH d AS (SELECT doc_id AS id, $wordsSql AS ws FROM documents),
           |l0 AS (SELECT id, unnest(list_transform(
           |    generate_series(0, CAST(floor((len(ws) + 3) / 4) AS INT) - 1),
           |    i -> struct_pack(line_no := i, line := array_to_string(ws[i*4+1 : i*4+4], ' ')))) AS u
           |  FROM d),
           |l AS (SELECT id, CAST(u.line_no AS BIGINT) AS line_no, u.line AS line FROM l0),
           |w AS (SELECT line, min(id * 4294967296 + line_no) AS keep_key, count(*) AS occ
           |      FROM l GROUP BY line)
           |SELECT id AS doc_id, count(*) AS n_lines,
           |       CAST(sum(CASE WHEN id * 4294967296 + line_no = keep_key THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           |       CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_in_dup_group
           |FROM l JOIN w USING (line)
           |GROUP BY id ORDER BY doc_id""".stripMargin),
      doc = "C4-style cross-doc line dedup census (first occurrence wins)"),

    // Exact heavy-hitter tokens (share >= 1/1000): Misra-Gries candidate
    // pass + exact verification — the oracle is the full groupBy+HAVING,
    // so the hash-match proves the two-pass pruning loses nothing and
    // invents nothing (the MG superset guarantee, exercised for real).
    "text_heavy_hitters" -> Q(
      fn = (s, dir) => {
        val tok = Tables.documents(s, dir)
          .select(explode(TextAnalysis.words(col("text"))).as("item"))
        TextAnalysis.heavyHitters(tok, "item", 1000)
          .orderBy(col("cnt").desc, col("item"))
      },
      oracle = Some(
        s"""WITH tok AS (SELECT unnest($wordsSql) AS item FROM documents),
           |n AS (SELECT count(*) AS n FROM tok)
           |SELECT item, count(*) AS cnt FROM tok, n
           |GROUP BY item, n.n HAVING count(*) * 1000 >= n.n
           |ORDER BY cnt DESC, item""".stripMargin),
      doc = "exact heavy hitters via Misra-Gries candidates + exact verify (no full-vocab shuffle)"),

    // The web-corpus capstone: the three cleanup stages a crawl pipeline
    // runs BEFORE content dedup, composed end-to-end — URL-canonical dedup
    // (first occurrence per resource wins), within-host boilerplate
    // removal on the survivors, then a token-count quality gate on the
    // CLEANED text. Per-host census of the funnel. Each stage is graded
    // green in isolation (url_canonical_dedup, text_boilerplate_removal);
    // this row certifies their composition.
    "pipeline_web_corpus" -> Q(
      fn = (s, dir) => {
        val id = col("doc_id")
        val hostS = (id % 25).cast("string")
        val raw = concat(
          when(id % 3 === 0, "http://").otherwise("https://"),
          when(id % 2 === 0, "WWW.").otherwise(""),
          lit("h"), hostS, lit(".com"),
          when(id % 4 === 0, ":443").otherwise(""),
          lit("/a/"), (id % 100).cast("string"),
          when(id % 5 === 0, "/").otherwise(""),
          when(id % 2 === 0, "?b=2&a=1&utm_source=feed").otherwise("?a=1&b=2"))
        val base = Tables.documents(s, dir).select(id,
            concat(lit("h"), hostS).as("host"), raw.as("raw_url"),
            concat(lit("cookie notice for h"), hostS,
              lit(" click accept to continue "), col("text")).as("text"))
          .withColumn("canonical_url",
            graft.functions.PathFns.canonicalizeUrl(col("raw_url")))
        graft.operators.CacheOnce.pin(base)
        base.count() // both the winner relation and the probe read it
        val winners = base.groupBy(col("canonical_url"))
          .agg(min(col("doc_id")).as("doc_id"))
        val surv = base.join(winners.select(col("doc_id")), Seq("doc_id"), "left_semi")
        graft.operators.CacheOnce.pin(surv)
        val cleaned = TextAnalysis.boilerplateRemoval(surv, "doc_id", "host", "text", 4, 3)
          .withColumnRenamed("id", "doc_id")
        val gated = cleaned
          .withColumn("toks", when(col("kept_text") === "", lit(0L))
            .otherwise(size(TextAnalysis.words(col("kept_text"))).cast("long")))
          .filter(col("toks") >= 80)
          .join(surv.select(col("doc_id"), col("host")), Seq("doc_id"))
        val c1 = base.groupBy(col("host")).agg(count(lit(1)).as("n_candidates"))
        val c2 = surv.groupBy(col("host")).agg(count(lit(1)).as("n_after_url"))
        val c3 = gated.groupBy(col("host"))
          .agg(count(lit(1)).as("n_kept"), sum(col("toks")).as("tokens_kept"))
        c1.join(c2, Seq("host"), "left").join(c3, Seq("host"), "left")
          .select(col("host"), col("n_candidates"),
            coalesce(col("n_after_url"), lit(0L)).as("n_after_url"),
            coalesce(col("n_kept"), lit(0L)).as("n_kept"),
            coalesce(col("tokens_kept"), lit(0L)).as("tokens_kept"))
          .orderBy(col("host"))
      },
      oracle = Some(
        s"""WITH r AS (SELECT doc_id, 'h' || (doc_id % 25) AS host,
           |    (CASE WHEN doc_id % 3 = 0 THEN 'http://' ELSE 'https://' END)
           |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
           |    || 'h' || (doc_id % 25) || '.com'
           |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
           |    || '/a/' || (doc_id % 100)
           |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
           |    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=feed' ELSE '?a=1&b=2' END) AS raw_url,
           |    concat('cookie notice for h', (doc_id % 25),
           |           ' click accept to continue ', text) AS text
           |  FROM documents),
           |s2 AS (SELECT *, regexp_extract(raw_url, '^([^?]*)', 1) AS base,
           |         regexp_extract(raw_url, '\\?(.*)$$', 1) AS q FROM r),
           |s3 AS (SELECT *, lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1))
           |         || regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$$', 1) AS la FROM s2),
           |s4 AS (SELECT *, regexp_replace(regexp_replace(la, '^(https?://)www\\.', '\\1'),
           |                                ':(80|443)(/|$$)', '\\2') AS np FROM s3),
           |s5 AS (SELECT *, CASE WHEN regexp_matches(np, '^https?://[^/]*$$') THEN np
           |              ELSE regexp_replace(np, '/+$$', '') END AS ns FROM s4),
           |s6 AS (SELECT *, array_to_string(list_sort(list_filter(string_split(q, '&'),
           |         p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') AND p != '')), '&') AS qc
           |       FROM s5),
           |c AS (SELECT doc_id, host, text,
           |        CASE WHEN qc = '' THEN ns ELSE ns || '?' || qc END AS canonical_url FROM s6),
           |wnr AS (SELECT min(doc_id) AS doc_id FROM c GROUP BY canonical_url),
           |surv AS (SELECT c.* FROM c JOIN wnr USING (doc_id)),
           |wl AS (SELECT doc_id, host, $wordsSql AS ws FROM surv),
           |l0 AS (SELECT doc_id, host, unnest(list_transform(
           |    generate_series(0, CAST(floor((len(ws) + 3) / 4) AS INT) - 1),
           |    i -> struct_pack(line_no := i, line := array_to_string(ws[i*4+1 : i*4+4], ' ')))) AS u
           |  FROM wl),
           |l AS (SELECT doc_id, host, CAST(u.line_no AS BIGINT) AS line_no, u.line AS line FROM l0),
           |b AS (SELECT host, line FROM (SELECT host, line, count(DISTINCT doc_id) AS docs
           |                              FROM l GROUP BY host, line) WHERE docs >= 3),
           |m AS (SELECT l.doc_id, l.line_no, l.line, b.line IS NOT NULL AS is_boiler
           |      FROM l LEFT JOIN b ON l.host = b.host AND l.line = b.line),
           |k AS (SELECT doc_id, coalesce(array_to_string(
           |        list(line ORDER BY line_no) FILTER (WHERE NOT is_boiler), ' '), '') AS kept_text
           |      FROM m GROUP BY doc_id),
           |g AS (SELECT doc_id, CASE WHEN kept_text = '' THEN 0
           |        ELSE len(string_split_regex(lower(trim(kept_text)), '\\s+')) END AS toks FROM k),
           |g2 AS (SELECT surv.host, g.toks FROM g JOIN surv USING (doc_id) WHERE g.toks >= 80),
           |cen1 AS (SELECT host, count(*) AS n_candidates FROM r GROUP BY host),
           |cen2 AS (SELECT host, count(*) AS n_after_url FROM surv GROUP BY host),
           |cen3 AS (SELECT host, count(*) AS n_kept, CAST(sum(toks) AS BIGINT) AS tokens_kept
           |         FROM g2 GROUP BY host)
           |SELECT cen1.host, cen1.n_candidates,
           |       coalesce(cen2.n_after_url, 0) AS n_after_url,
           |       coalesce(cen3.n_kept, 0) AS n_kept,
           |       coalesce(cen3.tokens_kept, 0) AS tokens_kept
           |FROM cen1 LEFT JOIN cen2 USING (host) LEFT JOIN cen3 USING (host)
           |ORDER BY host""".stripMargin),
      doc = "web-corpus funnel: URL dedup -> boilerplate removal -> quality gate, per-host census"),

    // URL-level dedup (C4's first dedup pass happens on URLs, before any
    // content work): deterministic messy URLs — case-shuffled schemes,
    // www., default ports, trailing slashes, shuffled + tracking query
    // params, fragments — must collapse to one canonical identity per
    // resource. Hash-checking the canonical strings certifies every
    // normalization step byte-for-byte.
    "url_canonical_dedup" -> Q(
      fn = (s, dir) => {
        val id = col("doc_id")
        val raw = concat(
          when(id % 3 === 0, "http://").when(id % 3 === 1, "HTTPS://").otherwise("https://"),
          when(id % 2 === 0, "WWW.").otherwise(""),
          lit("ex"), (id % 50).cast("string"), lit(".com"),
          when(id % 4 === 0, ":443").otherwise(""),
          lit("/a/"), (id % 100).cast("string"),
          when(id % 5 === 0, "/").otherwise(""),
          when(id % 2 === 0, "?b=2&a=1&utm_source=feed").otherwise("?a=1&b=2"),
          when(id % 7 === 0, "#frag").otherwise(""))
        Tables.documents(s, dir)
          .select(id, raw.as("raw_url"),
            graft.functions.PathFns.canonicalizeUrl(raw).as("canonical_url"))
          .groupBy(col("canonical_url"))
          .agg(count(lit(1)).as("n_requests"),
            countDistinct(col("raw_url")).as("n_variants"),
            min(id).as("first_doc"))
          .orderBy(col("canonical_url"))
      },
      oracle = Some(
        """WITH r AS (SELECT doc_id,
          |    (CASE WHEN doc_id % 3 = 0 THEN 'http://' WHEN doc_id % 3 = 1 THEN 'HTTPS://' ELSE 'https://' END)
          |    || (CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END)
          |    || 'ex' || (doc_id % 50) || '.com'
          |    || (CASE WHEN doc_id % 4 = 0 THEN ':443' ELSE '' END)
          |    || '/a/' || (doc_id % 100)
          |    || (CASE WHEN doc_id % 5 = 0 THEN '/' ELSE '' END)
          |    || (CASE WHEN doc_id % 2 = 0 THEN '?b=2&a=1&utm_source=feed' ELSE '?a=1&b=2' END)
          |    || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS raw_url
          |  FROM documents),
          |s1 AS (SELECT doc_id, raw_url, regexp_replace(raw_url, '#.*$', '') AS nf FROM r),
          |s2 AS (SELECT doc_id, raw_url,
          |         regexp_extract(nf, '^([^?]*)', 1) AS base,
          |         regexp_extract(nf, '\?(.*)$', 1) AS q FROM s1),
          |s3 AS (SELECT doc_id, raw_url, q,
          |         lower(regexp_extract(base, '^([A-Za-z][A-Za-z0-9+.-]*://[^/]*)', 1))
          |           || regexp_extract(base, '^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(.*)$', 1) AS la
          |       FROM s2),
          |s4 AS (SELECT doc_id, raw_url, q,
          |         regexp_replace(regexp_replace(la, '^(https?://)www\.', '\1'),
          |                        ':(80|443)(/|$)', '\2') AS np FROM s3),
          |s5 AS (SELECT doc_id, raw_url, q,
          |         CASE WHEN regexp_matches(np, '^https?://[^/]*$') THEN np
          |              ELSE regexp_replace(np, '/+$', '') END AS ns FROM s4),
          |s6 AS (SELECT doc_id, raw_url, ns,
          |         array_to_string(list_sort(list_filter(string_split(q, '&'),
          |           p -> NOT regexp_matches(p, '^(utm_[^=]*|fbclid|gclid)=') AND p != '')), '&') AS qc
          |       FROM s5),
          |c AS (SELECT doc_id, raw_url,
          |        CASE WHEN qc = '' THEN ns ELSE ns || '?' || qc END AS canonical_url FROM s6)
          |SELECT canonical_url, count(*) AS n_requests,
          |       count(DISTINCT raw_url) AS n_variants, min(doc_id) AS first_doc
          |FROM c GROUP BY canonical_url ORDER BY canonical_url""".stripMargin),
      doc = "URL canonicalization + URL-level dedup (scheme/www/port/slash/param-order/tracking/fragment)"),

    // Winnowing fingerprints (MOSS): per-doc selected-min gram hashes with
    // the w+k-1 shared-run guarantee. The oracle recomputes the SAME
    // md5-60-bit hashes and the same window minima in DuckDB list ops —
    // hash-matching the full fingerprint arrays certifies the selection
    // (order by hash VALUE, the part a non-portable hash would break).
    "text_winnowing" -> Q(
      // graded surface carries the fingerprint set as a CSV string, not a
      // LIST column — the driver's checker sorts graded columns through
      // pandas, which cannot hash numpy arrays (r6 err); the string form
      // hash-certifies the same selected set byte-for-byte
      fn = (s, dir) =>
        TextAnalysis.winnowingFingerprints(Tables.documents(s, dir), "doc_id", "text", 4, 5)
          .withColumn("fingerprints", array_join(col("fingerprints"), ","))
          .orderBy(col("doc_id")),
      oracle = Some(
        s"""WITH d AS (SELECT doc_id, $wordsSql AS ws FROM documents),
           |g AS (SELECT doc_id, list_transform(
           |    generate_series(1, greatest(len(ws) - 3, 1)),
           |    i -> CAST('0x' || substr(md5(array_to_string(ws[i:i+3], ' ')), 1, 15) AS BIGINT)) AS gh
           |  FROM d)
           |SELECT doc_id, CAST(len(gh) AS BIGINT) AS n_grams,
           |  CAST(len(list_sort(list_distinct(list_transform(
           |    generate_series(1, greatest(len(gh) - 4, 1)),
           |    j -> list_min(gh[j:j+4]))))) AS BIGINT) AS n_fingerprints,
           |  array_to_string(list_sort(list_distinct(list_transform(
           |    generate_series(1, greatest(len(gh) - 4, 1)),
           |    j -> list_min(gh[j:j+4])))), ',') AS fingerprints
           |FROM g ORDER BY doc_id""".stripMargin),
      doc = "winnowing fingerprints (MOSS): min-hash-per-window selection, density 2/(w+1)"),

    // Within-host boilerplate removal (WET/CCNet chrome cleanup — distinct
    // from text_line_dedup's global first-occurrence rule: boilerplate has
    // NO survivor). Each host's spliced cookie-banner header (2 aligned
    // 4-word lines, host token inside so it never crosses hosts) must
    // vanish from every one of its docs; content lines survive untouched.
    // Hash-checking the rebuilt text certifies the df threshold, the
    // within-host scoping, and line-order reconstruction.
    "text_boilerplate_removal" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"),
          concat(lit("h"), (col("doc_id") % 25).cast("string")).as("host"),
          concat(lit("cookie notice for h"), (col("doc_id") % 25).cast("string"),
            lit(" click accept to continue "), col("text")).as("text"))
        TextAnalysis.boilerplateRemoval(d, "doc_id", "host", "text", 4, minDocs = 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        s"""WITH d AS (SELECT doc_id, 'h' || (doc_id % 25) AS host,
           |             concat('cookie notice for h', (doc_id % 25),
           |                    ' click accept to continue ', text) AS text
           |           FROM documents),
           |w AS (SELECT doc_id, host, $wordsSql AS ws FROM d),
           |l0 AS (SELECT doc_id, host, unnest(list_transform(
           |    generate_series(0, CAST(floor((len(ws) + 3) / 4) AS INT) - 1),
           |    i -> struct_pack(line_no := i, line := array_to_string(ws[i*4+1 : i*4+4], ' ')))) AS u
           |  FROM w),
           |l AS (SELECT doc_id, host, CAST(u.line_no AS BIGINT) AS line_no, u.line AS line FROM l0),
           |b AS (SELECT host, line FROM (SELECT host, line, count(DISTINCT doc_id) AS docs
           |                              FROM l GROUP BY host, line) WHERE docs >= 3),
           |m AS (SELECT l.doc_id, l.line_no, l.line, b.line IS NOT NULL AS is_boiler
           |      FROM l LEFT JOIN b ON l.host = b.host AND l.line = b.line)
           |SELECT doc_id, count(*) AS n_lines,
           |  CAST(sum(CASE WHEN is_boiler THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler_lines,
           |  coalesce(array_to_string(list(line ORDER BY line_no) FILTER (WHERE NOT is_boiler), ' '), '')
           |    AS kept_text
           |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "within-host boilerplate removal (chrome lines on >= minDocs docs of a host)"),

    // Quality metrics.
    "text_quality" -> Q(
      fn = (s, dir) =>
        TextAnalysis.qualityMetrics(Tables.documents(s, dir), "doc_id", "text")
          .orderBy(col("doc_id")),
      oracle = Some(
        s"""SELECT doc_id,
           |  CAST(len($wordsSql) AS INT) AS n_words,
           |  round(CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE)
           |        / len($wordsSql), 6) AS mean_word_len,
           |  round(CAST(length(text) - length(regexp_replace(text, '[.,;:!?]', '', 'g')) AS DOUBLE)
           |        / length(text), 6) AS punct_ratio,
           |  round(CAST(len(list_filter($wordsSql,
           |        w -> w IN ('the','a','and','of','to','in','is','for','on','with'))) AS DOUBLE)
           |        / len($wordsSql), 6) AS stopword_ratio
           |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "quality scoring (length/punct/stopword ratios)"),

    // Language-ID heuristic, aggregated.
    "text_lang_id" -> Q(
      fn = (s, dir) => Tables.documents(s, dir)
        .select(TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_pred")).agg(count(lit(1)).as("n"))
        .orderBy(col("lang_pred")),
      oracle = Some(
        s"""WITH scored AS (SELECT
           |  len(list_filter($wordsSql, w -> w IN ('the','a','and','of','to','in','is'))) AS s_en,
           |  len(list_filter($wordsSql, w -> w IN ('el','la','de','que','y','en','los'))) AS s_es,
           |  len(list_filter($wordsSql, w -> w IN ('der','die','und','das','von','ist','ein'))) AS s_de,
           |  len(list_filter($wordsSql, w -> w IN ('le','la','et','les','des','est','une'))) AS s_fr
           |  FROM documents),
           |pred AS (SELECT CASE
           |  WHEN s_fr > greatest(s_de, s_es, s_en, 0) THEN 'fr'
           |  WHEN s_de > greatest(s_es, s_en, 0) THEN 'de'
           |  WHEN s_es > greatest(s_en, 0) THEN 'es'
           |  WHEN s_en > 0 THEN 'en'
           |  ELSE 'und' END AS lang_pred FROM scored)
           |SELECT lang_pred, count(*) AS n FROM pred
           |GROUP BY lang_pred ORDER BY lang_pred""".stripMargin),
      doc = "language-ID stopword heuristic"),

    // Language-ID EVAL against the corpus's ground-truth `lang` column: the
    // full confusion matrix plus per-cell hit flag — the audit that turns
    // "we have a lang-ID heuristic" into a measured precision/recall story
    // (and exposes that the stopword heuristic cannot see zh/ja at all —
    // those rows land in 'und'). One row-local prediction + one combinable
    // census; evals must not cost more than the op they grade.
    "text_langid_confusion" -> Q(
      fn = (s, dir) => Tables.documents(s, dir)
        .select(col("lang").as("lang_true"),
          TextAnalysis.langId(col("text")).as("lang_pred"))
        .groupBy(col("lang_true"), col("lang_pred"))
        .agg(count(lit(1)).as("n"),
          max(when(col("lang_true") === col("lang_pred"), 1L).otherwise(0L)).as("is_hit"))
        .orderBy(col("lang_true"), col("lang_pred")),
      oracle = Some(
        s"""WITH scored AS (SELECT lang,
           |  len(list_filter($wordsSql, w -> w IN ('the','a','and','of','to','in','is'))) AS s_en,
           |  len(list_filter($wordsSql, w -> w IN ('el','la','de','que','y','en','los'))) AS s_es,
           |  len(list_filter($wordsSql, w -> w IN ('der','die','und','das','von','ist','ein'))) AS s_de,
           |  len(list_filter($wordsSql, w -> w IN ('le','la','et','les','des','est','une'))) AS s_fr
           |  FROM documents),
           |pred AS (SELECT lang AS lang_true, CASE
           |  WHEN s_fr > greatest(s_de, s_es, s_en, 0) THEN 'fr'
           |  WHEN s_de > greatest(s_es, s_en, 0) THEN 'de'
           |  WHEN s_es > greatest(s_en, 0) THEN 'es'
           |  WHEN s_en > 0 THEN 'en'
           |  ELSE 'und' END AS lang_pred FROM scored)
           |SELECT lang_true, lang_pred, count(*) AS n,
           |  CAST(max(CASE WHEN lang_true = lang_pred THEN 1 ELSE 0 END) AS BIGINT) AS is_hit
           |FROM pred GROUP BY lang_true, lang_pred
           |ORDER BY lang_true, lang_pred""".stripMargin),
      doc = "language-ID confusion matrix vs ground truth (eval census)"),

    // Gopher-style repetition signals: row-local sorted-run multiplicities,
    // oracle via explode+group (the oracle may shuffle; the operator may not).
    // Fractions are single int/int IEEE divisions — bit-identical engines.
    "text_repetition" -> Q(
      fn = (s, dir) =>
        TextAnalysis.repetitionSignals(Tables.documents(s, dir), "doc_id", "text")
          .orderBy(col("doc_id")),
      oracle = Some(
        s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
           |wr AS (SELECT doc_id, unnest(w) AS word FROM d),
           |wc AS (SELECT doc_id, word, count(*) AS c FROM wr GROUP BY 1, 2),
           |ws AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_words,
           |              count(*) AS n_distinct_words, max(c) AS top_word_count
           |       FROM wc GROUP BY 1),
           |br AS (SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
           |              i -> array_to_string(w[i:i+1], ' '))) AS gram
           |       FROM d WHERE len(w) >= 2),
           |bc AS (SELECT doc_id, gram, count(*) AS c FROM br GROUP BY 1, 2),
           |bs AS (SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_bigrams,
           |              count(*) AS n_distinct_bigrams, max(c) AS top_bigram_count
           |       FROM bc GROUP BY 1)
           |SELECT ws.doc_id, n_words, n_distinct_words, top_word_count,
           |       coalesce(n_bigrams, 0) AS n_bigrams,
           |       coalesce(n_distinct_bigrams, 0) AS n_distinct_bigrams,
           |       coalesce(top_bigram_count, 0) AS top_bigram_count,
           |       CASE WHEN n_words = 0 THEN CAST(0.0 AS DOUBLE)
           |            ELSE (n_words - n_distinct_words) / n_words END AS dup_word_frac,
           |       CASE WHEN coalesce(n_bigrams, 0) = 0 THEN CAST(0.0 AS DOUBLE)
           |            ELSE top_bigram_count / n_bigrams END AS top_bigram_frac
           |FROM ws LEFT JOIN bs USING (doc_id) ORDER BY doc_id""".stripMargin),
      doc = "Gopher repetition quality signals (dup/top word & 2-gram)"),

    // PII redaction: the corpus carries no natural PII, so deterministic
    // synthetic contacts are spliced in (same CASE in the oracle — the dedup
    // queries' construction). Patterns are Java-regex/RE2-identical.
    "text_pii_redaction" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir)
        val spiked = d.select(col("doc_id"),
          when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" contact user"), col("doc_id").cast("string"),
              lit("@example.com now")))
          .when(col("doc_id") % 11 === 0,
            concat(col("text"), lit(" call 555-867-5309 or ping 10.0."),
              (col("doc_id") % 256).cast("string"), lit(".1")))
          .otherwise(col("text")).as("text"))
        TextAnalysis.redactPii(spiked, "doc_id", "text")
          .filter(col("n_emails") + col("n_phones") + col("n_ips") > 0)
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        """WITH spiked AS (SELECT doc_id, CASE
          |    WHEN doc_id % 7 = 0 THEN concat(text, ' contact user', doc_id, '@example.com now')
          |    WHEN doc_id % 11 = 0 THEN concat(text, ' call 555-867-5309 or ping 10.0.', doc_id % 256, '.1')
          |    ELSE text END AS text FROM documents),
          |r AS (SELECT doc_id,
          |  CAST(len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INT) AS n_emails,
          |  CAST(len(regexp_extract_all(text, '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}')) AS INT) AS n_phones,
          |  CAST(len(regexp_extract_all(text, '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b')) AS INT) AS n_ips,
          |  regexp_replace(regexp_replace(regexp_replace(text,
          |      '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          |      '\+?[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}', '<PHONE>', 'g'),
          |      '\b(?:[0-9]{1,3}\.){3}[0-9]{1,3}\b', '<IP>', 'g') AS text_redacted
          |  FROM spiked)
          |SELECT doc_id, n_emails, n_phones, n_ips, text_redacted FROM r
          |WHERE n_emails + n_phones + n_ips > 0 ORDER BY doc_id""".stripMargin),
      doc = "PII redaction (email/phone/IP counts + placeholder rewrite)"),

    // BM25 keyword retrieval over the corpus (quality-filter / search
    // primitive). The tf relation holds only (doc, query-term) rows; df/idf
    // are a ≤3-row broadcast; DECIMAL-cast sum keeps the score order-stable.
    "text_bm25" -> Q(
      fn = (s, dir) => TextAnalysis.bm25(Tables.documents(s, dir),
        "doc_id", "text", Seq("vector", "hash", "merge"), 20)
        .withColumnRenamed("id", "doc_id"),
      oracle = Some(
        s"""WITH docs AS (SELECT doc_id AS id, $wordsSql AS w FROM documents),
           |d2 AS (SELECT id, w, len(w) AS dl FROM docs),
           |stats AS (SELECT CAST(count(*) AS DOUBLE) AS n, avg(dl) AS avgdl FROM d2),
           |tf AS (SELECT id, dl, t, len(list_filter(w, x -> x = t)) AS tf
           |       FROM d2, (SELECT unnest(['vector', 'hash', 'merge']) AS t)
           |       WHERE list_contains(w, t)),
           |dft AS (SELECT t, count(*) AS df FROM tf GROUP BY t),
           |idf AS (SELECT t, ln((n - df + 0.5) / (df + 0.5) + 1.0) AS idf FROM dft, stats),
           |scored AS (SELECT id, sum(CAST(
           |    idf * (tf * (1.2 + 1)) / (tf + 1.2 * (1 - 0.75 + 0.75 * dl / avgdl))
           |    AS DECIMAL(28,10))) AS s
           |  FROM tf JOIN idf USING (t), stats GROUP BY id)
           |SELECT id AS doc_id, round(CAST(s AS DOUBLE), 6) AS score
           |FROM scored ORDER BY score DESC, id LIMIT 20""".stripMargin),
      doc = "BM25 keyword scoring, top-k (Robertson-Spärck Jones)"),

    // Deterministic stratified sampling — the training-mix step. Hash-based
    // (md5 bucket), so the kept set is identical in any engine/partitioning.
    // Exact corpus percentiles (data-card statistics): order statistics over
    // the value histogram with the distributed prefix-sum — the principled
    // replacement for approx_percentile, whose sketch-merge order makes it
    // engine- and run-dependent (ungradeable, and un-reproducible in a data
    // card). ⌈n·p/100⌉ rank arithmetic stays in exact longs.
    "text_length_quantiles" -> Q(
      fn = (s, dir) =>
        TextAnalysis.exactQuantiles(Tables.documents(s, dir), "n_chars", Seq(50, 90, 99))
          .orderBy(col("pct")),
      oracle = Some(
        """WITH h AS (SELECT CAST(n_chars AS BIGINT) AS v, count(*) AS c
          |           FROM documents GROUP BY 1),
          |t AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM h),
          |cc AS (SELECT v, sum(c) OVER (ORDER BY v ROWS UNBOUNDED PRECEDING) AS cum FROM h)
          |SELECT p.pct, min(cc.v) AS value, min(t.n) AS n_rows
          |FROM (VALUES (50), (90), (99)) p(pct), cc, t
          |WHERE cc.cum >= (t.n * p.pct + 99) // 100
          |GROUP BY p.pct ORDER BY pct""".stripMargin),
      doc = "exact doc-length percentiles via histogram prefix sum (no sketch, engine-exact)"),

    // Per-GROUP exact percentiles (per-language length bands): the keyed
    // form — cumulative counts via a window over each group's value
    // HISTOGRAM (frames bounded by distinct values, no global window, no
    // driver total), rank threshold in exact long arithmetic.
    "text_grouped_quantiles" -> Q(
      fn = (s, dir) =>
        TextAnalysis.groupedQuantiles(Tables.documents(s, dir),
          "lang", "n_chars", Seq(50, 90, 99)),
      oracle = Some(
        """WITH h AS (SELECT lang AS g, CAST(n_chars AS BIGINT) AS v,
          |    count(*) AS c FROM documents GROUP BY 1, 2),
          |t AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM h GROUP BY 1),
          |cc AS (SELECT g, v,
          |    sum(c) OVER (PARTITION BY g ORDER BY v ROWS UNBOUNDED PRECEDING)
          |      AS cum FROM h)
          |SELECT cc.g AS lang, p.pct, min(cc.v) AS value, min(t.n) AS n_rows
          |FROM (VALUES (50), (90), (99)) p(pct), cc
          |JOIN t ON cc.g = t.g
          |WHERE cc.cum >= (t.n * p.pct + 99) // 100
          |GROUP BY cc.g, p.pct ORDER BY lang, pct""".stripMargin),
      doc = "per-group exact percentiles: keyed histogram window, bounded frames"),

    // C4/Gopher heuristic filter battery. The synthetic corpus is clean
    // (no punctuation/braces/placeholders), so deterministic contamination
    // is spliced in — the PII query's construction: first-matching CASE
    // appends a lorem-ipsum placeholder / code fragment / symbol run, or
    // truncates to 5 words. Every flag is integer-compared row-local logic.
    "text_c4_filters" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir)
        val spiked = d.select(col("doc_id"),
          when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" lorem ipsum dolor sit")))
          .when(col("doc_id") % 17 === 0,
            concat(col("text"), lit(" function() { javascript }")))
          .when(col("doc_id") % 19 === 0,
            array_join(slice(split(trim(col("text")), "\\s+"), 1, 5), " "))
          .when(col("doc_id") % 23 === 0,
            concat(col("text"), lit(" # # # # # # # #")))
          .otherwise(col("text")).as("text"))
        TextAnalysis.c4GopherFilters(spiked, "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        s"""WITH spiked AS (SELECT doc_id, CASE
           |    WHEN doc_id % 13 = 0 THEN concat(text, ' lorem ipsum dolor sit')
           |    WHEN doc_id % 17 = 0 THEN concat(text, ' function() { javascript }')
           |    WHEN doc_id % 19 = 0 THEN array_to_string((string_split_regex(trim(text), '\\s+'))[1:5], ' ')
           |    WHEN doc_id % 23 = 0 THEN concat(text, ' # # # # # # # #')
           |    ELSE text END AS text FROM documents),
           |d AS (SELECT doc_id, text, $wordsSql AS w FROM spiked),
           |f AS (SELECT doc_id,
           |  CAST(len(w) AS INT) AS n_words,
           |  len(w) BETWEEN 10 AND 100000 AS f_words,
           |  CAST(length(regexp_replace(text, '\\s', '', 'g')) AS DOUBLE) / len(w)
           |    BETWEEN 3.0 AND 10.0 AS f_word_len,
           |  NOT contains(lower(text), 'lorem ipsum') AS f_lorem,
           |  NOT contains(text, '{') AS f_brace,
           |  NOT list_contains(w, 'javascript') AS f_policy,
           |  (length(text) - length(replace(text, '#', ''))) * 20 <= len(w) AS f_symbol,
           |  len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) * 5 >= len(w) * 4 AS f_alpha,
           |  len(list_filter(w, x -> x IN ('the','a','and','of','to','in','is','for','on','with'))) >= 2 AS f_stopword
           |  FROM d)
           |SELECT doc_id, n_words, f_words, f_word_len, f_lorem, f_brace,
           |       f_policy, f_symbol, f_alpha, f_stopword,
           |       f_words AND f_word_len AND f_lorem AND f_brace AND f_policy
           |         AND f_symbol AND f_alpha AND f_stopword AS keep
           |FROM f ORDER BY doc_id""".stripMargin),
      doc = "C4/Gopher heuristic quality filters (8 rules + keep conjunction)"),

    // Unigram-LM self-surprisal (perplexity proxy): LM trained on the corpus
    // itself; per-word surprisal rounds to 6 dp BEFORE the decimal per-doc
    // sum, so scores are order-independent and ulp-safe across engines.
    "text_perplexity" -> Q(
      fn = (s, dir) =>
        TextAnalysis.unigramSurprisal(Tables.documents(s, dir), "doc_id", "text")
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id")),
      oracle = Some(perplexityOracle),
      doc = "unigram-LM surprisal scoring (perplexity-proxy quality signal)"),

    // Two-tier LM lookup: Zipf head broadcast + skew-free tail join — the
    // production topology for a vocabulary that outgrows one broadcast.
    // headSize=16 vs the fixture's ~30-word vocabulary forces BOTH tiers to
    // carry tokens; graded against the SAME oracle as text_perplexity, so
    // the hash-match proves the topology change is result-invariant.
    "text_perplexity_tiered" -> Q(
      fn = (s, dir) =>
        TextAnalysis.unigramSurprisalTiered(Tables.documents(s, dir),
          "doc_id", "text", headSize = 16)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id")),
      oracle = Some(perplexityOracle),
      doc = "two-tier (head-broadcast) unigram-LM surprisal — result-invariant refinement"),

    // Bigram LM training: pair counts, context counts, conditional
    // probabilities — top 20 bigrams by count (unique tiebreak w1, w2).
    "text_bigram_lm" -> Q(
      fn = (s, dir) =>
        TextAnalysis.bigramLm(Tables.documents(s, dir), "text")
          .orderBy(col("c").desc, col("w1"), col("w2")).limit(20),
      oracle = Some(
        s"""WITH d AS (SELECT $wordsSql AS ws FROM documents),
           |bg0 AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS u
           |  FROM d WHERE len(ws) >= 2),
           |bg AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS c FROM bg0 GROUP BY 1, 2),
           |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx FROM bg GROUP BY w1)
           |SELECT w1, w2, c, c_ctx, round(CAST(c AS DOUBLE) / c_ctx, 6) AS cond_p
           |FROM bg JOIN ctx USING (w1)
           |ORDER BY c DESC, w1, w2 LIMIT 20""".stripMargin),
      doc = "bigram LM training: p(w2|w1) from one explode pass (KenLM building block)"),

    // Interpolated Kneser-Ney smoothing over the same bigram relation —
    // the production n-gram LM estimate (continuation-count back-off).
    // All inputs exact int64, d = 0.75 an exact double, the probability
    // one fixed IEEE chain → ships unrounded. Top-20 by raw count with
    // (w1, w2) tiebreak, same frame as text_bigram_lm.
    "text_kneser_ney" -> Q(
      fn = (s, dir) =>
        TextAnalysis.kneserNeyBigram(Tables.documents(s, dir), "text")
          .orderBy(col("c").desc, col("w1"), col("w2")).limit(20),
      oracle = Some(
        s"""WITH d AS (SELECT $wordsSql AS ws FROM documents),
           |bg0 AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS u
           |  FROM d WHERE len(ws) >= 2),
           |bg AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS c FROM bg0 GROUP BY 1, 2),
           |ctx AS (SELECT w1, CAST(sum(c) AS BIGINT) AS c_ctx,
           |    count(*) AS n_fwd FROM bg GROUP BY w1),
           |cont AS (SELECT w2, count(*) AS n_bwd FROM bg GROUP BY w2),
           |tot AS (SELECT count(*) AS n_bg FROM bg)
           |SELECT w1, w2, c, c_ctx, n_fwd, n_bwd,
           |  greatest(CAST(c AS DOUBLE) - CAST(0.75 AS DOUBLE), CAST(0.0 AS DOUBLE))
           |      / CAST(c_ctx AS DOUBLE)
           |    + (CAST(0.75 AS DOUBLE) * CAST(n_fwd AS DOUBLE) / CAST(c_ctx AS DOUBLE))
           |      * (CAST(n_bwd AS DOUBLE) / CAST(n_bg AS DOUBLE)) AS p_kn
           |FROM bg JOIN ctx USING (w1) JOIN cont USING (w2), tot
           |ORDER BY c DESC, w1, w2 LIMIT 20""".stripMargin),
      doc = "Kneser-Ney bigram smoothing: continuation-count back-off, exact chain"),

    // Collocation mining: PMI-lift ranking of adjacent pairs (phrase
    // detection). minCount prunes at the bigram partial-agg; the single
    // int/int division is IEEE-exact, so lift ships unrounded.
    "text_collocations" -> Q(
      fn = (s, dir) =>
        TextAnalysis.collocations(Tables.documents(s, dir), "text", 10)
          .orderBy(col("lift").desc, col("w1"), col("w2")).limit(50),
      oracle = Some(
        s"""WITH d AS (SELECT $wordsSql AS ws FROM documents),
           |uni AS (SELECT w, count(*) AS c
           |        FROM (SELECT unnest(ws) AS w FROM d) GROUP BY w),
           |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM uni),
           |bg0 AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |    i -> struct_pack(w1 := ws[i], w2 := ws[i+1]))) AS u
           |  FROM d WHERE len(ws) >= 2),
           |bg AS (SELECT u.w1 AS w1, u.w2 AS w2, count(*) AS c_ab
           |       FROM bg0 GROUP BY 1, 2 HAVING count(*) >= 10)
           |SELECT w1, w2, c_ab, ua.c AS c_a, ub.c AS c_b,
           |       (c_ab * n.n) / (ua.c * ub.c) AS lift
           |FROM bg JOIN uni ua ON bg.w1 = ua.w
           |        JOIN uni ub ON bg.w2 = ub.w CROSS JOIN n
           |ORDER BY lift DESC, w1, w2 LIMIT 50""".stripMargin),
      doc = "PMI-lift collocations: count-pruned bigrams vs unigram margins"),

    // Model-based quality filter: linear bag-of-hashed-words classifier
    // inference (the fasttext stage). Seeded weights as literals on both
    // sides; portable md5-60-bit feature hash; per-word 6 dp rounding
    // before the decimal sum, and the keep gate compares sum + bias·n ≥ 0
    // in EXACT decimals — no divide-then-round boundary (the sf0.1 run
    // caught one row drifting 1e-6 under the mean-score formulation).
    "text_quality_classifier" -> Q(
      fn = (s, dir) => {
        val rnd = new scala.util.Random(7L)
        val weights = Seq.fill(64)(rnd.nextGaussian())
        TextAnalysis.qualityClassifierScore(Tables.documents(s, dir),
          "doc_id", "text", weights, bias = 0.05)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"))
      },
      oracle = Some {
        val rnd = new scala.util.Random(7L)
        val weights = Seq.fill(64)(rnd.nextGaussian())
        val wlit = "[" + weights.map(_.toString).mkString(", ") + "]::DOUBLE[]"
        s"""WITH tok AS (SELECT doc_id AS id, unnest($wordsSql) AS w FROM documents),
           |wh AS (SELECT id, CAST(round(($wlit)[
           |    CAST(CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 64 AS INT) + 1], 6)
           |    AS DECIMAL(18,6)) AS wt FROM tok),
           |d AS (SELECT id, count(*) AS n_tokens, sum(wt) AS s FROM wh GROUP BY id)
           |SELECT id AS doc_id, n_tokens,
           |       CAST(s AS DOUBLE) AS weight_sum,
           |       s + CAST(0.05 AS DECIMAL(18,6)) * n_tokens >= 0 AS keep
           |FROM d ORDER BY doc_id""".stripMargin
      },
      doc = "fasttext-style quality classifier inference (hashed linear model, exact decimal gate)"),

    // Robust per-group outlier census: MAD-based flagging (50% breakdown —
    // the cutoff survives the tail it hunts, unlike mean/stddev). Both
    // medians are exact order statistics over keyed histograms; the k·MAD
    // comparison is int64 — NOTHING floats, so the gate never reclassifies
    // rows between runs. The clean synthetic corpus gets deterministic
    // spliced inflation (doc_id % 97) — the PII/C4 contamination pattern.
    "profile_outliers" -> Q(
      fn = (s, dir) =>
        graft.operators.Profile.madOutliers(
          Tables.documents(s, dir).withColumn("v_len",
            when(col("doc_id") % 97 === 0, col("n_chars") * 20)
              .otherwise(col("n_chars"))),
          "lang", "v_len", k = 3),
      oracle = Some(
        """WITH b AS (SELECT lang AS g,
          |    CAST(CASE WHEN doc_id % 97 = 0 THEN n_chars * 20 ELSE n_chars END
          |      AS BIGINT) AS v
          |  FROM documents WHERE lang IS NOT NULL AND n_chars IS NOT NULL),
          |h1 AS (SELECT g, v, count(*) AS c FROM b GROUP BY 1, 2),
          |t1 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM h1 GROUP BY 1),
          |c1 AS (SELECT g, v, sum(c) OVER (PARTITION BY g ORDER BY v
          |    ROWS UNBOUNDED PRECEDING) AS cum FROM h1),
          |med AS (SELECT c1.g, min(v) AS med FROM c1 JOIN t1 ON c1.g = t1.g
          |  WHERE cum >= (n * 50 + 99) // 100 GROUP BY 1),
          |d AS (SELECT b.g, abs(v - med) AS dv FROM b JOIN med ON b.g = med.g),
          |h2 AS (SELECT g, dv, count(*) AS c FROM d GROUP BY 1, 2),
          |t2 AS (SELECT g, CAST(sum(c) AS BIGINT) AS n FROM h2 GROUP BY 1),
          |c2 AS (SELECT g, dv, sum(c) OVER (PARTITION BY g ORDER BY dv
          |    ROWS UNBOUNDED PRECEDING) AS cum FROM h2),
          |mad AS (SELECT c2.g, min(dv) AS mad FROM c2 JOIN t2 ON c2.g = t2.g
          |  WHERE cum >= (n * 50 + 99) // 100 GROUP BY 1)
          |SELECT b.g AS lang, count(*) AS n_rows, min(med) AS median,
          |  min(mad) AS mad,
          |  CAST(sum(CASE WHEN abs(v - med) > 3 * mad THEN 1 ELSE 0 END)
          |    AS BIGINT) AS n_outliers
          |FROM b JOIN med ON b.g = med.g JOIN mad ON b.g = mad.g
          |GROUP BY 1 ORDER BY 1""".stripMargin),
      doc = "MAD outlier census: exact integer medians, drift-free robust quality gate"),


    // Benford leading-digit audit over object sizes — the data-forensics
    // census (fabricated/synthetic numeric columns flunk it). Shares and
    // reference shares are scaled integers (micro-units, floor division);
    // nothing floats. TPC-H's near-uniform prices SHOULD flunk — the
    // excess column reports exactly how.
    "profile_benford" -> Q(
      fn = (s, dir) => {
        val benford = typedLit(Map(1 -> 301029, 2 -> 176091, 3 -> 124938,
          4 -> 96910, 5 -> 79181, 6 -> 66946, 7 -> 57991, 8 -> 51152,
          9 -> 45757))
        val sizes = Tables.objects(s, dir).select(col("size"))
        val t = sizes.agg(count(lit(1)).as("total"))
        sizes.select(substring(col("size").cast("string"), 1, 1).cast("int").as("digit"))
          .groupBy(col("digit")).agg(count(lit(1)).as("n"))
          .crossJoin(t)
          .select(col("digit"), col("n"), col("total"),
            expr("(n * 1000000) div total").as("share_micro"),
            element_at(benford, col("digit")).as("benford_micro"))
          .withColumn("excess_micro", col("share_micro") - col("benford_micro"))
          .orderBy(col("digit"))
      },
      oracle = Some(Oracle.withObjects(
        """, s AS (SELECT CAST(substr(CAST(size AS VARCHAR), 1, 1) AS INT) AS digit
          |  FROM objects),
          |t AS (SELECT CAST(count(*) AS BIGINT) AS total FROM s),
          |h AS (SELECT digit, count(*) AS n FROM s GROUP BY 1),
          |b(digit, benford_micro) AS (VALUES (1, 301029), (2, 176091),
          |  (3, 124938), (4, 96910), (5, 79181), (6, 66946), (7, 57991),
          |  (8, 51152), (9, 45757))
          |SELECT h.digit, h.n, t.total,
          |  (h.n * 1000000) // t.total AS share_micro, b.benford_micro,
          |  (h.n * 1000000) // t.total - b.benford_micro AS excess_micro
          |FROM h JOIN b USING (digit) CROSS JOIN t ORDER BY h.digit""".stripMargin)),
      doc = "Benford leading-digit forensics census: scaled-integer shares vs log10(1+1/d)"),

    // Document chunking: 64-token sliding windows, 16-token overlap
    // (stride 48) — the context-window preprocessing step upstream of
    // sequence packing. Chunk text compares by md5 so the output stays narrow.
    "text_chunking" -> Q(
      fn = (s, dir) =>
        TextAnalysis.chunkDocuments(Tables.documents(s, dir), "doc_id", "text",
          chunkTokens = 64, overlap = 16)
          .orderBy(col("doc_id"), col("chunk_id")),
      oracle = Some(
        s"""WITH d AS (SELECT doc_id, $wordsSql AS w FROM documents),
           |c AS (SELECT doc_id, w,
           |        greatest(1, CAST(floor((len(w) - 16 + 47) / 48.0) AS INT)) AS nc FROM d),
           |ex AS (SELECT doc_id, w, unnest(generate_series(0, nc - 1)) AS i FROM c),
           |ch AS (SELECT doc_id, CAST(i AS INT) AS chunk_id,
           |         CAST(i * 48 + 1 AS INT) AS tok_start,
           |         w[(i * 48 + 1):(i * 48 + 64)] AS cw FROM ex)
           |SELECT doc_id, chunk_id, tok_start, CAST(len(cw) AS INT) AS n_tokens,
           |       md5(array_to_string(cw, ' ')) AS chunk_hash
           |FROM ch ORDER BY doc_id, chunk_id""".stripMargin),
      doc = "document chunking (sliding context windows, overlap carry-over)"),

    // TF-IDF top-3 keyword extraction per doc: idf rounds to 6 dp before
    // the decimal tf·idf product, so scores — and the top-k selection they
    // drive — are engine-exact; term asc tiebreaks equal scores.
    "text_tfidf_topterms" -> Q(
      fn = (s, dir) =>
        TextAnalysis.tfidfTopTerms(Tables.documents(s, dir), "doc_id", "text", 3)
          .withColumnRenamed("id", "doc_id")
          .orderBy(col("doc_id"), col("rank")),
      oracle = Some(
        s"""WITH tok AS (SELECT doc_id AS id, unnest($wordsSql) AS w FROM documents),
           |tf AS (SELECT id, w, count(*) AS tf FROM tok GROUP BY 1, 2),
           |n AS (SELECT CAST(count(DISTINCT doc_id) AS DOUBLE) AS n FROM documents),
           |dfr AS (SELECT w, count(*) AS df FROM tf GROUP BY w),
           |scored AS (SELECT id, w, tf,
           |    round(CAST(tf * CAST(round(ln(n / df), 6) AS DECIMAL(18,6)) AS DOUBLE), 6) AS score
           |  FROM tf JOIN dfr USING (w), n),
           |ranked AS (SELECT id, w, tf, score,
           |    row_number() OVER (PARTITION BY id ORDER BY score DESC, w) AS rn
           |  FROM scored)
           |SELECT id AS doc_id, CAST(rn AS INT) AS rank, w AS term, tf, score
           |FROM ranked WHERE rn <= 3 ORDER BY doc_id, rank""".stripMargin),
      doc = "TF-IDF top-k keyword extraction (decimal-exact scores, bounded window)"),

    // Document fingerprint (order-insensitive content hash).
    "text_fingerprint" -> Q(
      fn = (s, dir) => Tables.documents(s, dir)
        .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
        .orderBy(col("doc_id")),
      oracle = Some(
        s"""SELECT doc_id,
           |  md5(array_to_string(list_sort(list_distinct($wordsSql)), ' ')) AS fp
           |FROM documents ORDER BY doc_id""".stripMargin),
      doc = "document fingerprinting"),

    // Gopher quality rules (Rae et al. 2021 §A1.1) — the OTHER canonical
    // web-filtering rule set beside text_c4_filters: word-count bounds,
    // mean-word-length band, symbol-to-word ratio, alphabetic-word
    // fraction, and the ≥2-of-8-stopwords test. (Gopher's repetition rules
    // live in text_repetition.) Every gate compares as cross-multiplied
    // integers — no float ratio ever materializes, so no boundary drift.
    // One codegen'd narrow pass, trivially map-parallel at any scale.
    "text_gopher_rules" -> Q(
      fn = (s, dir) => {
        val w = TextAnalysis.words(col("text"))
        val nWords = size(w).cast("long")
        val sumChars = aggregate(w, lit(0L), (acc, x) => acc + length(x))
        val nSym = size(filter(w, x => x.contains("#") || x.contains("...")))
          .cast("long")
        val nAlpha = size(filter(w, x => x.rlike("[a-z]"))).cast("long")
        val stops = Seq("the", "be", "to", "of", "and", "that", "have", "with")
        val nStop = size(array_intersect(array_distinct(w),
          array(stops.map(lit): _*))).cast("long")
        Tables.documents(s, dir).select(col("doc_id"),
            nWords.as("n_words"),
            (nWords < 50 || nWords > 100000).as("flag_word_count"),
            (sumChars < nWords * 3 || sumChars > nWords * 10).as("flag_word_len"),
            (nSym * 10 > nWords).as("flag_symbol"),
            (nAlpha * 5 < nWords * 4).as("flag_alpha"),
            (nStop < 2).as("flag_stop"))
          .withColumn("keep",
            !(col("flag_word_count") || col("flag_word_len") ||
              col("flag_symbol") || col("flag_alpha") || col("flag_stop")))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        s"""WITH f AS (SELECT doc_id, $wordsSql AS w FROM documents),
           |m AS (SELECT doc_id, len(w) AS n_words,
           |    list_sum(list_transform(w, x -> len(x))) AS sum_chars,
           |    len(list_filter(w, x -> contains(x, '#') OR contains(x, '...'))) AS n_sym,
           |    len(list_filter(w, x -> regexp_matches(x, '[a-z]'))) AS n_alpha,
           |    len(list_intersect(list_distinct(w),
           |      ['the','be','to','of','and','that','have','with'])) AS n_stop
           |  FROM f)
           |SELECT doc_id, CAST(n_words AS BIGINT) AS n_words,
           |  n_words < 50 OR n_words > 100000 AS flag_word_count,
           |  sum_chars < n_words * 3 OR sum_chars > n_words * 10 AS flag_word_len,
           |  n_sym * 10 > n_words AS flag_symbol,
           |  n_alpha * 5 < n_words * 4 AS flag_alpha,
           |  n_stop < 2 AS flag_stop,
           |  NOT (n_words < 50 OR n_words > 100000
           |    OR sum_chars < n_words * 3 OR sum_chars > n_words * 10
           |    OR n_sym * 10 > n_words OR n_alpha * 5 < n_words * 4
           |    OR n_stop < 2) AS keep
           |FROM m ORDER BY doc_id""".stripMargin),
      doc = "Gopher quality-rule gates (word stats, symbol/alpha ratios, stopword test) as exact-int flags"),

    // DSIR importance weights (Xie et al. 2023): per-doc log-likelihood
    // ratio between a TARGET distribution (here: the English slice) and
    // the raw corpus, over hashed bigram features (10k buckets, the
    // portable md5 kernel) with add-one smoothing. The feature table is
    // bucket-sized (≤10k rows — broadcasts at any corpus scale); the
    // per-doc reduce is one combinable integer sum. Each bucket's term is
    // one exact-int product chain → one correctly-rounded division → one ln
    // → floor(·1e6) into BIGINT micro-units (scaled-integer tau): the graded
    // surface carries NO decimal-of-rounded-double — r5/r6 showed
    // round(double,n)→DECIMAL hashes are engine-build-sensitive, and an
    // integer sum of micro-unit taus is order-free and exact.
    "text_dsir_weights" -> Q(
      fn = (s, dir) => {
        val w = TextAnalysis.words(col("text"))
        val bigrams = when(size(w) >= 2,
          transform(sequence(lit(1), size(w) - 1),
            i => concat(element_at(w, i), lit(" "), element_at(w, i + 1))))
          .otherwise(array().cast("array<string>"))
        val gb = Tables.documents(s, dir)
          .select(col("doc_id"), col("lang"), explode(bigrams).as("g"))
          .withColumn("b",
            expr("cast(conv(substring(md5(g), 1, 15), 16, 10) as bigint) % 10000"))
        graft.operators.CacheOnce.pin(gb)
        gb.count() // pin: census + term table + per-doc reduce
        val tot = gb.agg(count(lit(1)).as("r_total"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("t_total"))
        val cr = gb.groupBy(col("b")).agg(count(lit(1)).as("cr"))
        val ct = gb.filter(col("lang") === "en")
          .groupBy(col("b")).agg(count(lit(1)).as("ct"))
        val terms = cr.join(ct, Seq("b"), "left").crossJoin(tot)
          .select(col("b"), floor(log(
            ((coalesce(col("ct"), lit(0L)) + 1L).cast("double")
              * (col("r_total") + 10000L).cast("double"))
              / ((col("cr") + 1L).cast("double")
                * (col("t_total") + 10000L).cast("double"))) * lit(1.0e6))
            .as("tau_u"))
        gb.join(terms, Seq("b"))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_bigrams"),
            sum(col("tau_u")).as("logw_micros"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        s"""WITH d AS (SELECT doc_id, lang, $wordsSql AS w FROM documents),
           |g AS (SELECT doc_id, lang, unnest(CASE WHEN len(w) >= 2
           |    THEN list_transform(generate_series(1, len(w) - 1),
           |                        i -> w[i] || ' ' || w[i+1])
           |    ELSE CAST([] AS VARCHAR[]) END) AS g FROM d),
           |gb AS (SELECT doc_id, lang,
           |    CAST('0x' || substr(md5(g), 1, 15) AS BIGINT) % 10000 AS b FROM g),
           |tot AS (SELECT count(*) AS r_total,
           |    count(*) FILTER (lang = 'en') AS t_total FROM gb),
           |cr AS (SELECT b, count(*) AS cr FROM gb GROUP BY b),
           |ct AS (SELECT b, count(*) AS ct FROM gb WHERE lang = 'en' GROUP BY b),
           |terms AS (SELECT cr.b, CAST(floor(ln(
           |      (CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) * CAST(r_total + 10000 AS DOUBLE))
           |      / (CAST(cr.cr + 1 AS DOUBLE) * CAST(t_total + 10000 AS DOUBLE))) * 1000000.0)
           |    AS BIGINT) AS tau_u
           |  FROM cr LEFT JOIN ct ON cr.b = ct.b, tot)
           |SELECT doc_id, count(*) AS n_bigrams,
           |       CAST(sum(tau_u) AS BIGINT) AS logw_micros
           |FROM gb JOIN terms USING (b)
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
      doc = "DSIR hashed-bigram importance weights: bucket-sized term table, scaled-integer tau, exact int doc sums"),

    // Distributed classifier TRAINING: the model is an L×B-bounded relation
    // of integer sufficient statistics (token count + doc frequency per
    // (label, hashed-feature bucket)) — NB and Rocchio both train from
    // exactly these counts, and the map-side combine absorbs any corpus
    // size. Split is the deterministic doc_id hash (80% train).
    "text_classifier_train" -> Q(
      fn = (s, dir) =>
        TextAnalysis.classProfiles(
          Tables.documents(s, dir).filter(col("doc_id") % 10 < 8),
          "doc_id", "text", "lang", buckets = 256)
          .orderBy(col("label"), col("bucket")),
      oracle = Some(
        s"""WITH tok AS (SELECT doc_id, lang AS label, unnest($wordsSql) AS w
           |  FROM documents WHERE doc_id % 10 < 8),
           |tb AS (SELECT doc_id, label,
           |  CAST(CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 256 AS INT) AS bucket
           |  FROM tok)
           |SELECT label, bucket, count(*) AS n, count(DISTINCT doc_id) AS df
           |FROM tb GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "multinomial classifier training: hashed bag-of-words class profiles (integer sufficient statistics)"),

    // Held-out eval of the trained profiles via Rocchio argmax — the argmax
    // over score/N_l is EXACT (pairwise cross-multiplication in
    // DECIMAL(38,0) / HUGEINT, smaller-label tiebreak; no float division
    // anywhere in the graded chain). Graded: the confusion matrix.
    "text_classifier_eval" -> Q(
      fn = (s, dir) => {
        val d = Tables.documents(s, dir)
        TextAnalysis.rocchioPredict(
          d.filter(col("doc_id") % 10 < 8), d.filter(col("doc_id") % 10 >= 8),
          "doc_id", "text", "lang", buckets = 256)
          .groupBy(col("label_true"), col("label_pred"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("label_true"), col("label_pred"))
      },
      oracle = Some(
        s"""WITH tok AS (SELECT doc_id, lang,
           |  CAST(CAST('0x' || substr(md5(w), 1, 15) AS BIGINT) % 256 AS INT) AS bucket
           |  FROM (SELECT doc_id, lang, unnest($wordsSql) AS w FROM documents)),
           |prof AS (SELECT lang AS label, bucket, CAST(count(*) AS BIGINT) AS n
           |  FROM tok WHERE doc_id % 10 < 8 GROUP BY 1, 2),
           |tot AS (SELECT label, CAST(sum(n) AS BIGINT) AS nl FROM prof GROUP BY 1),
           |dv AS (SELECT doc_id, lang AS label_true, bucket, CAST(count(*) AS BIGINT) AS c
           |  FROM tok WHERE doc_id % 10 >= 8 GROUP BY 1, 2, 3),
           |sc AS (SELECT dv.doc_id, p.label, CAST(sum(dv.c * p.n) AS BIGINT) AS s
           |  FROM dv JOIN prof p USING (bucket) GROUP BY 1, 2),
           |docs AS (SELECT DISTINCT doc_id, label_true FROM dv),
           |dense AS (SELECT d.doc_id, d.label_true, t.label, t.nl,
           |    COALESCE(sc.s, 0) AS s
           |  FROM docs d CROSS JOIN tot t
           |  LEFT JOIN sc ON sc.doc_id = d.doc_id AND sc.label = t.label),
           |win AS (SELECT a.doc_id, a.label_true, a.label AS label_pred
           |  FROM dense a JOIN dense b ON a.doc_id = b.doc_id
           |  GROUP BY a.doc_id, a.label_true, a.label
           |  HAVING sum(CASE WHEN CAST(b.s AS HUGEINT) * a.nl > CAST(a.s AS HUGEINT) * b.nl
           |      OR (CAST(b.s AS HUGEINT) * a.nl = CAST(a.s AS HUGEINT) * b.nl
           |          AND b.label < a.label) THEN 1 ELSE 0 END) = 0)
           |SELECT label_true, label_pred, count(*) AS n
           |FROM win GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "held-out classifier eval: Rocchio nearest-centroid confusion matrix, exact cross-multiplied argmax"),


    // CCNet composed end-to-end (dedup -> langid -> LM score -> per-lang
    // perplexity terciles). Boundary state is the BUCKETED score histogram
    // (floor(mean_surprisal*100)) so the tercile computation is bounded per
    // language; the graded census is (lang, tier) docs + tokens.
    "pipeline_ccnet" -> Q(
      fn = (s, dir) =>
        TextAnalysis.ccnetTiers(Tables.documents(s, dir), "doc_id", "text", 4)
          .orderBy(col("lang"), col("tier")),
      oracle = Some(
        s"""WITH d AS (SELECT doc_id AS id, $wordsSql AS ws FROM documents),
           |l0 AS (SELECT id, unnest(list_transform(
           |    generate_series(0, CAST(floor((len(ws) + 3) / 4) AS INT) - 1),
           |    i -> struct_pack(line_no := i, line := array_to_string(ws[i*4+1 : i*4+4], ' ')))) AS u
           |  FROM d),
           |l AS (SELECT id, CAST(u.line_no AS BIGINT) AS line_no, u.line AS line FROM l0),
           |win0 AS (SELECT line, min(id * 4294967296 + line_no) AS keep_key FROM l GROUP BY line),
           |kept AS (SELECT id, line FROM l JOIN win0 USING (line)
           |         WHERE id * 4294967296 + line_no = keep_key),
           |tok AS (SELECT id, unnest(string_split_regex(line, '\\s+')) AS wd FROM kept),
           |lm AS (SELECT wd, count(*) AS c FROM tok GROUP BY wd),
           |nn AS (SELECT CAST(sum(c) AS DOUBLE) AS n FROM lm),
           |sv AS (SELECT wd, CAST(round(ln(n / c), 6) AS DECIMAL(18,6)) AS surp FROM lm, nn),
           |ds AS (SELECT id, count(*) AS n_tokens,
           |    CAST(floor(round(CAST(sum(surp) AS DOUBLE) / count(*), 6) * 100) AS BIGINT) AS bucket
           |  FROM tok JOIN sv USING (wd) GROUP BY id),
           |ls AS (SELECT doc_id AS id,
           |  len(list_filter($wordsSql, w -> w IN ('the','a','and','of','to','in','is'))) AS s_en,
           |  len(list_filter($wordsSql, w -> w IN ('el','la','de','que','y','en','los'))) AS s_es,
           |  len(list_filter($wordsSql, w -> w IN ('der','die','und','das','von','ist','ein'))) AS s_de,
           |  len(list_filter($wordsSql, w -> w IN ('le','la','et','les','des','est','une'))) AS s_fr
           |  FROM documents),
           |lng AS (SELECT id, CASE
           |  WHEN s_fr > greatest(s_de, s_es, s_en, 0) THEN 'fr'
           |  WHEN s_de > greatest(s_es, s_en, 0) THEN 'de'
           |  WHEN s_es > greatest(s_en, 0) THEN 'es'
           |  WHEN s_en > 0 THEN 'en'
           |  ELSE 'und' END AS lang FROM ls),
           |db AS (SELECT ds.id, lng.lang, ds.n_tokens, ds.bucket FROM ds JOIN lng USING (id)),
           |hist AS (SELECT lang, bucket, count(*) AS nb FROM db GROUP BY 1, 2),
           |cum AS (SELECT lang, bucket, nb,
           |    sum(nb) OVER (PARTITION BY lang ORDER BY bucket) AS cumn FROM hist),
           |tot AS (SELECT lang, CAST(sum(nb) AS BIGINT) AS nl FROM hist GROUP BY 1),
           |bnd AS (SELECT cum.lang,
           |    min(CASE WHEN cumn * 3 >= nl THEN bucket END) AS b1,
           |    min(CASE WHEN cumn * 3 >= nl * 2 THEN bucket END) AS b2
           |  FROM cum JOIN tot ON cum.lang = tot.lang GROUP BY cum.lang),
           |tier AS (SELECT db.lang,
           |    CASE WHEN db.bucket <= b1 THEN 'head'
           |         WHEN db.bucket <= b2 THEN 'middle' ELSE 'tail' END AS tier,
           |    db.n_tokens
           |  FROM db JOIN bnd ON db.lang = bnd.lang)
           |SELECT lang, tier, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens
           |FROM tier GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin),
      doc = "CCNet pipeline capstone: line dedup -> lang ID -> LM surprisal -> per-lang perplexity terciles"),
    // N-gram novelty curve — the "value of the next batch of data"
    // measurement (diminishing-returns census): per arrival batch, the
    // share of its word 3-grams never seen in ANY earlier document.
    // First-occurrence attribution is one groupBy(gram).min(doc_id) —
    // the classic shuffle-on-content shape that scales to any corpus
    // (state ∝ distinct grams, partitioned by gram hash; no window, no
    // ordering dependence beyond the stable doc_id arrival order).
    // Measured sf0.01: novelty falls 0.91 → 0.40 across 5 batches —
    // the quantified case for dedup-before-training.
    "text_ngram_novelty" -> Q(
      fn = (s, dir) => {
        val w = split(lower(col("text")), " ")
        val grams = Tables.documents(s, dir)
          .select(col("doc_id"), w.as("w"))
          .filter(size(col("w")) >= 3)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(0, size(w) - 3), i -> " +
              "concat(element_at(w, i + 1), ' ', element_at(w, i + 2), " +
              "' ', element_at(w, i + 3)))")).as("g"))
          .distinct()
        val first = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
        grams.join(first, "g")
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_grams"),
            sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
              .as("n_novel"))
          .groupBy(expr("doc_id div 100").as("batch"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_grams")).as("n_grams"),
            sum(col("n_novel")).as("n_novel"),
            round(sum(col("n_novel")).cast("double") /
              sum(col("n_grams")).cast("double"), 9).as("novelty"))
          .orderBy(col("batch"))
      },
      oracle = Some(
        """WITH toks AS (SELECT doc_id, string_split(lower(text), ' ') AS w
          |  FROM documents),
          |ng AS (SELECT doc_id, w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS g
          |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i FROM toks)
          |  WHERE len(w) >= 3),
          |dng AS (SELECT DISTINCT doc_id, g FROM ng),
          |fst AS (SELECT g, min(doc_id) AS first_doc FROM dng GROUP BY 1),
          |per AS (SELECT d.doc_id, count(*) AS n_grams,
          |    count(*) FILTER (WHERE f.first_doc = d.doc_id) AS n_novel
          |  FROM dng d JOIN fst f USING (g) GROUP BY 1)
          |SELECT doc_id // 100 AS batch, count(*) AS n_docs,
          |  CAST(sum(n_grams) AS BIGINT) AS n_grams,
          |  CAST(sum(n_novel) AS BIGINT) AS n_novel,
          |  round(CAST(sum(n_novel) AS DOUBLE) / sum(n_grams), 9) AS novelty
          |FROM per GROUP BY batch ORDER BY batch""".stripMargin),
      doc = "n-gram novelty curve per arrival batch: first-occurrence via groupBy-min, diminishing-returns census"),

    // ROUGE-2 overlap eval between reference docs and their synthetic
    // variants — the summarization/near-copy eval harness as a relational
    // operator: distinct-bigram sets, one equi-join on (pair, bigram) to
    // count the intersection (never a cross join), exact integer
    // overlap/counts, round-9 P/R/F1 (set-based F1 = 2·ov/(|ref|+|cand|),
    // one division of exact integers). At corpus scale the join is
    // partitioned by bigram content — the same shuffle class as exact
    // dedup; the pairing key (doc_id ↔ doc_id + 10⁶) is the standard
    // synthetic-variant splice used by the dedup family.
    "text_rouge_overlap" -> Q(
      fn = (s, dir) => {
        val base = Tables.documents(s, dir).filter(col("doc_id") % 5 === 0)
        val corpus = base.select(col("doc_id"), col("text"))
          .unionByName(base.select((col("doc_id") + 1000000).as("doc_id"),
            concat(col("text"), lit(" quality data pipeline tail marker"))
              .as("text")))
        val w = split(lower(col("text")), " ")
        val bg = corpus.select(col("doc_id"), w.as("wl"))
          .filter(size(col("wl")) >= 2)
          .select(col("doc_id"), explode(expr(
            "transform(sequence(1, size(wl) - 1), " +
              "i -> concat(element_at(wl, i), ' ', element_at(wl, i + 1)))"))
            .as("b"))
          .distinct()
        val n = bg.groupBy(col("doc_id")).agg(count(lit(1)).as("nb"))
        val ov = bg.select((col("doc_id") + 1000000).as("cand_id"), col("b"))
          .join(bg.select(col("doc_id").as("cand_id"), col("b")),
            Seq("cand_id", "b"))
          .groupBy((col("cand_id") - 1000000).as("doc_id"))
          .agg(count(lit(1)).as("overlap"))
        val o = coalesce(col("overlap"), lit(0L))
        n.join(n.select((col("doc_id") - 1000000).as("doc_id"),
            col("nb").as("nc")), "doc_id")
          .join(ov, Seq("doc_id"), "left")
          .select(col("doc_id"), col("nb").as("n_ref"), col("nc").as("n_cand"),
            o.as("overlap"),
            round(o.cast("double") / col("nc").cast("double"), 9).as("rouge_p"),
            round(o.cast("double") / col("nb").cast("double"), 9).as("rouge_r"),
            round((lit(2L) * o).cast("double") /
              (col("nb") + col("nc")).cast("double"), 9).as("rouge_f1"))
          .orderBy(col("doc_id"))
      },
      oracle = Some(
        """WITH corpus AS (
          |  SELECT doc_id, text FROM documents WHERE doc_id % 5 = 0
          |  UNION ALL
          |  SELECT doc_id + 1000000, text || ' quality data pipeline tail marker'
          |  FROM documents WHERE doc_id % 5 = 0),
          |w AS (SELECT doc_id, string_split(lower(text), ' ') AS wl FROM corpus
          |  ),
          |bg AS (SELECT doc_id, list_distinct(list_transform(
          |    generate_series(1, len(wl) - 1),
          |    i -> wl[i] || ' ' || wl[i+1])) AS bl FROM w WHERE len(wl) >= 2),
          |e AS (SELECT doc_id, unnest(bl) AS b FROM bg),
          |n AS (SELECT doc_id, count(*) AS nb FROM e GROUP BY 1),
          |ov AS (SELECT r.doc_id AS rid, count(*) AS overlap
          |  FROM e r JOIN e c ON c.doc_id = r.doc_id + 1000000 AND r.b = c.b
          |  GROUP BY 1)
          |SELECT r.doc_id AS doc_id, r.nb AS n_ref, c.nb AS n_cand,
          |  coalesce(overlap, 0) AS overlap,
          |  round(CAST(coalesce(overlap, 0) AS DOUBLE) / c.nb, 9) AS rouge_p,
          |  round(CAST(coalesce(overlap, 0) AS DOUBLE) / r.nb, 9) AS rouge_r,
          |  round(CAST(2 * coalesce(overlap, 0) AS DOUBLE) / (r.nb + c.nb), 9)
          |    AS rouge_f1
          |FROM n r JOIN n c ON c.doc_id = r.doc_id + 1000000
          |LEFT JOIN ov ON ov.rid = r.doc_id ORDER BY doc_id""".stripMargin),
      doc = "ROUGE-2 set overlap eval: distinct bigrams, content-partitioned intersection join, exact counts, round-9 P/R/F1"),

    // Lexical diversity census: type-token ratio and MATTR (moving-average
    // TTR, window 20) per language — the data-quality gate that catches
    // keyword-stuffed or template text that length/punct filters miss
    // (TTR alone penalizes long docs; MATTR's fixed window removes the
    // length bias, which is why it grades beside it). Everything is
    // row-local higher-order functions (windows never leave the row) and
    // EXACT integers: MATTR = Σ_w distinct(w) / (20·n_windows) — BIGINT
    // numerator/denominator graded beside the round-9 ratio. Zero
    // shuffles beyond the per-language rollup.
    "text_ttr_mattr" -> Q(
      fn = (s, dir) => {
        val wl = split(lower(col("text")), " ")
        val t = Tables.documents(s, dir).select(col("lang"), wl.as("wl"))
          .select(col("lang"), size(col("wl")).cast("long").as("n_tokens"),
            size(array_distinct(col("wl"))).cast("long").as("n_types"),
            when(size(col("wl")) >= 20, expr(
              "aggregate(transform(sequence(1, size(wl) - 19), " +
                "i -> size(array_distinct(slice(wl, i, 20)))), " +
                "0L, (a, x) -> a + x)")).as("mattr_sum"),
            when(size(col("wl")) >= 20, (size(col("wl")) - 19).cast("long"))
              .as("n_windows"))
        t.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("tokens"),
            sum(col("n_types")).as("types"),
            sum(col("mattr_sum")).as("mattr_num"),
            (lit(20L) * sum(col("n_windows"))).as("mattr_den"))
          .select(col("lang"), col("n_docs"), col("tokens"), col("types"),
            round(col("types").cast("double") / col("tokens").cast("double"), 9)
              .as("ttr"),
            col("mattr_num"), col("mattr_den"),
            round(col("mattr_num").cast("double") /
              col("mattr_den").cast("double"), 9).as("mattr"))
          .orderBy(col("lang"))
      },
      oracle = Some(
        """WITH w AS (SELECT doc_id, lang, string_split(lower(text), ' ') AS wl
          |  FROM documents),
          |t AS (SELECT doc_id, lang, len(wl) AS n_tokens,
          |    len(list_distinct(wl)) AS n_types,
          |    CASE WHEN len(wl) >= 20 THEN
          |      list_sum(list_transform(range(len(wl) - 19),
          |        i -> len(list_distinct(wl[i + 1:i + 20]))))
          |    ELSE NULL END AS mattr_sum,
          |    CASE WHEN len(wl) >= 20 THEN len(wl) - 19 ELSE NULL END
          |      AS n_windows
          |  FROM w)
          |SELECT lang, count(*) AS n_docs,
          |  CAST(sum(n_tokens) AS BIGINT) AS tokens,
          |  CAST(sum(n_types) AS BIGINT) AS types,
          |  round(CAST(sum(n_types) AS DOUBLE) / sum(n_tokens), 9) AS ttr,
          |  CAST(sum(mattr_sum) AS BIGINT) AS mattr_num,
          |  CAST(20 * sum(n_windows) AS BIGINT) AS mattr_den,
          |  round(CAST(sum(mattr_sum) AS DOUBLE) / (20 * sum(n_windows)), 9)
          |    AS mattr
          |FROM t GROUP BY lang ORDER BY lang""".stripMargin),
      doc = "lexical diversity: TTR + windowed MATTR(20), row-local HOF windows, exact BIGINT num/den, round-9 ratios"),

    // TextRank corpus keywords (Mihalcea & Tarau, EMNLP'04): PageRank over
    // the word co-occurrence graph. Candidates are alphabetic words of
    // length >= 4 (the POS-filter proxy both engines replay with the same
    // anchored regex); edges are consecutive candidate pairs after the
    // filter (window 2 over the FILTERED sequence), symmetrized, deduped.
    // Rank rides the integer-grid fixed-point kernel — 3 iterations on the
    // SCALE=1e12 grid, DIV-truncated, so every rank is a bit-reproducible
    // BIGINT (graph_pagerank's discipline). Scale shape: the token stream
    // reduces to DISTINCT bigrams before any iteration — a vocabulary²-
    // bounded relation however big the corpus — and each iteration is one
    // node-keyed shuffle with map-side combine against the once-partitioned
    // edge relation (Graph.pagerankFixedPoint's pinned layout).
    "text_textrank_keywords" -> Q(
      fn = (s, dir) => {
        val kept = Tables.documents(s, dir)
          .select(filter(TextAnalysis.words(col("text")),
            w => w.rlike("^[a-z]{4,}$")).as("ws"))
        val e0 = kept.filter(size(col("ws")) >= 2)
          .select(explode(transform(sequence(lit(0), size(col("ws")) - 2),
            i => struct(element_at(col("ws"), i + 1).as("src"),
              element_at(col("ws"), i + 2).as("dst")))).as("p"))
          .select(col("p.src"), col("p.dst"))
        val e = e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
          .filter(col("src") =!= col("dst"))
        graft.operators.Graph.pagerankFixedPoint(e, 3)
          .orderBy(col("rank").desc, col("node")).limit(20)
          .select(col("node").as("word"), col("rank"))
      },
      oracle = Some {
        val iterCtes = (1 to 3).map { k =>
          s"""r$k AS (SELECT e.dst AS v,
             |    (15 * (1000000000000 // n.n)) // 100
             |      + (85 * CAST(sum(r.r // deg.d) AS BIGINT)) // 100 AS r
             |  FROM e JOIN r${k - 1} r ON e.src = r.v
             |         JOIN deg ON e.src = deg.src CROSS JOIN n
             |  GROUP BY e.dst, n.n)""".stripMargin
        }.mkString(",\n")
        s"""WITH d AS (SELECT list_filter($wordsSql,
           |    w -> regexp_matches(w, '^[a-z]{4,}$$')) AS ws FROM documents),
           |p0 AS (SELECT unnest(list_transform(generate_series(1, len(ws) - 1),
           |    i -> struct_pack(src := ws[i], dst := ws[i+1]))) AS u
           |  FROM d WHERE len(ws) >= 2),
           |e AS (SELECT DISTINCT src, dst FROM (
           |    SELECT u.src AS src, u.dst AS dst FROM p0
           |    UNION ALL SELECT u.dst, u.src FROM p0)
           |  WHERE src <> dst),
           |deg AS (SELECT src, count(*) AS d FROM e GROUP BY src),
           |n AS (SELECT count(*) AS n FROM deg),
           |r0 AS (SELECT src AS v, 1000000000000 // n.n AS r
           |  FROM deg CROSS JOIN n),
           |$iterCtes
           |SELECT v AS word, r AS rank FROM r3
           |ORDER BY rank DESC, word LIMIT 20""".stripMargin
      },
      doc = "TextRank corpus keywords: integer-grid PageRank over the symmetrized word co-occurrence graph"),

    // Distinctive terms per source — the corpus-exploration readout BERTopic
    // calls class-TF-IDF, restated without logs so the ranking is exact:
    // lift(w, s) = P(w | s) / P(w) = (tf_ws · T) / (T_s · tf_w), both
    // products widened to DECIMAL(38,0) BEFORE the single division (the
    // collocations discipline — at 10¹³ tokens an int64 product overflows
    // silently), one correctly-rounded decimal→double per side, ONE
    // division: bit-identical cross-engine, and ln(lift) monotone ⇒ this
    // IS the c-TF-IDF ranking minus the float log. Count floor tf_ws ≥ 5;
    // top-10 per source by (lift desc, w) via a keyed window. One token
    // scan → two vocabulary-sized aggregates → broadcast margins join.
    "text_distinctive_terms" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val tok = Tables.documents(s, dir)
          .select(col("source"), explode(TextAnalysis.words(col("text"))).as("w"))
        val sw = tok.groupBy(col("source"), col("w"))
          .agg(count(lit(1)).as("tf_sw")).filter(col("tf_sw") >= 5)
        val perS = tok.groupBy(col("source")).agg(count(lit(1)).as("t_s"))
        val perW = tok.groupBy(col("w")).agg(count(lit(1)).as("tf_w"))
        val tot = tok.agg(count(lit(1)).as("t"))
        val wTop = org.apache.spark.sql.expressions.Window
          .partitionBy(col("source")).orderBy(col("lift").desc, col("w"))
        sw.join(perS, Seq("source")).join(perW, Seq("w"))
          .crossJoin(broadcast(tot))
          .withColumn("lift",
            (col("tf_sw").cast(dec) * col("t").cast(dec)).cast("double")
              / (col("t_s").cast(dec) * col("tf_w").cast(dec)).cast("double"))
          .withColumn("rnk", row_number().over(wTop)).filter(col("rnk") <= 10)
          .select(col("source"), col("rnk").cast("long").as("rnk"), col("w"),
            col("tf_sw"), col("tf_w"), (round(col("lift"), 9) + 0.0).as("lift"))
          .orderBy(col("source"), col("rnk"))
      },
      oracle = Some(
        s"""WITH tok AS (SELECT source, unnest($wordsSql) AS w FROM documents),
           |sw AS (SELECT source, w, count(*) AS tf_sw FROM tok
           |  GROUP BY 1, 2 HAVING count(*) >= 5),
           |ps AS (SELECT source, count(*) AS t_s FROM tok GROUP BY 1),
           |pw AS (SELECT w, count(*) AS tf_w FROM tok GROUP BY 1),
           |tot AS (SELECT count(*) AS t FROM tok),
           |l AS (SELECT sw.source, sw.w, sw.tf_sw, pw.tf_w,
           |    CAST(CAST(sw.tf_sw AS DECIMAL(38,0)) * t AS DOUBLE)
           |      / CAST(CAST(ps.t_s AS DECIMAL(38,0)) * tf_w AS DOUBLE) AS lift
           |  FROM sw JOIN ps USING (source) JOIN pw USING (w) CROSS JOIN tot),
           |r AS (SELECT *, row_number() OVER (PARTITION BY source
           |    ORDER BY lift DESC, w) AS rnk FROM l)
           |SELECT source, rnk, w, tf_sw, tf_w, round(lift, 9) + 0.0 AS lift
           |FROM r WHERE rnk <= 10 ORDER BY source, rnk""".stripMargin),
      doc = "distinctive terms per source: log-free c-TF-IDF (exact decimal products, one division), top-10 by keyed window"),

    // Heaps'-law vocabulary-growth census per source: cumulative (docs,
    // tokens, distinct types) at ten points along the ingest axis — the
    // curve that sizes a tokenizer's vocab and predicts how much NEW
    // vocabulary the next 10× of corpus will bring (V ≈ K·nᵝ; this emits
    // the exact curve, the modeler fits β downstream — no logs in the
    // graded surface). Scale shape: the ingest axis is bucketed by id
    // RANGE (one min/max agg broadcast back), NOT by row_number — an
    // exact-count decile would force a per-source global sort; id-range
    // buckets are a narrow map-side expression at any scale. "First
    // appearance" is min(bucket) per (source, type): one groupBy, then
    // the decile spine left-joins the three censuses and a keyed window
    // does the cumulative sums. Exact integers end to end.
    "text_heaps_law" -> Q(
      fn = (s, dir) => {
        val d0 = Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("text"))
        val mm = d0.groupBy(col("source"))
          .agg(min(col("doc_id")).as("mn"), max(col("doc_id")).as("mx"))
        val db = d0.join(broadcast(mm), "source")
          .withColumn("b", expr("((doc_id - mn) * 10) div (mx - mn + 1)"))
        val words = db.select(col("source"), col("b"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(col("w") =!= "")
        val tok = words.groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("toks"))
        val nv = words.groupBy(col("source"), col("w"))
          .agg(min(col("b")).as("b"))
          .groupBy(col("source"), col("b")).agg(count(lit(1)).as("vnew"))
        val dc = db.groupBy(col("source"), col("b"))
          .agg(count(lit(1)).as("docs"))
        val spine = d0.select(col("source")).distinct()
          .select(col("source"), explode(sequence(lit(0L), lit(9L))).as("b"))
        val j = spine
          .join(dc, Seq("source", "b"), "left")
          .join(tok, Seq("source", "b"), "left")
          .join(nv, Seq("source", "b"), "left")
          .na.fill(0L, Seq("docs", "toks", "vnew"))
        val win = org.apache.spark.sql.expressions.Window
        val wc = win.partitionBy(col("source")).orderBy(col("b"))
          .rowsBetween(win.unboundedPreceding, win.currentRow)
        j.select(col("source"), (col("b") + 1L).as("decile"),
            sum(col("docs")).over(wc).as("docs_cum"),
            sum(col("toks")).over(wc).as("tokens_cum"),
            sum(col("vnew")).over(wc).as("vocab_cum"))
          .orderBy(col("source"), col("decile"))
      },
      oracle = Some(
        s"""WITH mm AS (SELECT source, min(doc_id) AS mn, max(doc_id) AS mx
           |  FROM documents GROUP BY 1),
           |db AS (SELECT d.source, d.doc_id, d.text,
           |    ((d.doc_id - mn) * 10) // (mx - mn + 1) AS b
           |  FROM documents d JOIN mm USING (source)),
           |w0 AS (SELECT source, b, unnest($wordsSql) AS w FROM db),
           |wf AS (SELECT source, b, w FROM w0 WHERE w <> ''),
           |tok AS (SELECT source, b, count(*) AS toks FROM wf GROUP BY 1, 2),
           |fo AS (SELECT source, w, min(b) AS b FROM wf GROUP BY 1, 2),
           |nv AS (SELECT source, b, count(*) AS vnew FROM fo GROUP BY 1, 2),
           |dc AS (SELECT source, b, count(*) AS docs FROM db GROUP BY 1, 2),
           |spine AS (SELECT source, b
           |  FROM (SELECT DISTINCT source FROM documents)
           |  CROSS JOIN (SELECT unnest(generate_series(0, 9)) AS b)),
           |j AS (SELECT s.source, s.b,
           |    coalesce(dc.docs, 0) AS docs, coalesce(tok.toks, 0) AS toks,
           |    coalesce(nv.vnew, 0) AS vnew
           |  FROM spine s
           |  LEFT JOIN dc ON s.source = dc.source AND s.b = dc.b
           |  LEFT JOIN tok ON s.source = tok.source AND s.b = tok.b
           |  LEFT JOIN nv ON s.source = nv.source AND s.b = nv.b)
           |SELECT source, b + 1 AS decile,
           |  CAST(sum(docs) OVER c AS BIGINT) AS docs_cum,
           |  CAST(sum(toks) OVER c AS BIGINT) AS tokens_cum,
           |  CAST(sum(vnew) OVER c AS BIGINT) AS vocab_cum
           |FROM j WINDOW c AS (PARTITION BY source ORDER BY b
           |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           |ORDER BY source, decile""".stripMargin),
      doc = "Heaps'-law vocab-growth census per source: id-range ingest deciles (no sort), first-appearance types via min(bucket), exact integer curve"),

    // Term burstiness (Church & Gale 1995): the Fano factor var/mean of a
    // term's per-document count, over ALL docs (zeros included). Poisson
    // scatter gives Fano ≈ 1 — function words; content words CLUMP (a doc
    // that mentions a term mentions it again) and score ≫ 1 — the signal
    // that separates topical vocabulary from glue, used to pick keywords
    // and stopword lists without any external resource. Zeros need no
    // rows: with S₁ = Σc and S₂ = Σc² over docs CONTAINING the term,
    // Fano = (N·S₂ − S₁²) / ((N−1)·S₁) exactly — integer num/den graded
    // as digit strings, one IEEE division. Top-50 terms by df (a scale-
    // sound TakeOrdered), stats from one (doc, term) groupBy.
    "text_burstiness" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val d = Tables.documents(s, dir)
        val cnt = d.select(col("doc_id"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
        val stats = cnt.groupBy(col("w")).agg(count(lit(1)).as("df"),
          sum(col("c")).as("s1"),
          sum(col("c").cast(dec) * col("c")).as("s2"))
        val top = stats.orderBy(col("df").desc, col("w")).limit(50)
        // n >= 2 guard: a single-document corpus zeroes the Fano
        // denominator — Spark 0/0 is NaN where DuckDB diverges (r9 ADVICE);
        // the factor is undefined there, so emit no rows (oracle mirrored).
        val tot = d.agg(count(lit(1)).as("n")).filter(col("n") >= 2L)
        top.crossJoin(broadcast(tot))
          .withColumn("num", col("n").cast(dec) * col("s2")
            - col("s1").cast(dec) * col("s1"))
          .withColumn("den", (col("n") - 1L).cast(dec) * col("s1"))
          .select(col("w").as("term"), col("df"), col("s1").as("tf"),
            col("num").cast("string").as("fano_num"),
            col("den").cast("string").as("fano_den"),
            (round(col("num").cast("double") / col("den").cast("double"), 9)
              + 0.0).as("fano"))
          .orderBy(col("term"))
      },
      oracle = Some(
        s"""WITH cnt AS (SELECT doc_id, w, count(*) AS c FROM (
           |    SELECT doc_id, unnest($wordsSql) AS w FROM documents)
           |  WHERE w <> '' GROUP BY 1, 2),
           |stats AS (SELECT w, count(*) AS df, sum(c) AS s1,
           |    sum(CAST(c AS HUGEINT) * c) AS s2
           |  FROM cnt GROUP BY 1),
           |top AS (SELECT * FROM stats ORDER BY df DESC, w LIMIT 50),
           |tot AS (SELECT count(*) AS n FROM documents HAVING count(*) >= 2),
           |z AS (SELECT w, df, s1,
           |    CAST(n AS HUGEINT) * s2 - CAST(s1 AS HUGEINT) * s1 AS num,
           |    CAST(n - 1 AS HUGEINT) * s1 AS den
           |  FROM top CROSS JOIN tot)
           |SELECT w AS term, CAST(df AS BIGINT) AS df, CAST(s1 AS BIGINT) AS tf,
           |  CAST(num AS VARCHAR) AS fano_num, CAST(den AS VARCHAR) AS fano_den,
           |  round(CAST(num AS DOUBLE) / CAST(den AS DOUBLE), 9) + 0.0 AS fano
           |FROM z ORDER BY term""".stripMargin),
      doc = "Church-Gale term burstiness: exact Fano factor over all docs (zeros algebraic, never materialized), top-50 by df, digit-string moments"),

    // Gini-Simpson vocabulary concentration per source — the probability
    // two independently drawn tokens are the SAME type, the concentration
    // complement to text_ttr_mattr's type ratio (ecology's Simpson index,
    // IR's repeat-rate). Exact rational: λ_num = Σ_w n_w(n_w−1),
    // λ_den = N(N−1) — both integer sums off one (source, term) groupBy,
    // graded as digit strings with one IEEE division for the diversity
    // 1 − λ. Scale: token scan → vocab-sized groupBy, no windows at all.
    "text_simpson_diversity" -> Q(
      fn = (s, dir) => {
        val dec = org.apache.spark.sql.types.DecimalType(38, 0)
        val cnt = Tables.documents(s, dir)
          .select(col("source"),
            explode(split(lower(trim(col("text"))), "\\s+")).as("w"))
          .filter(col("w") =!= "")
          .groupBy(col("source"), col("w")).agg(count(lit(1)).as("c"))
        cnt.groupBy(col("source"))
          .agg(count(lit(1)).as("n_types"), sum(col("c")).as("n_tokens"),
            sum(col("c").cast(dec) * (col("c") - 1L)).as("lam_num"))
          .filter(col("n_tokens") >= 2L)
          .withColumn("lam_den",
            col("n_tokens").cast(dec) * (col("n_tokens") - 1L))
          .select(col("source"), col("n_types"), col("n_tokens"),
            col("lam_num").cast("string").as("lam_num"),
            col("lam_den").cast("string").as("lam_den"),
            (round(lit(1.0) - col("lam_num").cast("double")
              / col("lam_den").cast("double"), 9) + 0.0).as("simpson_diversity"))
          .orderBy(col("source"))
      },
      oracle = Some(
        s"""WITH cnt AS (SELECT source, w, count(*) AS c FROM (
           |    SELECT source, unnest($wordsSql) AS w FROM documents)
           |  WHERE w <> '' GROUP BY 1, 2),
           |a AS (SELECT source, count(*) AS n_types, sum(c) AS n_tokens,
           |    sum(CAST(c AS HUGEINT) * (c - 1)) AS lam_num
           |  FROM cnt GROUP BY 1)
           |SELECT source, CAST(n_types AS BIGINT) AS n_types,
           |  CAST(n_tokens AS BIGINT) AS n_tokens,
           |  CAST(lam_num AS VARCHAR) AS lam_num,
           |  CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS VARCHAR)
           |    AS lam_den,
           |  round(CAST(1.0 AS DOUBLE) - CAST(lam_num AS DOUBLE)
           |    / CAST(CAST(n_tokens AS HUGEINT) * (n_tokens - 1) AS DOUBLE),
           |    9) + 0.0 AS simpson_diversity
           |FROM a WHERE n_tokens >= 2 ORDER BY source""".stripMargin),
      doc = "Gini-Simpson vocabulary concentration per source: exact rational repeat-rate, digit-string num/den, one IEEE division"))
}
