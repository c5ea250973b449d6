"""Raw-page structural features + wrapper byte-parity.

Two extraction-tier queries over the RAW page bytes (the same
``pages_from_documents`` frame the flagship extraction job consumes):

``pages_wrap_digest``
    md5 + byte length of every wrapped page, oracle-checked against a
    FULL ANSI-SQL reconstruction of ``gen/wrap.py::html_for_document``
    from ``(doc_id, text)`` alone.  This pins the entire deterministic
    page generator byte-for-byte — every nav/footer/ad/PII/canonical/
    robots fragment and the html-escape of the document text — so any
    drift between the corpus generator and the oracles' ``_BLOCKS_CTE``
    family is caught at the source, not downstream.

``pages_html_features``
    The classic boilerplate-detection DOM heuristics (the
    text-density / link-density family the main-content extractor's
    container scoring is built on — see core/html_extract.py, and the
    reference's block-level filtering in service/core/pre.py) exposed
    as a per-page QA feature table: html bytes/chars, visible text
    chars after tag stripping, anchor count, anchor-text chars,
    list-item and paragraph counts, text density (visible/html) and
    link density (anchor-text/visible).  A 100 TB crawl uses exactly
    this table to route pages (boilerplate-heavy link farms vs
    content pages) *before* paying for full extraction.

Scale shape: both queries are pure narrow maps — JVM ``regexp_*`` over
the decoded page string, zero Python in the loop, zero shuffles at any
corpus size; the features stay inside whole-stage codegen.  The only
pandas UDF in the plan is the corpus generator itself
(``pages_from_documents``), which a real deployment replaces with the
Iceberg scan.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

from ocr_spark.plans.extract_queries import pages_from_documents

_NAV_WORDS = ("home", "about", "products", "pricing", "blog", "careers")
_FOOT_WORDS = ("privacy", "terms", "contact", "sitemap", "subscribe")

FEAT_ROUND = 6


# ---------------------------------------------------------------------------
# the SQL mirror of gen/wrap.py::html_for_document
# ---------------------------------------------------------------------------

def _esc(expr: str) -> str:
    """ANSI-SQL mirror of html.escape(s, quote=True) — same replacement
    order (& first, then < > \" ')."""
    return (
        "replace(replace(replace(replace(replace(" + expr
        + ", '&', '&amp;'), '<', '&lt;'), '>', '&gt;'),"
        + " '\"', '&quot;'), chr(39), '&#x27;')"
    )


def _build_html_cte() -> str:
    sid = "CAST(doc_id AS VARCHAR)"
    s3 = "CAST(doc_id % 3 AS VARCHAR)"
    s5 = "CAST(doc_id % 5 AS VARCHAR)"
    s7 = "CAST(doc_id % 7 AS VARCHAR)"
    s11 = "CAST(doc_id % 11 AS VARCHAR)"
    s13 = "CAST(doc_id % 13 AS VARCHAR)"
    s50 = "CAST(doc_id % 50 AS VARCHAR)"
    s9a = "CAST((doc_id + 1) % 9 AS VARCHAR)"
    s9b = "CAST((doc_id + 2) % 9 AS VARCHAR)"

    nav = " || ".join(
        "'<li><a href=\"/" + w + "' || " + s7 + " || '\">" + w
        + "</a></li>'"
        for w in _NAV_WORDS)
    foot = " || ' ' || ".join(
        "'<a href=\"/" + w + "\">" + w + " ' || " + s5 + " || '</a>'"
        for w in _FOOT_WORDS)
    email = "'contact' || " + s50 + " || '@example' || " + s7 + " || '.com'"
    phone = "'555-01' || lpad(CAST(doc_id % 100 AS VARCHAR), 2, '0')"
    partner = ("'https://partner' || (CASE WHEN doc_id % 13 = 11 THEN '2'"
               " ELSE " + s5 + " END) || '.example.org/p/' || " + s13)
    canonical = ("'https://site' || " + s13
                 + " || '.example.com/doc/' || " + sid)
    robots = ("CASE WHEN doc_id % 17 = 3 THEN 'noindex,nofollow'"
              " ELSE 'index,follow' END")
    iso = ("'2024-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')"
           " || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')"
           " || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')"
           " || ':00:00Z'")
    jsonld = (
        "'{\"@context\":\"https://schema.org\",\"@type\":\"'"
        " || CASE WHEN doc_id % 10 = 0 THEN 'NewsArticle'"
        " ELSE 'Article' END"
        " || '\",\"headline\":\"Document ' || " + sid
        + " || ' Report\",\"datePublished\":\"' || " + iso
        + " || '\",\"author\":{\"@type\":\"Person\",\"name\":\"Author '"
        " || CAST(doc_id % 20 AS VARCHAR) || '\"}}'"
    )
    head_meta = (
        "'<meta property=\"og:title\" content=\"Document ' || " + sid
        + " || ' Report\">'"
        " || CASE WHEN doc_id % 3 <> 1 THEN"
        " '<meta property=\"article:published_time\" content=\"' || "
        + iso + " || '\">' ELSE '' END"
        " || CASE WHEN doc_id % 2 = 0 THEN"
        " '<script type=\"application/ld+json\">' || " + jsonld
        + " || '</script>' ELSE '' END"
    )

    def _arow(i: int) -> str:
        return (
            "'<tr><td>metric" + str(i) + "</td><td>'"
            " || CAST((doc_id * 31 + " + str(i * 7)
            + ") % 1000 AS VARCHAR)"
            " || '</td><td>unit'"
            " || CAST((doc_id + " + str(i) + ") % 4 AS VARCHAR)"
            " || '</td></tr>'"
        )

    appendix = (
        "CASE WHEN doc_id % 6 = 3 THEN"
        " '<section class=\"widget data-appendix\"><table>'"
        " || " + _arow(1) + " || " + _arow(2)
        + " || CASE WHEN doc_id % 3 >= 1 THEN " + _arow(3)
        + " ELSE '' END"
        " || CASE WHEN doc_id % 3 = 2 THEN " + _arow(4)
        + " ELSE '' END"
        " || '</table></section>' ELSE '' END"
    )

    article = (
        "'<h1>Document ' || " + sid + " || ' Report</h1>'"
        " || CASE WHEN doc_id % 3 = 0 THEN '<h2>Section ' || " + s7
        + " || ' overview and summary</h2>' ELSE '' END"
        " || '<p>' || " + _esc("text") + " || '</p>'"
        " || CASE WHEN doc_id % 2 = 0 THEN"
        " '<p>This is the closing paragraph of document ' || " + sid
        + " || ' in the corpus.</p>' ELSE '' END"
        " || CASE WHEN doc_id % 4 = 1 THEN"
        " '<p>All material on this site is provided for general"
        " information only. Reproduction of variant ' || " + s3
        + " || ' content requires prior written permission. The publisher"
        " accepts no liability for errors or omissions in this text."
        " Nothing here constitutes professional advice of any kind.</p>'"
        " ELSE '' END"
        " || CASE WHEN doc_id % 5 = 2 THEN"
        " '<ul><li>• Point 1 of document ' || " + sid
        + " || ' in the series covering topic ' || " + s9a
        + " || '.</li><li>• Point 2 of document ' || " + sid
        + " || ' in the series covering topic ' || " + s9b
        + " || '.</li><li>• Point 3 of document ' || " + sid
        + " || ' continues with more detail on the topic ...</li></ul>'"
        " ELSE '' END"
    )

    consent = (
        "CASE WHEN doc_id % 9 = 5 THEN"
        " '<div class=\"cookie-banner\">We use cookies to improve your"
        " experience. By clicking accept ' || " + s3
        + " || ' you agree to our cookie policy.</div>' ELSE '' END"
    )
    body = (
        "'<nav class=\"navbar\"><ul>' || " + nav + " || '</ul></nav>'"
        " || '<header class=\"masthead\"><span>site ' || " + s13
        + " || '</span></header>'"
        " || '<div class=\"ad-banner\"><a href=\"/ad' || " + s11
        + " || '\">buy now today</a></div>'"
        " || " + consent +
        " || '<main><article>' || " + article + " || '</article></main>'"
        " || " + appendix +
        " || '<aside class=\"sidebar\"><ul>"
        "<li><a href=\"/r1\">related one</a></li>"
        "<li><a href=\"/r2\">related two</a></li></ul></aside>'"
        " || '<footer><div>' || " + foot + " || '</div>'"
        " || '<div class=\"contact-line\">Contact <a href=\"mailto:'"
        " || " + email + " || '\">' || " + email
        + " || '</a> or call ' || " + phone
        + " || '. <a href=\"' || " + partner
        + " || '\">partner site</a></div></footer>'"
    )

    page = (
        "'<!DOCTYPE html><html><head><title>t</title>"
        "<link rel=\"canonical\" href=\"' || " + canonical + " || '\">"
        "<meta name=\"robots\" content=\"' || " + robots + " || '\">'"
        " || " + head_meta + " || "
        "'<script>var x=1;</script><style>.a{}</style></head><body>'"
        " || " + body + " || '</body></html>'"
    )

    return (
        "WITH page AS (\n"
        "  SELECT doc_id, 'doc://' || " + sid + " AS url,\n"
        "         " + page + " AS html_str\n"
        "  FROM documents\n)\n"
    )


_HTML_CTE = _build_html_cte()


# ---------------------------------------------------------------------------
# pages_wrap_digest
# ---------------------------------------------------------------------------

def pages_wrap_digest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """md5 + byte length of every wrapped page, vs the SQL
    reconstruction — the generator byte-parity pin."""
    pages = pages_from_documents(spark, sf_dir)
    return pages.select(
        "url",
        F.md5("html").alias("html_md5"),
        F.length("html").cast("long").alias("html_bytes"),
    )


PAGES_WRAP_DIGEST_SQL = _HTML_CTE + """
SELECT url, md5(html_str) AS html_md5,
       CAST(octet_length(encode(html_str)) AS BIGINT) AS html_bytes
FROM page
"""


# ---------------------------------------------------------------------------
# pages_html_features
# ---------------------------------------------------------------------------

_SCRIPT_STYLE = r"(?s)<script.*?</script>|<style.*?</style>"
_TAG = r"<[^>]*>"
_ANCHOR_TEXT = r"<a [^>]*>([^<]*)</a>"


def pages_html_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-page boilerplate-heuristic features from the raw bytes."""
    return html_features_frame(pages_from_documents(spark, sf_dir))


def _page_text(html: Column) -> tuple[Column, Column, Column]:
    """(decoded page, visible text, anchor characters) of a raw html
    BINARY column. Anchor characters are the length of the anchor
    texts joined with no separator: their exact sum, lambda-free."""
    h = F.decode(html, "UTF-8")
    visible = F.regexp_replace(F.regexp_replace(h, _SCRIPT_STYLE, ""),
                               _TAG, "")
    atexts = F.regexp_extract_all(h, F.lit(_ANCHOR_TEXT), 1)
    return h, visible, F.length(F.array_join(atexts, ""))


def html_features_frame(pages: DataFrame) -> DataFrame:
    """pages_html_features over any (url, html BINARY) frame."""
    h, visible, anchor_chars = _page_text(F.col("html"))
    base = pages.select(
        "url",
        F.length("html").cast("long").alias("html_bytes"),
        F.length(h).cast("long").alias("html_chars"),
        F.length(visible).cast("long").alias("visible_chars"),
        F.size(F.regexp_extract_all(h, F.lit("<a "), 0))
            .cast("long").alias("n_anchors"),
        anchor_chars.cast("long").alias("anchor_chars"),
        F.size(F.regexp_extract_all(h, F.lit("<li>"), 0))
            .cast("long").alias("n_list_items"),
        F.size(F.regexp_extract_all(h, F.lit("<p>"), 0))
            .cast("long").alias("n_paragraphs"),
    )
    text_density, link_density = _densities(
        F.col("html_chars"), F.col("visible_chars"), F.col("anchor_chars"))
    return base.select("*", text_density.alias("text_density"),
                       link_density.alias("link_density"))


PAGES_HTML_FEATURES_SQL = _HTML_CTE + f"""
, feat AS (
  SELECT url,
         html_str,
         regexp_replace(regexp_replace(html_str,
             '{_SCRIPT_STYLE}', '', 'g'), '{_TAG}', '', 'g') AS visible,
         regexp_extract_all(html_str, '{_ANCHOR_TEXT}', 1) AS atexts
  FROM page
)
SELECT url,
       CAST(octet_length(encode(html_str)) AS BIGINT) AS html_bytes,
       CAST(length(html_str) AS BIGINT) AS html_chars,
       CAST(length(visible) AS BIGINT) AS visible_chars,
       CAST(len(regexp_extract_all(html_str, '<a ')) AS BIGINT)
         AS n_anchors,
       CAST(COALESCE(list_sum(list_transform(atexts, x -> length(x))), 0)
            AS BIGINT) AS anchor_chars,
       CAST(len(regexp_extract_all(html_str, '<li>')) AS BIGINT)
         AS n_list_items,
       CAST(len(regexp_extract_all(html_str, '<p>')) AS BIGINT)
         AS n_paragraphs,
       round(length(visible)
             / CAST(GREATEST(length(html_str), 1) AS DOUBLE),
             {FEAT_ROUND}) AS text_density,
       round(COALESCE(list_sum(list_transform(atexts, x -> length(x))), 0)
             / CAST(GREATEST(length(visible), 1) AS DOUBLE),
             {FEAT_ROUND}) AS link_density
FROM feat
"""


# ---------------------------------------------------------------------------
# pages_extract_router
# ---------------------------------------------------------------------------

# Route thresholds. ROUTER_BIG_BYTES mirrors the extraction job's
# oversized-row route (operators/extraction.py DEFAULT_BIG_THRESHOLD);
# the density cuts sit inside the fixture's observed spread
# (link_density 0.12-0.58, text_density 0.21-0.55 at sf0.01) so both
# density routes genuinely fire in the corpus (link_heavy catches the
# thinnest pages too, so the low-text cut sits above the min
# text_density of the non-link-heavy remainder).
ROUTER_BIG_BYTES = 2_000_000
ROUTER_LINK_HEAVY = 0.35
ROUTER_LOW_TEXT = 0.33


def _densities(html_chars: Column, visible_chars: Column,
               anchor_chars: Column) -> tuple[Column, Column]:
    """(text_density, link_density), rounded to FEAT_ROUND as the
    published feature table rounds them, so a density that rounds onto
    a cut routes the same on every surface."""
    return (F.round(visible_chars / F.greatest(html_chars, F.lit(1)),
                    FEAT_ROUND),
            F.round(anchor_chars / F.greatest(visible_chars, F.lit(1)),
                    FEAT_ROUND))


def _route(html_bytes: Column, text_density: Column,
           link_density: Column) -> Column:
    """The pages_extract_router decision: the one route CASE that the
    query table (extract_router_frame), the extraction job's
    route_filter and the streaming router_sink (both through
    route_for_html) evaluate."""
    return (
        F.when(html_bytes > ROUTER_BIG_BYTES, F.lit("oversized"))
        .when(link_density >= ROUTER_LINK_HEAVY, F.lit("link_heavy"))
        .when(text_density < ROUTER_LOW_TEXT, F.lit("low_text"))
        .otherwise(F.lit("extract")))


def route_for_html(html: Column) -> Column:
    """_route over a raw html BINARY column: one JVM expression
    tree, so the extraction job can route as a pre-Arrow filter
    (job.run_extraction_job(route_filter=True)) without the feature
    table."""
    h, visible, anchor_chars = _page_text(html)
    return _route(F.length(html), *_densities(
        F.length(h), F.length(visible), anchor_chars))


def pages_extract_router(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-extraction routing gate composed over the DOM-heuristic
    features: oversized pages go to the isolated big route (the same
    rule run_extraction applies physically), link-heavy pages are
    flagged for the strict/skip path (link farms aren't worth full
    extraction), low-text-density pages for the cheap path, the rest
    to normal extraction.  At 100 TB this table IS the job planner's
    input — routing before extraction is how a crawl avoids paying
    Arrow + Python for pages that a JVM regexp already condemns.

    Scale shape: the features subplan's zero-shuffle narrow map plus a
    per-row CASE — still zero shuffles."""
    return extract_router_frame(pages_from_documents(spark, sf_dir))


def extract_router_frame(pages: DataFrame) -> DataFrame:
    """pages_extract_router over any (url, html BINARY) frame."""
    feats = html_features_frame(pages)
    route = _route(F.col("html_bytes"), F.col("text_density"),
                      F.col("link_density"))
    return feats.select("url", "html_bytes", "text_density",
                        "link_density", route.alias("route"))


def _router_sql() -> str:
    return f"""
WITH feat AS (
{PAGES_HTML_FEATURES_SQL}
)
SELECT url, html_bytes, text_density, link_density,
       CASE WHEN html_bytes > {ROUTER_BIG_BYTES} THEN 'oversized'
            WHEN link_density >= {ROUTER_LINK_HEAVY} THEN 'link_heavy'
            WHEN text_density < {ROUTER_LOW_TEXT} THEN 'low_text'
            ELSE 'extract' END AS route
FROM feat
"""


# ---------------------------------------------------------------------------
# structured metadata / publication date / table extraction
# ---------------------------------------------------------------------------

_OG_TITLE_PAT = '<meta property="og:title" content="([^"]*)"'
_META_PUB_PAT = ('<meta property="article:published_time" '
                 'content="([^"]*)"')
_JSONLD_PAT = r'<script type="application/ld\+json">(.*?)</script>'
_JSONLD_SCHEMA = ("`@type` STRING, headline STRING, "
                  "datePublished STRING, author STRUCT<name: STRING>")


def pages_structured_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured-metadata harvest from raw page bytes: OpenGraph
    ``og:title``, ``article:published_time``, and the schema.org
    JSON-LD block (type / headline / datePublished / author) — the
    metadata pass a Common-Crawl-style pipeline runs to attach titles,
    authorship, and publication dates to extracted documents (CCNet /
    news-corpus construction both key on exactly these fields).

    Spark-first: the JSON-LD payload is parsed with ``from_json``
    (JVM-side Jackson, schema-projected) — not a Python JSON loop —
    after a single anchored ``regexp_extract`` isolates the block.
    Narrow map, zero shuffles at any corpus size; the oracle
    reconstructs every field closed-form from doc_id, so a parse bug on
    EITHER side breaks the hash."""
    pages = pages_from_documents(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    ld = F.from_json(
        F.nullif(F.regexp_extract(h, _JSONLD_PAT, 1), F.lit("")),
        _JSONLD_SCHEMA)
    return pages.select(
        "url",
        F.nullif(F.regexp_extract(h, _OG_TITLE_PAT, 1), F.lit(""))
            .alias("og_title"),
        ld["@type"].alias("jsonld_type"),
        ld["headline"].alias("headline"),
        ld["author"]["name"].alias("author_name"),
        ld["datePublished"].alias("date_jsonld"),
        F.nullif(F.regexp_extract(h, _META_PUB_PAT, 1), F.lit(""))
            .alias("date_meta"),
    )


_ISO_SQL = ("'2024-' || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0')"
            " || '-' || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0')"
            " || 'T' || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')"
            " || ':00:00Z'")

PAGES_STRUCTURED_META_SQL = f"""
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       'Document ' || CAST(doc_id AS VARCHAR) || ' Report' AS og_title,
       CASE WHEN doc_id % 2 = 0 THEN
         CASE WHEN doc_id % 10 = 0 THEN 'NewsArticle' ELSE 'Article' END
       END AS jsonld_type,
       CASE WHEN doc_id % 2 = 0 THEN
         'Document ' || CAST(doc_id AS VARCHAR) || ' Report'
       END AS headline,
       CASE WHEN doc_id % 2 = 0 THEN
         'Author ' || CAST(doc_id % 20 AS VARCHAR)
       END AS author_name,
       CASE WHEN doc_id % 2 = 0 THEN {_ISO_SQL} END AS date_jsonld,
       CASE WHEN doc_id % 3 <> 1 THEN {_ISO_SQL} END AS date_meta
FROM documents
"""


def pages_date_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publication-date resolution with explicit source precedence:
    JSON-LD ``datePublished`` beats the ``article:published_time``
    meta, which beats nothing (the standard news-pipeline rule —
    JSON-LD is author-maintained structured data; the meta tag is
    CMS-injected and stale more often). The corpus genuinely routes
    through all three branches (JSON-LD on even doc_ids, meta on
    doc_id % 3 != 1, neither on odd multiples-of-3-plus-1), so the
    precedence column is load-bearing, not constant. Narrow map,
    zero shuffles; dates stay ISO strings end-to-end (no timezone
    semantics to drift between engines)."""
    pages = pages_from_documents(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    ld = F.from_json(
        F.nullif(F.regexp_extract(h, _JSONLD_PAT, 1), F.lit("")),
        _JSONLD_SCHEMA)
    d_ld = ld["datePublished"]
    d_meta = F.nullif(F.regexp_extract(h, _META_PUB_PAT, 1), F.lit(""))
    return pages.select(
        "url",
        F.coalesce(d_ld, d_meta).alias("pub_date"),
        F.when(d_ld.isNotNull(), F.lit("jsonld"))
        .when(d_meta.isNotNull(), F.lit("meta"))
        .otherwise(F.lit("none")).alias("date_source"),
    )


PAGES_DATE_EXTRACT_SQL = f"""
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       CASE WHEN doc_id % 2 = 0 OR doc_id % 3 <> 1
            THEN {_ISO_SQL} END AS pub_date,
       CASE WHEN doc_id % 2 = 0 THEN 'jsonld'
            WHEN doc_id % 3 <> 1 THEN 'meta'
            ELSE 'none' END AS date_source
FROM documents
"""


_TR_PAT = "<tr>(.*?)</tr>"
_TD_PAT = "<td>([^<]*)</td>"


def pages_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML ``<table>`` → structured rows: every data-appendix table
    row becomes a typed (metric, value, unit) record — the
    table-understanding half of document extraction (the reference's
    layout taxonomy has a first-class ``table`` label,
    /root/reference/service/core/graph.py:40-47; here the cells land
    in COLUMNS, not a text blob).

    Narrow map: ``regexp_extract_all`` rows → ``posexplode`` →
    per-row cell split, all JVM-side; pages without a table vanish at
    the explode. Zero shuffles at any corpus size."""
    pages = pages_from_documents(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    rows = F.regexp_extract_all(h, F.lit(_TR_PAT), 1)
    cells = F.regexp_extract_all(F.col("row"), F.lit(_TD_PAT), 1)
    return (
        pages.select("url", F.posexplode(rows).alias("row_idx", "row"))
        .select("url", "row_idx", cells.alias("c"))
        .select(
            "url",
            F.col("row_idx").cast("int").alias("row_idx"),
            F.col("c")[0].alias("metric"),
            F.col("c")[1].cast("long").alias("value"),
            F.col("c")[2].alias("unit"),
        )
    )


PAGES_TABLE_EXTRACT_SQL = """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       CAST(i - 1 AS INT) AS row_idx,
       'metric' || CAST(i AS VARCHAR) AS metric,
       CAST((doc_id * 31 + i * 7) % 1000 AS BIGINT) AS value,
       'unit' || CAST((doc_id + i) % 4 AS VARCHAR) AS unit
FROM documents,
     LATERAL (SELECT unnest(generate_series(1, 2 + doc_id % 3)) AS i) g
WHERE doc_id % 6 = 3
"""


_CONSENT_DIV_PAT = r'<div class="cookie-banner">([^<]*)</div>'
# the jusText/trafilatura-style consent lexicon: phrases that mark
# consent-wall boilerplate wherever it appears in the page bytes
_CONSENT_PHRASES = ("we use cookies", "you agree to", "cookie policy")


def pages_consent_banner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consent-wall (cookie-banner) contamination signal — the
    corpus-hygiene flag every Common-Crawl-derived pipeline needs:
    naive extractors leak consent boilerplate into training text
    (it is among the most duplicated strings on the crawled web), so
    pages are flagged by BOTH detectors a production gate combines —
    the container class (``cookie-banner`` div) and a lexicon hit
    count over the raw bytes (the phrase heuristic that still fires
    when the wall is served without the telltale class). Emits the
    banner text share of visible bytes so downstream can distinguish
    a banner from an interstitial that IS the page.

    Narrow zero-shuffle JVM regexp map; the oracle reconstructs both
    detectors from the page CTE."""
    pages = pages_from_documents(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    banner = F.regexp_extract(h, _CONSENT_DIV_PAT, 1)
    visible = F.regexp_replace(F.regexp_replace(h, _SCRIPT_STYLE, ""),
                               _TAG, "")
    lex_hits = sum(
        (F.when(F.lower(h).contains(p), 1).otherwise(0)
         for p in _CONSENT_PHRASES),
        F.lit(0))
    return pages.select(
        "url",
        (banner != "").alias("has_banner_class"),
        lex_hits.cast("int").alias("lexicon_hits"),
        ((banner != "") | (lex_hits >= 2)).alias("consent_wall"),
        F.length(banner).cast("long").alias("banner_chars"),
        F.round(F.length(banner)
                / F.greatest(F.length(visible), F.lit(1)), 6)
        .alias("banner_share"),
    )


def _consent_sql() -> str:
    hits = " + ".join(
        f"CASE WHEN contains(lower(html_str), '{p}') THEN 1 ELSE 0 END"
        for p in _CONSENT_PHRASES)
    return _HTML_CTE + f"""
, feat AS (
  SELECT url,
         regexp_extract(html_str, '{_CONSENT_DIV_PAT}', 1) AS banner,
         regexp_replace(regexp_replace(html_str,
             '{_SCRIPT_STYLE}', '', 'g'), '{_TAG}', '', 'g') AS visible,
         CAST({hits} AS INT) AS lexicon_hits
  FROM page
)
SELECT url,
       banner <> '' AS has_banner_class,
       lexicon_hits,
       (banner <> '' OR lexicon_hits >= 2) AS consent_wall,
       CAST(length(banner) AS BIGINT) AS banner_chars,
       round(length(banner)
             / CAST(GREATEST(length(visible), 1) AS DOUBLE), 6)
         AS banner_share
FROM feat
"""


# ---------------------------------------------------------------------------
# pages_block_density — JusText-style per-block classification
# ---------------------------------------------------------------------------

# The page generator's block-level segments in document order (each
# occurs at most once per page; regexes are RE2-safe — no
# backreferences — so Spark's Java regex and DuckDB agree).
BLOCK_SEGMENTS = (
    ("nav", r'<nav class="navbar">(.*?)</nav>'),
    ("header", r'<header class="masthead">(.*?)</header>'),
    ("ad", r'<div class="ad-banner">(.*?)</div>'),
    ("cookie", r'<div class="cookie-banner">(.*?)</div>'),
    ("article", r"<main><article>(.*?)</article></main>"),
    ("appendix", r'<section class="widget data-appendix">(.*?)</section>'),
    ("aside", r'<aside class="sidebar">(.*?)</aside>'),
    ("footer", r"<footer>(.*?)</footer>"),
)

# JusText context-free classification thresholds (Pomikálek 2011 §4.1:
# length + link density + stopword density decide, no trained model).
# Cuts sit inside the corpus's observed spread so every class fires.
JUSTEXT_SHORT = 60      # chars: below this a block can't be judged good
JUSTEXT_LD_MAX = 0.30   # link_density above → 'bad' (boilerplate)
JUSTEXT_STOP_HI = 0.08  # stop_density at/above → 'good' (full text)
_STOPLIST = ("the", "of", "and", "to", "a", "in", "is", "for")


def pages_block_density(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Block-LEVEL text/link/stopword-density classification — the
    actual granularity boilerplate strippers work at (JusText's
    context-free pass; Boilerpipe's per-block densitometry; the same
    family as core/html_extract.py's container scoring, exposed as an
    oracle-checkable feature table): segment each page into its
    block-level elements in document order, compute per-block visible
    chars, anchor chars/count, link density and stopword density, and
    assign the JusText context-free label — 'short' (too little text
    to judge), 'bad' (link-dense boilerplate), 'good' (stopword-dense
    running text), 'near_good' (the in-between the context-sensitive
    second pass would resolve).

    Scale shape: one narrow JVM map — fixed per-segment regexp
    extracts over the decoded page, an inline struct-array explode
    (8 structs per row, no join), zero shuffles at any corpus size.

    Reference parity note: the reference's block filtering
    (service/core/pre.py) is score/geometry-based over OCR boxes;
    this is the HTML-side densitometric equivalent the north rule's
    'text-density + link-density DOM heuristics' names."""
    return _block_frame(spark, sf_dir).drop("txt")


def _block_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(url, seg_idx, segment, txt, features..., label) — the JusText
    frame WITH block text, shared by pages_block_density (drops txt)
    and pages_extract_method_agreement (consumes it)."""
    pages = pages_from_documents(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    segs = F.array(*[
        F.struct(F.lit(i).alias("seg_idx"), F.lit(name).alias("segment"),
                 F.regexp_extract(h, pat, 1).alias("inner"))
        for i, (name, pat) in enumerate(BLOCK_SEGMENTS)])
    ex = (pages.select("url", F.explode(segs).alias("s"))
          .select("url", F.col("s.seg_idx").alias("seg_idx"),
                  F.col("s.segment").alias("segment"),
                  F.col("s.inner").alias("inner"))
          .filter(F.col("inner") != ""))
    text = F.regexp_replace(F.col("inner"), _TAG, "")
    atexts = F.regexp_extract_all(F.col("inner"), F.lit(_ANCHOR_TEXT), 1)
    anchor_chars = F.length(F.array_join(atexts, "")).cast("long")
    words = F.split(F.trim(text), r"\s+")
    n_words = F.size(F.filter(words, lambda w: w != ""))
    n_stop = F.size(F.filter(words,
                             lambda w: F.lower(w).isin(*_STOPLIST)))
    feat = ex.select(
        "url", "seg_idx", "segment", text.alias("txt"),
        F.length(text).cast("long").alias("text_chars"),
        anchor_chars.alias("anchor_chars"),
        F.size(atexts).cast("long").alias("n_anchors"),
        n_words.cast("long").alias("n_words"),
        F.round(anchor_chars / F.greatest(F.length(text), F.lit(1)),
                FEAT_ROUND).alias("link_density"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)),
                FEAT_ROUND).alias("stop_density"))
    label = (
        F.when(F.col("text_chars") < JUSTEXT_SHORT, F.lit("short"))
        .when(F.col("link_density") > JUSTEXT_LD_MAX, F.lit("bad"))
        .when(F.col("stop_density") >= JUSTEXT_STOP_HI, F.lit("good"))
        .otherwise(F.lit("near_good")))
    return feat.select("*", label.alias("label"))


def _block_ctes() -> str:
    """The seg → labeled CTE chain over an in-scope ``page`` CTE —
    shared by _block_density_sql and the method-agreement oracle.
    Final CTE ``lab`` has (url, seg_idx, segment, txt, features,
    label)."""
    seg_selects = []
    for i, (name, pat) in enumerate(BLOCK_SEGMENTS):
        p = pat.replace("'", "''")
        seg_selects.append(
            f"SELECT url, {i} AS seg_idx, '{name}' AS segment,\n"
            f"       regexp_extract(html_str, '{p}', 1) AS seg_html\n"
            f"FROM page")
    segs = "\nUNION ALL\n".join(seg_selects)
    stop_in = ", ".join(f"'{w}'" for w in _STOPLIST)
    return f"""
, seg AS (
{segs}
), nonempty AS (
  SELECT * FROM seg WHERE seg_html <> ''
), feat AS (
  SELECT url, seg_idx, segment,
         regexp_replace(seg_html, '{_TAG}', '', 'g') AS txt,
         regexp_extract_all(seg_html, '{_ANCHOR_TEXT}', 1) AS atexts,
         list_filter(string_split_regex(
             trim(regexp_replace(seg_html, '{_TAG}', '', 'g')), '\\s+'),
             w -> w <> '') AS words
  FROM nonempty
), m AS (
  SELECT url, seg_idx, segment, txt,
         CAST(length(txt) AS BIGINT) AS text_chars,
         CAST(COALESCE(list_sum(list_transform(atexts,
              x -> length(x))), 0) AS BIGINT) AS anchor_chars,
         CAST(len(atexts) AS BIGINT) AS n_anchors,
         CAST(len(words) AS BIGINT) AS n_words,
         round(COALESCE(list_sum(list_transform(atexts,
               x -> length(x))), 0)
               / CAST(GREATEST(length(txt), 1) AS DOUBLE),
               {FEAT_ROUND}) AS link_density,
         round(len(list_filter(words, w -> lower(w) IN ({stop_in})))
               / CAST(GREATEST(len(words), 1) AS DOUBLE),
               {FEAT_ROUND}) AS stop_density
  FROM feat
), lab AS (
  SELECT *,
         CASE WHEN text_chars < {JUSTEXT_SHORT} THEN 'short'
              WHEN link_density > {JUSTEXT_LD_MAX} THEN 'bad'
              WHEN stop_density >= {JUSTEXT_STOP_HI} THEN 'good'
              ELSE 'near_good' END AS label
  FROM m
)"""


def _block_density_sql() -> str:
    return _HTML_CTE + _block_ctes() + """
SELECT url, seg_idx, segment, text_chars, anchor_chars, n_anchors,
       n_words, link_density, stop_density, label
FROM lab
"""


# ---------------------------------------------------------------------------
# pages_dom_depth — tag-nesting depth profile
# ---------------------------------------------------------------------------

# void (self-closing) elements in the generator's vocabulary: depth-
# neutral in the running open/close balance
_VOID_TAGS = ("meta", "link", "br", "img", "input", "hr")


def pages_dom_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DOM nesting-depth profile per page — the structural-complexity
    heuristic crawl QA uses beside the density features (template
    pages nest shallow and uniform; scraped/generated spam nests
    erratically deep): tokenize the tag stream in document order,
    treat void elements as depth-neutral, run the open/close balance,
    and report max depth, tag counts, and the final balance (non-zero
    = malformed markup, itself a routing signal).

    Scale shape: tag extraction is a narrow map; the running balance
    is ONE url-keyed window over the page's own tag stream (rows =
    tag volume, keyed url, no global ordering anywhere)."""
    pages = pages_from_documents(spark, sf_dir)
    h = F.decode(F.col("html"), "UTF-8")
    tags = F.regexp_extract_all(h, F.lit(r"</?([a-zA-Z][a-zA-Z0-9]*)"), 0)
    ex = (pages.select("url", F.posexplode(tags).alias("pos", "tag")))
    name = F.lower(F.regexp_replace("tag", r"[</]", ""))
    is_close = F.col("tag").startswith("</")
    delta = (F.when(name.isin(*_VOID_TAGS), F.lit(0))
             .when(is_close, F.lit(-1)).otherwise(F.lit(1)))
    w = (Window.partitionBy("url").orderBy("pos")
         .rowsBetween(Window.unboundedPreceding, 0))
    per_tag = (ex.select("url", "pos", delta.alias("delta"),
                         name.alias("name"))
               .withColumn("depth", F.sum("delta").over(w)))
    return (per_tag.groupBy("url")
            .agg(F.max("depth").cast("long").alias("max_depth"),
                 F.count(F.lit(1)).cast("long").alias("n_tags"),
                 F.sum((F.col("delta") == 0).cast("long"))
                 .alias("n_void"),
                 F.sum("delta").cast("long").alias("final_balance"))
            .orderBy("url"))


def _dom_depth_sql() -> str:
    void_in = ", ".join(f"'{t}'" for t in _VOID_TAGS)
    return _HTML_CTE + f"""
, tag AS (
  -- unnest + generate_subscripts zip to (token, 1-based position)
  SELECT url,
         unnest(regexp_extract_all(html_str,
                '</?[a-zA-Z][a-zA-Z0-9]*')) AS tagtok,
         CAST(generate_subscripts(regexp_extract_all(html_str,
              '</?[a-zA-Z][a-zA-Z0-9]*'), 1) AS BIGINT) AS pos
  FROM page
), d AS (
  SELECT url, pos,
         CASE WHEN lower(regexp_replace(tagtok, '[</]', '', 'g'))
                   IN ({void_in}) THEN 0
              WHEN tagtok LIKE '</%' THEN -1 ELSE 1 END AS delta
  FROM tag
), run AS (
  SELECT url, delta,
         SUM(delta) OVER (PARTITION BY url ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND CURRENT ROW) AS depth
  FROM d
)
SELECT url,
       CAST(MAX(depth) AS BIGINT) AS max_depth,
       CAST(COUNT(*) AS BIGINT) AS n_tags,
       CAST(SUM(CASE WHEN delta = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_void,
       CAST(SUM(delta) AS BIGINT) AS final_balance
FROM run
GROUP BY url
ORDER BY url
"""


# ---------------------------------------------------------------------------
# pages_extract_method_agreement — kernel vs JusText cross-check
# ---------------------------------------------------------------------------

def pages_extract_method_agreement(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Two-extractor agreement scorecard: the container-scoring kernel
    (the flagship mapInPandas extraction, byte-identity-pinned) vs an
    INDEPENDENT JusText reconstruction (good/near_good blocks of
    pages_block_density, concatenated in document order) — per page,
    distinct-token Jaccard overlap and char-length ratio between the
    two methods' extracted text. This is the extractor-QA dashboard a
    production crawl runs after any heuristic change: systematic
    divergence (e.g. a stopword-dense cookie banner classified
    'good' — the classic JusText false positive, present in this
    corpus by design) shows up as a per-page agreement drop
    attributable to a block class, without any gold labels.

    Scale shape: the kernel side is the extraction job's own
    plan; the JusText side is the zero-shuffle block frame + one
    url-keyed concat aggregate; the comparison is a url equi-join and
    JVM array ops — no token-level shuffle (token sets stay inside
    per-row arrays)."""
    from ocr_spark.plans.extract_queries import extract_roundtrip

    kernel = extract_roundtrip(spark, sf_dir) \
        .select("url", F.col("text").alias("ktext"))
    blocks = _block_frame(spark, sf_dir) \
        .filter(F.col("label").isin("good", "near_good"))
    jt = (blocks.groupBy("url")
          .agg(F.concat_ws(" ", F.transform(
              F.array_sort(F.collect_list(F.struct("seg_idx", "txt"))),
              lambda s: s["txt"])).alias("jtext")))

    def toks(col):
        return F.array_distinct(
            F.filter(F.split(F.lower(F.trim(col)), r"\s+"),
                     lambda w: w != ""))

    j = kernel.join(jt, "url")
    ka, jb = toks(F.col("ktext")), toks(F.col("jtext"))
    n_common = F.size(F.array_intersect(ka, jb))
    return (j.select(
        "url",
        F.size(ka).cast("long").alias("n_tok_kernel"),
        F.size(jb).cast("long").alias("n_tok_justext"),
        n_common.cast("long").alias("n_common"),
        F.round(n_common / (F.size(ka) + F.size(jb) - n_common),
                FEAT_ROUND).alias("token_jaccard"),
        F.round(F.length("jtext")
                / F.greatest(F.length("ktext"), F.lit(1)),
                FEAT_ROUND).alias("len_ratio"))
        .orderBy("url"))


def _method_agreement_sql() -> str:
    from ocr_spark.plans.extract_queries import _BLOCKS_CTE

    return (_BLOCKS_CTE.rstrip()
            + ", " + _HTML_CTE.removeprefix("WITH ")
            + _block_ctes() + """
, kernel AS (
  SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
         string_agg(btext, chr(10) || chr(10) ORDER BY block_id)
           AS ktext
  FROM seq GROUP BY doc_id
), jt AS (
  SELECT url, string_agg(txt, ' ' ORDER BY seg_idx) AS jtext
  FROM lab WHERE label IN ('good', 'near_good')
  GROUP BY url
), pairs AS (
  SELECT k.url,
         list_distinct(list_filter(string_split_regex(
             lower(trim(k.ktext)), '\\s+'), w -> w <> '')) AS ka,
         list_distinct(list_filter(string_split_regex(
             lower(trim(j.jtext)), '\\s+'), w -> w <> '')) AS jb,
         length(j.jtext) AS jlen, length(k.ktext) AS klen
  FROM kernel k JOIN jt j ON j.url = k.url
)
SELECT url,
       CAST(len(ka) AS BIGINT) AS n_tok_kernel,
       CAST(len(jb) AS BIGINT) AS n_tok_justext,
       CAST(len(list_filter(ka, x -> list_contains(jb, x)))
            AS BIGINT) AS n_common,
       round(len(list_filter(ka, x -> list_contains(jb, x)))
             / CAST(len(ka) + len(jb)
                    - len(list_filter(ka, x -> list_contains(jb, x)))
                    AS DOUBLE), """ + str(FEAT_ROUND) + """)
         AS token_jaccard,
       round(jlen / CAST(GREATEST(klen, 1) AS DOUBLE), """
            + str(FEAT_ROUND) + """) AS len_ratio
FROM pairs
ORDER BY url
""")


SPARK_QUERIES = {
    "pages_structured_meta": pages_structured_meta,
    "pages_consent_banner": pages_consent_banner,
    "pages_date_extract": pages_date_extract,
    "pages_table_extract": pages_table_extract,
    "pages_wrap_digest": pages_wrap_digest,
    "pages_html_features": pages_html_features,
    "pages_extract_router": pages_extract_router,
    "pages_block_density": pages_block_density,
    "pages_dom_depth": pages_dom_depth,
    "pages_extract_method_agreement": pages_extract_method_agreement,
}

ORACLE_SQL = {
    "pages_structured_meta": PAGES_STRUCTURED_META_SQL,
    "pages_consent_banner": _consent_sql(),
    "pages_date_extract": PAGES_DATE_EXTRACT_SQL,
    "pages_table_extract": PAGES_TABLE_EXTRACT_SQL,
    "pages_wrap_digest": PAGES_WRAP_DIGEST_SQL,
    "pages_html_features": PAGES_HTML_FEATURES_SQL,
    "pages_extract_router": _router_sql(),
    "pages_block_density": _block_density_sql(),
    "pages_dom_depth": _dom_depth_sql(),
    "pages_extract_method_agreement": _method_agreement_sql(),
}
