"""Extraction-engine queries for the driver contract.

``extract_roundtrip`` is the flagship: wrap every ``documents`` row in a
deterministic boilerplate-laden MULTI-BLOCK HTML page (gen/wrap.py:
title + optional section heading + document text + optional closing
paragraph, 2-5 content blocks per page), push it through the full salted
mapInArrow extraction pipeline, and return (url, text). The DuckDB
oracle recomputes the expected extracted text from (doc_id, text) alone
— so the driver's value-hash compare *is* the north rule's
byte-identical-text gate, executed end-to-end through Spark.

``extract_block_stats`` checks the structured output one level deeper:
one row PER CONTENT BLOCK with label and char offsets, all recomputed
independently in SQL (labels, block order, and the cumulative
"\\n\\n"-joined offset arithmetic).

``document_graph_edges`` closes the J4 loop: the per-page sequence
chain over extracted typed blocks (operators/graph.py, reference
graph.py:60-76) vs the SQL-derived expected chain.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import BinaryType

from ocr_spark.operators.extraction import run_extraction, with_typed_structs
from ocr_spark.operators.graph import document_graph_edges


def pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents(doc_id, text, lang, …) → pages(url, warc_ts, html, text,
    lang) per the input_hint shape, html synthesized deterministically."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")

    @F.pandas_udf(BinaryType())
    def wrap_html(doc_id: pd.Series, text: pd.Series) -> pd.Series:
        from ocr_spark.gen.wrap import html_for_document
        return pd.Series([
            html_for_document(int(d), t if t is not None else "")
            for d, t in zip(doc_id, text)
        ])

    return docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string")).alias("url"),
        F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        wrap_html("doc_id", "text").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def extract_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    pages = pages_from_documents(spark, sf_dir)
    extracted = run_extraction(pages, partitions=32, big_partitions=2)
    return extracted.select("url", "text")


# The expected content blocks, as SQL — MUST mirror
# gen/wrap.py::content_blocks_for_document exactly.
_BLOCKS_CTE = """
WITH b AS (
  SELECT doc_id, text,
         'Document ' || CAST(doc_id AS VARCHAR) || ' Report' AS t_title,
         CASE WHEN doc_id % 3 = 0
              THEN 'Section ' || CAST(doc_id % 7 AS VARCHAR)
                   || ' overview and summary' END AS t_heading,
         CASE WHEN doc_id % 2 = 0
              THEN 'This is the closing paragraph of document '
                   || CAST(doc_id AS VARCHAR) || ' in the corpus.'
              END AS t_closing,
         CASE WHEN doc_id % 4 = 1
              THEN 'All material on this site is provided for general '
                   || 'information only. Reproduction of variant '
                   || CAST(doc_id % 3 AS VARCHAR)
                   || ' content requires prior written permission. '
                   || 'The publisher accepts no liability for errors '
                   || 'or omissions in this text. Nothing here '
                   || 'constitutes professional advice of any kind.'
              END AS t_disclaimer,
         CASE WHEN doc_id % 5 = 2
              THEN '• Point 1 of document ' || CAST(doc_id AS VARCHAR)
                   || ' in the series covering topic '
                   || CAST((doc_id + 1) % 9 AS VARCHAR) || '.'
              END AS t_li1,
         CASE WHEN doc_id % 5 = 2
              THEN '• Point 2 of document ' || CAST(doc_id AS VARCHAR)
                   || ' in the series covering topic '
                   || CAST((doc_id + 2) % 9 AS VARCHAR) || '.'
              END AS t_li2,
         CASE WHEN doc_id % 5 = 2
              THEN '• Point 3 of document ' || CAST(doc_id AS VARCHAR)
                   || ' continues with more detail on the topic ...'
              END AS t_li3
  FROM documents
), rows0 AS (
  SELECT doc_id, 0 AS pos, 'doc_title' AS label, t_title AS btext FROM b
  UNION ALL
  SELECT doc_id, 1, 'paragraph_title', t_heading FROM b
  WHERE t_heading IS NOT NULL
  UNION ALL
  SELECT doc_id, 2, 'text', text FROM b
  UNION ALL
  SELECT doc_id, 3, 'text', t_closing FROM b WHERE t_closing IS NOT NULL
  UNION ALL
  SELECT doc_id, 4, 'text', t_disclaimer FROM b
  WHERE t_disclaimer IS NOT NULL
  UNION ALL
  SELECT doc_id, 5, 'text', t_li1 FROM b WHERE t_li1 IS NOT NULL
  UNION ALL
  SELECT doc_id, 6, 'text', t_li2 FROM b WHERE t_li2 IS NOT NULL
  UNION ALL
  SELECT doc_id, 7, 'text', t_li3 FROM b WHERE t_li3 IS NOT NULL
), seq AS (
  SELECT doc_id, label, btext,
         CAST(ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pos) - 1
              AS INT) AS block_id,
         CAST(COALESCE(SUM(length(btext) + 2) OVER (
                PARTITION BY doc_id ORDER BY pos
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              AS INT) AS char_start
  FROM rows0
)
"""

EXTRACT_ROUNDTRIP_SQL = _BLOCKS_CTE + """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       string_agg(btext, chr(10) || chr(10) ORDER BY block_id) AS text
FROM seq GROUP BY doc_id
"""


def extract_block_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One row per content block of the structured output: (url,
    block_id, label, char_start, char_end, block_len) — the oracle
    recomputes every value from (doc_id, text), so labels, block order,
    and the cumulative offset arithmetic are all value-checked through
    the full Spark pipeline."""
    pages = pages_from_documents(spark, sf_dir)
    extracted = with_typed_structs(run_extraction(pages, partitions=32,
                                                  big_partitions=2))
    return (extracted.select("url", F.explode("blocks").alias("b"))
            .select("url",
                    F.col("b.block_id").alias("block_id"),
                    F.col("b.label").alias("label"),
                    F.col("b.char_start").alias("char_start"),
                    F.col("b.char_end").alias("char_end"),
                    F.length("b.text").alias("block_len")))


EXTRACT_BLOCK_STATS_SQL = _BLOCKS_CTE + """
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       block_id, label, char_start,
       CAST(char_start + length(btext) AS INT) AS char_end,
       CAST(length(btext) AS INT) AS block_len
FROM seq
"""


def graph_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4 through the full pipeline: extraction → typed blocks →
    relational sequence edges (operators/graph.py). The wrapped HTML
    corpus yields one page-0 chain per document over its 2-5 content
    blocks; the oracle derives the same chain from doc_id. (The
    hierarchical/blacklist/per-page-index semantics over multi-page
    documents are pinned by tests/test_graph.py's reference replay —
    HTML pages carry no section_info.)"""
    pages = pages_from_documents(spark, sf_dir)
    extracted = with_typed_structs(run_extraction(pages, partitions=32,
                                                  big_partitions=2))
    return document_graph_edges(extracted)


GRAPH_EDGES_SQL = """
WITH k AS (
  SELECT doc_id,
         2 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 4 = 1 THEN 1 ELSE 0 END
           + CASE WHEN doc_id % 5 = 2 THEN 3 ELSE 0 END AS n
  FROM documents
)
SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
       'pg0_box' || CAST(i AS VARCHAR) AS src,
       'pg0_box' || CAST(i + 1 AS VARCHAR) AS dst,
       'sequence' AS edge_type
FROM k, unnest(range(n - 1)) AS t(i)
"""

# CleanEval-style extraction scoring: token-multiset overlap between a
# predicted extraction and the gold main content, normalized to
# lowercase alphanumeric runs (case/punctuation differences are not
# extraction errors).
_EVAL_TOK_PAT = r"[^a-z0-9]+"


def _eval_tok_counts(df: DataFrame, n_col: str) -> DataFrame:
    """(url, text) → per-(url, token) multiset counts."""
    return (df.select("url", F.explode(F.filter(
                F.split(F.lower(F.col("text")), _EVAL_TOK_PAT),
                lambda t: t != "")).alias("tok"))
            .groupBy("url", "tok").agg(F.count("*").alias(n_col)))


def extract_eval_tokenf1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction-quality evaluation harness (CleanEval / boilerplate-
    removal-benchmark style): per document, token-multiset precision /
    recall / F1 of the FULL Spark extraction pipeline against the gold
    main content (documents.text), overlap = Σ_tok min(count_gold,
    count_pred). On this corpus recall is 1.0 by construction (the
    byte-identity gate guarantees the gold text survives verbatim) and
    precision < 1 varies per doc with the block mix (title + optional
    heading/closing/disclaimer/bullets are extra tokens) — every value
    recomputed closed-form by the oracle. The same kernel scores any
    competing extractor; tests pin that a naive strip-tags strawman
    (nav/ads/footer kept) loses on precision for every document.

    Scale shape: evaluation runs over a GOLD-LABELED set, which is
    sampled (thousands of docs), not the whole corpus; the two
    per-(url, token) groupBys and the full-outer join shuffle token
    volume keyed (url, token) — bounded by eval-set size, and per-doc
    partial aggregation combines map-side."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gold = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
         .alias("url"),
        "text")
    pages = pages_from_documents(spark, sf_dir)
    pred = run_extraction(pages, partitions=32,
                          big_partitions=2).select("url", "text")
    return token_prf(gold, pred)


def token_prf(gold: DataFrame, pred: DataFrame) -> DataFrame:
    """Token-multiset P/R/F1 of pred(url, text) vs gold(url, text) —
    the scoring kernel behind extract_eval_tokenf1, reusable against
    any competing extractor's output."""
    j = (_eval_tok_counts(gold, "ng")
         .join(_eval_tok_counts(pred, "np"), ["url", "tok"], "full_outer")
         .select("url",
                 F.coalesce("ng", F.lit(0)).alias("ng"),
                 F.coalesce("np", F.lit(0)).alias("np")))
    agg = j.groupBy("url").agg(
        F.sum("ng").alias("n_gold"),
        F.sum("np").alias("n_pred"),
        F.sum(F.least("ng", "np")).alias("n_overlap"))
    # try_divide: a gold url the extractor lost entirely (n_pred = 0)
    # scores null precision/F1 rather than erroring under ANSI mode —
    # run_eval_job counts those rows as n_unextracted
    p = F.try_divide(F.col("n_overlap"), F.col("n_pred"))
    r = F.try_divide(F.col("n_overlap"), F.col("n_gold"))
    f1 = F.when((p + r) == 0, F.lit(0.0)) \
        .otherwise(F.try_divide(2 * p * r, p + r))
    return agg.select(
        "url", "n_gold", "n_pred", "n_overlap",
        F.round(p, 6).alias("token_precision"),
        F.round(r, 6).alias("token_recall"),
        F.round(f1, 6).alias("token_f1"))


EXTRACT_EVAL_TOKENF1_SQL = _BLOCKS_CTE + """
, pred AS (
  SELECT doc_id,
         string_agg(btext, chr(10) || chr(10) ORDER BY block_id) AS text
  FROM seq GROUP BY doc_id
), gtok AS (
  SELECT url, tok, COUNT(*) AS ng FROM (
    SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
    FROM documents
  ) WHERE tok <> '' GROUP BY url, tok
), ptok AS (
  SELECT url, tok, COUNT(*) AS np FROM (
    SELECT 'doc://' || CAST(doc_id AS VARCHAR) AS url,
           unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS tok
    FROM pred
  ) WHERE tok <> '' GROUP BY url, tok
), j AS (
  SELECT COALESCE(gtok.url, ptok.url) AS url,
         COALESCE(ng, 0) AS ng, COALESCE(np, 0) AS np
  FROM gtok FULL OUTER JOIN ptok
    ON gtok.url = ptok.url AND gtok.tok = ptok.tok
), m AS (
  SELECT url, SUM(ng) AS n_gold, SUM(np) AS n_pred,
         SUM(LEAST(ng, np)) AS n_overlap
  FROM j GROUP BY url
)
SELECT url,
       CAST(n_gold AS BIGINT) AS n_gold,
       CAST(n_pred AS BIGINT) AS n_pred,
       CAST(n_overlap AS BIGINT) AS n_overlap,
       round(n_overlap / n_pred, 6) AS token_precision,
       round(n_overlap / n_gold, 6) AS token_recall,
       round(2.0 * (n_overlap / n_pred) * (n_overlap / n_gold)
             / (n_overlap / n_pred + n_overlap / n_gold), 6) AS token_f1
FROM m
"""


def extract_eval_cer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level extraction eval — the OCR-literature metric
    (CER = edit distance / gold length) beside extract_eval_tokenf1's
    token-multiset view: per document, the Levenshtein distance
    between the FULL Spark extraction output and the gold main
    content, normalized by gold length. Token F1 is blind to
    intra-token corruption and to ordering; edit distance is the
    strictest sequence-level score short of byte identity, and it is
    the number an OCR path (U2) is actually graded on. On this corpus
    the gold text survives verbatim as one contiguous block, so the
    distance equals the inserted-boilerplate mass (n_pred - n_gold) —
    the oracle recomputes the distance with DuckDB's own Levenshtein
    DP, so the value check is a genuine cross-implementation pin of
    the metric (tests cover substitution/transposition cases where
    the identity does NOT hold).

    Cross-engine caveat, measured before use: Spark's levenshtein is
    CHARACTER-based, DuckDB's is BYTE-based. The documents table is
    ASCII-only at every SF (octet_length == length for all rows), but
    the extraction output carries the wrapper's '•' bullet glyph
    (3 UTF-8 bytes), which inflated the DuckDB distance by +2 per
    bullet. Both engines therefore score an ASCII projection
    ('•' -> '*') — a 1:1 codepoint remap, under which the
    char-level distance (the true metric, what Spark computes) is
    invariant; it only strips the byte-width artifact from the
    oracle's DP.

    Scale shape: like extract_eval_tokenf1, this runs over a
    GOLD-LABELED eval set (sampled thousands, not the corpus); the
    join is url-keyed with the gold side broadcastable, and the DP is
    a narrow per-row compute bounded by document length — the O(n*m)
    cost is per-pair, embarrassingly parallel, with no shuffle beyond
    the one equi-join."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    gold = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
         .alias("url"),
        F.col("text").alias("gold_text"))
    pages = pages_from_documents(spark, sf_dir)
    pred = run_extraction(pages, partitions=32,
                          big_partitions=2).select("url", "text")
    lev = F.levenshtein(F.translate(F.col("text"), "•", "*"),
                        F.translate(F.col("gold_text"), "•", "*"))
    return (pred.join(F.broadcast(gold), "url")
            .select(
                "url",
                F.length("gold_text").cast("long").alias("n_gold_chars"),
                F.length("text").cast("long").alias("n_pred_chars"),
                lev.cast("long").alias("lev_dist"),
                F.round(lev / F.length("gold_text"), 6).alias("cer")))


EXTRACT_EVAL_CER_SQL = _BLOCKS_CTE + """
, pred AS (
  SELECT doc_id,
         string_agg(btext, chr(10) || chr(10) ORDER BY block_id) AS ptext
  FROM seq GROUP BY doc_id
)
SELECT 'doc://' || CAST(d.doc_id AS VARCHAR) AS url,
       CAST(length(d.text) AS BIGINT) AS n_gold_chars,
       CAST(length(p.ptext) AS BIGINT) AS n_pred_chars,
       CAST(levenshtein(replace(p.ptext, chr(8226), '*'),
                        replace(d.text, chr(8226), '*')) AS BIGINT)
         AS lev_dist,
       round(levenshtein(replace(p.ptext, chr(8226), '*'),
                         replace(d.text, chr(8226), '*'))
             / CAST(length(d.text) AS DOUBLE), 6) AS cer
FROM pred p JOIN documents d ON p.doc_id = d.doc_id
"""


def pages_paginate_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paginated-document reassembly — the MANY-pages→ONE-doc
    extraction cardinality (article split across /doc/N?page=1..3):
    page parts are synthesized in-plan by cutting each document's
    text at fixed third boundaries, then the OPERATOR re-derives the
    base url and page index from each part's url, shuffles parts to
    their base, and stitches them back in page order (sort_array over
    (page, part) structs — the same unspecified-collect_list-order
    pin as the shard manifests). The oracle recomputes the md5 of the
    ORIGINAL text, so the value hash is a byte-parity gate on the
    ordered reassembly: any part lost, duplicated, or concatenated
    out of order fails the compare.

    Scale shape: one shuffle keyed base_url (partial-agg collect of
    ≤3 bounded parts per group); the split side is a narrow map +
    explode."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n = F.length("text")
    b1 = F.floor(n / 3).cast("int")
    b2 = F.floor(n * 2 / 3).cast("int")
    parts = F.array(
        F.struct(F.lit(1).alias("page"),
                 F.substring("text", F.lit(1), b1).alias("part")),
        F.struct(F.lit(2).alias("page"),
                 F.substring("text", b1 + 1, b2 - b1).alias("part")),
        F.struct(F.lit(3).alias("page"),
                 F.substring("text", b2 + 1, (n - b2).cast("int"))
                  .alias("part")))
    paged = (docs.select("doc_id", F.explode(parts).alias("p"))
             .select(
                 F.concat(F.lit("https://site"),
                          (F.col("doc_id") % 13).cast("string"),
                          F.lit(".example.com/doc/"),
                          F.col("doc_id").cast("string"),
                          F.lit("?page="),
                          F.col("p.page").cast("string")).alias("url"),
                 F.col("p.part").alias("part")))
    base = F.regexp_extract("url", r"^(.*)\?page=\d+$", 1)
    page = F.regexp_extract("url", r"\?page=(\d+)$", 1).cast("int")
    stitched = (paged
                .select(base.alias("base_url"), page.alias("page"), "part")
                .groupBy("base_url")
                .agg(F.count("*").alias("n_parts"),
                     F.array_join(F.transform(
                         F.sort_array(F.collect_list(
                             F.struct("page", "part"))),
                         lambda s: s["part"]), "").alias("stitched")))
    return stitched.select(
        "base_url", "n_parts",
        F.length("stitched").cast("long").alias("stitched_len"),
        F.md5("stitched").alias("stitched_md5"))


PAGES_PAGINATE_STITCH_SQL = """
SELECT 'https://site' || CAST(doc_id % 13 AS VARCHAR)
         || '.example.com/doc/' || CAST(doc_id AS VARCHAR) AS base_url,
       CAST(3 AS BIGINT) AS n_parts,
       CAST(length(text) AS BIGINT) AS stitched_len,
       md5(text) AS stitched_md5
FROM documents
"""


THREAD_POSTS = 3   # documents embedded per synthesized thread page


def pages_thread_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Thread-page post extraction — the ONE-page→MANY-docs
    cardinality (forum thread / comment page carrying several
    independent documents): thread pages are synthesized in-plan by
    packing THREAD_POSTS consecutive documents into one page body
    with ``<post id=…>`` markers, then the OPERATOR parses every post
    back out with a non-greedy generator regex, emitting one row per
    post with its id, byte offsets within the page, and text md5. The
    oracle recomputes ids/offsets/md5s closed-form from the member
    documents, so marker parsing, explode cardinality, and the offset
    arithmetic are all value-checked.

    Scale shape: synthesis is one groupBy keyed thread_id (bounded
    groups of THREAD_POSTS); the extraction itself — the operator
    under test — is a zero-shuffle narrow map + generator explode."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    member = (docs.select(
        (F.floor(F.col("doc_id") / THREAD_POSTS)).cast("long")
        .alias("thread_id"),
        "doc_id", "text"))
    body = (member.groupBy("thread_id")
            .agg(F.array_join(F.transform(
                F.sort_array(F.collect_list(F.struct("doc_id", "text"))),
                lambda s: F.concat(F.lit("<post id="),
                                   s["doc_id"].cast("string"),
                                   F.lit(">"), s["text"],
                                   F.lit("</post>"))), "")
                .alias("body")))
    posts = (body.select(
        "thread_id",
        F.explode(F.regexp_extract_all(
            "body", F.lit(r"<post id=\d+>.*?</post>"), 0)).alias("p"),
        "body")
        .select(
            "thread_id",
            F.regexp_extract("p", r"<post id=(\d+)>", 1).cast("long")
             .alias("post_doc_id"),
            (F.expr("instr(body, p)")     # 1-based fragment position
             + F.length(F.regexp_extract("p", r"^<post id=\d+>", 0)))
            .cast("long").alias("char_start"),
            F.md5(F.regexp_extract("p", r"^<post id=\d+>(.*)</post>$", 1))
             .alias("post_md5"),
            F.length(F.regexp_extract("p", r"^<post id=\d+>(.*)</post>$",
                                      1)).cast("long").alias("post_len")))
    return posts


PAGES_THREAD_EXPLODE_SQL = f"""
WITH member AS (
  SELECT CAST(doc_id // {THREAD_POSTS} AS BIGINT) AS thread_id,
         doc_id, text,
         '<post id=' || CAST(doc_id AS VARCHAR) || '>' || text
           || '</post>' AS frag
  FROM documents
), offs AS (
  SELECT thread_id, doc_id, text,
         COALESCE(SUM(length(frag)) OVER (
             PARTITION BY thread_id ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS frag_start,
         length('<post id=' || CAST(doc_id AS VARCHAR) || '>')
           AS marker_len
  FROM member
)
SELECT thread_id, doc_id AS post_doc_id,
       CAST(frag_start + marker_len + 1 AS BIGINT) AS char_start,
       md5(text) AS post_md5,
       CAST(length(text) AS BIGINT) AS post_len
FROM offs
"""


SPARK_QUERIES = {
    "extract_roundtrip": extract_roundtrip,
    "extract_block_stats": extract_block_stats,
    "document_graph_edges": graph_edges,
    "extract_eval_tokenf1": extract_eval_tokenf1,
    "extract_eval_cer": extract_eval_cer,
    "pages_paginate_stitch": pages_paginate_stitch,
    "pages_thread_explode": pages_thread_explode,
}

ORACLE_SQL = {
    "extract_roundtrip": EXTRACT_ROUNDTRIP_SQL,
    "extract_block_stats": EXTRACT_BLOCK_STATS_SQL,
    "document_graph_edges": GRAPH_EDGES_SQL,
    "extract_eval_tokenf1": EXTRACT_EVAL_TOKENF1_SQL,
    "extract_eval_cer": EXTRACT_EVAL_CER_SQL,
    "pages_paginate_stitch": PAGES_PAGINATE_STITCH_SQL,
    "pages_thread_explode": PAGES_THREAD_EXPLODE_SQL,
}
