"""Corpus curation operators: statistical quality scoring, deterministic
sampling, and training-shard packing.

The stages that come AFTER filtering/dedup in a training-data pipeline:
score what survived, choose a mixture, and pack it into shards. The
reference (CMDF/ocr) has none of these (one-document service); each is
specified by public pipeline literature:

  * unigram log-prob scoring — the CCNet recipe (Wenzek et al. 2020)
    scores documents with a language-model perplexity and splits the
    corpus into head/middle/tail terciles; here the LM is a corpus-wide
    add-1-smoothed unigram model (two passes: global counts, then
    per-doc average log-prob) — swapping a real KenLM in replaces the
    probability lookup, not the Spark shape;
  * deterministic hash sampling — mixture construction needs samples
    that are reproducible across runs and engines, so selection is
    "md5(key) < threshold" (uniform in [0,1) over the hash hex), with
    per-language rates — no RNG, no seed state, re-runnable;
  * model-based quality scoring — the fastText-style linear
    bag-of-words classifier of the DCLM / FineWeb-Edu quality-filter
    recipes: a broadcast (token, weight) table from a versioned
    offline-trained artifact, sigmoid(mean weight + bias), keep/drop
    at 0.5 — the LM/classifier-table broadcast-lookup seam (a real
    fastText vocab swaps in by replacing the artifact file);
  * shard packing — greedy token-budget packing via a running-sum
    window: shard_id = floor(exclusive-prefix-sum / budget), windowed
    PER LANGUAGE so the packing parallelizes across strata (a single
    global ordered window would serialize; at production scale packing
    runs per output partition and the shard key is (partition, local
    shard) — this per-stratum form keeps that shape while staying
    oracle-checkable).

Scale notes (100 TB):
  * the unigram-count pass is explode → partial-agg groupBy(token) —
    shuffle volume is distinct-token counts; the score pass joins
    tokens to counts on token (the LM table; with a real trimmed LM it
    broadcasts) then one groupBy(doc_id);
  * hash sampling is a narrow zero-shuffle filter;
  * shard packing shuffles once on the stratum key; the running sum is
    a window within each stratum.
"""

from __future__ import annotations

import os

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window, WindowSpec

from ocr_spark.core.artifacts import load_artifact

LOGPROB_ROUND = 4
SHARD_TOKEN_BUDGET = 2000

# per-language deterministic sampling rates: md5 hex is uniform, so
# "first hex char < '8'" = rate 1/2, "< '4'" = 1/4, etc.
SAMPLE_THRESHOLDS = {"en": "8", "de": "4", "fr": "4", "es": "4", "zh": "2"}


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


_TOKS = r"\s+"


def _n_tokens() -> Column:
    """Whitespace tokens of ``text``, 0 when trim(text) = '' (as DuckDB)."""
    toks = F.split(F.trim(F.col("text")), _TOKS)
    return F.when((F.size(toks) == 1) & (toks[0] == ""), F.lit(0)) \
        .otherwise(F.size(toks))


def docs_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style statistical quality score: per-document mean token
    log-probability under a corpus-wide add-1-smoothed unigram model,
    plus CCNet's head/middle/tail split as PER-LANGUAGE terciles
    (ntile within each language, doc_id tie-break for determinism) —
    per-language both because that is the published recipe (Wenzek et
    al. split each language separately) and because it keeps the rank
    window partitioned. At 10^12 docs even a per-language exact rank is
    a monster sort; there the terciles come from two approx_percentile
    cutoffs broadcast against the scored table — same output contract,
    different physical plan — while this exact form is what the oracle
    can value-check."""
    scored = _unigram_scored(spark, sf_dir)
    w = Window.partitionBy("lang").orderBy("avg_logprob", "doc_id")
    return scored.select(
        "doc_id", "lang", "n_tokens", "avg_logprob",
        F.ntile(3).over(w).alias("tercile"))


def _unigram_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, lang, n_tokens, avg_logprob): the shared per-doc
    unigram-LM scoring subplan behind docs_unigram_logprob and
    hosts_perplexity_buckets."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    exploded = docs.select("doc_id", "lang", F.explode(toks).alias("tok"))

    counts = exploded.groupBy("tok").agg(F.count("*").alias("c"))
    totals = counts.agg(
        F.sum("c").alias("n_total"),
        F.count("*").alias("vocab"))  # 1 row → broadcast cross join

    return (exploded
            .join(counts, "tok")
            .crossJoin(F.broadcast(totals))
            .groupBy("doc_id", "lang")
            .agg(
                F.count("*").alias("n_tokens"),
                F.round(F.avg(F.log((F.col("c") + 1)
                                    / (F.col("n_total") + F.col("vocab")))),
                        LOGPROB_ROUND).alias("avg_logprob")))


def hosts_perplexity_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail split lifted to the HOST level: the
    per-doc unigram-LM scores roll up to a token-weighted per-host
    mean log-probability (weighting by n_tokens makes the host score
    the corpus-exact mean over its token stream, and keeps the
    aggregate a ratio of two exact SUMs — more skew-robust AND more
    float-stable than a mean of per-doc means), then hosts split into
    terciles: head hosts feed the crawler's quality prior
    (hosts_crawl_budget's LM-side complement), tail hosts are
    demotion candidates. Host = the page's canonical-link host, as
    everywhere in the host family.

    Scale shape: rides the shared per-doc scoring subplan (token
    equi-join + per-doc partial agg), then ONE groupBy keyed host
    (distinct-host cardinality) and one rank window over hosts —
    host-level frames are always broadcast-sized."""
    scored = _unigram_scored(spark, sf_dir)
    host = F.concat(F.lit("site"), (F.col("doc_id") % 13).cast("string"),
                    F.lit(".example.com"))
    agg = (scored.groupBy(host.alias("host"))
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens"),
                F.round(F.sum(F.col("avg_logprob") * F.col("n_tokens"))
                        / F.sum("n_tokens"), LOGPROB_ROUND)
                 .alias("host_avg_logprob")))
    # host-aggregate frame: bounded by host cardinality (docstring
    # above), so the global ntile window is metadata-sized
    w = Window.orderBy(F.desc("host_avg_logprob"), F.asc("host"))
    b = F.ntile(3).over(w)
    return agg.select(
        "host", "n_docs", "n_tokens", "host_avg_logprob",
        F.when(b == 1, F.lit("head")).when(b == 2, F.lit("middle"))
         .otherwise(F.lit("tail")).alias("bucket"))


UNIGRAM_LOGPROB_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), counts AS (
  SELECT tok, COUNT(*) AS c FROM tk GROUP BY tok
), totals AS (
  SELECT CAST(SUM(c) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM counts
), scored AS (
  SELECT tk.doc_id, tk.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         round(AVG(ln((counts.c + 1)
                      / CAST(totals.n_total + totals.vocab AS DOUBLE))),
               {LOGPROB_ROUND}) AS avg_logprob
  FROM tk JOIN counts USING (tok) CROSS JOIN totals
  GROUP BY tk.doc_id, tk.lang
)
SELECT doc_id, lang, n_tokens, avg_logprob,
       CAST(ntile(3) OVER (PARTITION BY lang
                           ORDER BY avg_logprob, doc_id) AS INT)
         AS tercile
FROM scored
"""

HOSTS_PERPLEXITY_SQL = UNIGRAM_LOGPROB_SQL[:UNIGRAM_LOGPROB_SQL.rindex(
    "SELECT doc_id")] + f"""
, hosts AS (
  SELECT 'site' || CAST(doc_id % 13 AS VARCHAR) || '.example.com' AS host,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         round(SUM(avg_logprob * n_tokens) / SUM(n_tokens),
               {LOGPROB_ROUND}) AS host_avg_logprob
  FROM scored GROUP BY 1
)
SELECT host, n_docs, n_tokens, host_avg_logprob,
       CASE ntile(3) OVER (ORDER BY host_avg_logprob DESC, host ASC)
            WHEN 1 THEN 'head' WHEN 2 THEN 'middle'
            ELSE 'tail' END AS bucket
FROM hosts
"""


def docs_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-language mixture sampling: a document is kept
    iff the first hex char of md5('sample:' || doc_id) is below its
    language's threshold — reproducible bit-for-bit across runs,
    engines, and cluster sizes (no RNG), which is what makes training
    mixtures auditable. Narrow zero-shuffle filter."""
    docs = _docs(spark, sf_dir)
    h = F.substring(
        F.md5(F.concat(F.lit("sample:"), F.col("doc_id").cast("string"))),
        1, 1)
    thr = F.create_map(
        *[x for k, v in SAMPLE_THRESHOLDS.items()
          for x in (F.lit(k), F.lit(v))])
    return (docs.select("doc_id", "lang", h.alias("h"))
            .filter(F.col("h") < thr[F.col("lang")])
            .select("doc_id", "lang"))


_SAMPLE_CASES = "\n".join(
    f"    WHEN '{k}' THEN '{v}'" for k, v in SAMPLE_THRESHOLDS.items())

SAMPLE_STRATIFIED_SQL = f"""
SELECT doc_id, lang
FROM documents
WHERE substring(md5('sample:' || CAST(doc_id AS VARCHAR)), 1, 1)
      < CASE lang
{_SAMPLE_CASES}
      END
"""


def packing_window(stream, *order) -> WindowSpec:
    """The packers' one window: the rows before this one in its stream."""
    return (Window.partitionBy(stream).orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, -1))


def token_prefix(n_tokens, window: WindowSpec) -> Column:
    """Exclusive running token sum over a ``packing_window``, 0 first."""
    return F.coalesce(F.sum(n_tokens).over(window), F.lit(0))


def token_shard_no(n_tokens, window: WindowSpec,
                   budget: int = SHARD_TOKEN_BUDGET) -> Column:
    """THE token-budget shard number: floor(exclusive prefix / budget)."""
    return F.floor(token_prefix(n_tokens, window) / budget)


def docs_token_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy token-budget shard packing, windowed per language: each
    document lands in shard floor(exclusive-prefix-tokens / budget) of
    its language stream (doc_id order). The per-stratum window is what
    keeps this distributed — shards for different languages pack in
    parallel, and the production form windows per output partition."""
    base = _docs(spark, sf_dir).select(
        "doc_id", "lang", _n_tokens().cast("long").alias("n_tokens"))
    shard_no = token_shard_no("n_tokens", packing_window("lang", "doc_id"))
    return base.select("doc_id", "lang", "n_tokens",
                       shard_no.cast("int").alias("shard_id"))


TOKEN_SHARDS_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
)
SELECT doc_id, lang, n_tokens,
       CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                PARTITION BY lang ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             / {SHARD_TOKEN_BUDGET}) AS INT) AS shard_id
FROM base
"""


# ---------------------------------------------------------------------------
# Training-sequence packing (concat-and-chunk)
# ---------------------------------------------------------------------------

CHUNK_LEN = 64      # tokens per chunk
CHUNK_OVERLAP = 16  # tokens shared between consecutive chunks


def docs_chunk_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WITHIN-document chunking with overlap — the RAG / long-context
    prep op that complements docs_seq_pack (which concatenates ACROSS
    documents): each document splits into CHUNK_LEN-token windows
    advancing by CHUNK_LEN - CHUNK_OVERLAP, every token is covered,
    consecutive chunks share CHUNK_OVERLAP tokens of context, and the
    final short chunk is kept (never silently dropped — its loss is
    the classic chunker bug). Emits per chunk: ordinal, token span
    [start, end), and the chunk text.

    Scale shape: pure narrow map — per-row sequence + slice + explode;
    zero shuffles at any corpus size. Chunk counts are
    ceil((n - overlap) / stride) per doc, emitted rows ~ n_tokens /
    stride."""
    docs = _docs(spark, sf_dir)
    stride = CHUNK_LEN - CHUNK_OVERLAP
    toks = F.split(F.trim(F.col("text")), _TOKS)
    n = _n_tokens()
    starts = F.when(
        n > 0,
        F.filter(
            F.transform(F.sequence(F.lit(0),
                                   F.greatest(F.ceil(n / stride),
                                              F.lit(1)).cast("int")),
                        lambda i: i * stride),
            lambda s: (s == 0) | (s < n - CHUNK_OVERLAP)),
    ).otherwise(F.array().cast("array<int>"))
    base = docs.select("doc_id", toks.alias("t"), n.alias("n_tokens"),
                       F.posexplode(starts).alias("chunk_id", "start"))
    end = F.least(F.col("start") + CHUNK_LEN, F.col("n_tokens"))
    return base.select(
        "doc_id", "chunk_id",
        F.col("start").cast("long").alias("tok_start"),
        end.cast("long").alias("tok_end"),
        F.concat_ws(" ", F.slice("t", F.col("start") + 1,
                                 end - F.col("start")))
         .alias("chunk_text"))


CHUNK_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id,
         string_split_regex(trim(text), '\\s+') AS t,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
  FROM documents
), starts AS (
  SELECT doc_id, t, n,
         CAST(u.i AS INT) AS ord0,
         CAST(u.i AS INT) * {CHUNK_LEN - CHUNK_OVERLAP} AS start
  FROM toks,
       LATERAL unnest(range(0, GREATEST(CAST(ceil(
           n / CAST({CHUNK_LEN - CHUNK_OVERLAP} AS DOUBLE)) AS BIGINT),
           1) + 1)) AS u(i)
  WHERE n > 0
), keptc AS (
  SELECT doc_id, t, n, start,
         ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY start) - 1
             AS chunk_id
  FROM starts
  WHERE start = 0 OR start < n - {CHUNK_OVERLAP}
)
SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
       CAST(start AS BIGINT) AS tok_start,
       CAST(LEAST(start + {CHUNK_LEN}, n) AS BIGINT) AS tok_end,
       array_to_string(
           list_slice(t, start + 1, LEAST(start + {CHUNK_LEN}, n)), ' ')
           AS chunk_text
FROM keptc
"""


SPLIT_VAL_PERMILLE = 10    # 1% validation
SPLIT_TEST_PERMILLE = 10   # 1% test — remainder (98%) trains


def docs_sample_holdout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/validation/test split assignment — the
    staple every corpus needs before anything touches a trainer: each
    document hashes (md5, no RNG state) into a permille bucket and the
    bucket maps to a split, so membership is stable across runs,
    engines, cluster sizes, and incremental crawls (a re-crawled
    document keeps its split — the property that prevents silent
    val→train leakage when the corpus is rebuilt). Content-based
    leakage across splits is the separate docs_decontaminate family;
    this op is the assignment itself.

    Scale shape: pure narrow map — hash, mod, case; zero shuffles."""
    docs = _docs(spark, sf_dir)
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("split:"), F.col("doc_id").cast("string"))),
        1, 8), 16, 10).cast("long") % 1000)
    split = (F.when(bucket < SPLIT_VAL_PERMILLE, F.lit("val"))
             .when(bucket < SPLIT_VAL_PERMILLE + SPLIT_TEST_PERMILLE,
                   F.lit("test"))
             .otherwise(F.lit("train")))
    return docs.select("doc_id", "lang", bucket.alias("split_bucket"),
                       split.alias("split"))


SAMPLE_HOLDOUT_SQL = f"""
SELECT doc_id, lang,
       ('0x' || substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
           ::BIGINT % 1000 AS split_bucket,
       CASE WHEN ('0x' || substring(
                md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                ::BIGINT % 1000 < {SPLIT_VAL_PERMILLE} THEN 'val'
            WHEN ('0x' || substring(
                md5('split:' || CAST(doc_id AS VARCHAR)), 1, 8))
                ::BIGINT % 1000
                < {SPLIT_VAL_PERMILLE + SPLIT_TEST_PERMILLE} THEN 'test'
            ELSE 'train' END AS split
FROM documents
"""


def docs_split_leakage_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-leakage audit — the check run AFTER split assignment and
    BEFORE training: every near-dup candidate pair (banded MinHash
    LSH, the same machinery as docs_minhash_lsh_pairs) whose two
    members landed in DIFFERENT splits, with the signature-overlap
    Jaccard estimate attached. Hash-based split assignment guarantees
    a DOCUMENT never changes split, but near-duplicate CONTENT can
    still straddle train/val — exactly the leakage an eval-set
    contamination audit must surface (the document-level complement of
    docs_decontaminate's n-gram check).

    Scale shape: the LSH pair list's own audited shapes (narrow maps,
    one capped bucket-keyed shuffle), one broadcast-sized join per
    side against the zero-shuffle split map, and the signature
    equi-joins of the Jaccard estimator — no new shuffle classes."""
    from ocr_spark.plans.dataops import (
        docs_minhash_lsh_pairs, minhash_sigs_frame, sig_overlap_est,
    )

    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    splits = docs_sample_holdout(spark, sf_dir).select("doc_id", "split")
    sa = splits.select(F.col("doc_id").alias("doc_a"),
                       F.col("split").alias("split_a"))
    sb = splits.select(F.col("doc_id").alias("doc_b"),
                       F.col("split").alias("split_b"))
    leaks = (pairs.join(sa, "doc_a").join(sb, "doc_b")
             .filter(F.col("split_a") != F.col("split_b")))
    sigs = minhash_sigs_frame(_docs(spark, sf_dir), key="doc_id")
    va = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("minvec").alias("va"))
    vb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("minvec").alias("vb"))
    return (leaks.join(va, "doc_a").join(vb, "doc_b")
            .select("doc_a", "doc_b", "split_a", "split_b",
                    "n_shared_bands",
                    sig_overlap_est("va", "vb").alias("jaccard_est")))


def _split_leakage_sql() -> str:
    from ocr_spark.plans.dataops import (
        MINHASH_K, _LSH_PAIRS_SQL, _SQL_MINVEC, _SQL_PER_SHINGLE,
        _SQL_SHINGLES,
    )

    return f"""
WITH pairs AS (
{_LSH_PAIRS_SQL}
), sp AS (
{SAMPLE_HOLDOUT_SQL}
), sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id, {_SQL_PER_SHINGLE} AS per_sh FROM nz
), sigs AS (
  SELECT doc_id, {_SQL_MINVEC} AS minvec FROM per
), leaks AS (
  SELECT p.doc_a, p.doc_b, a.split AS split_a, b.split AS split_b,
         p.n_shared_bands
  FROM pairs p
  JOIN sp a ON a.doc_id = p.doc_a
  JOIN sp b ON b.doc_id = p.doc_b
  WHERE a.split <> b.split
)
SELECT l.doc_a, l.doc_b, l.split_a, l.split_b, l.n_shared_bands,
       round(len(list_filter(range(1, {MINHASH_K + 1}),
                             i -> va.minvec[i] = vb.minvec[i]))
             / CAST({MINHASH_K} AS DOUBLE), 4) AS jaccard_est
FROM leaks l
JOIN sigs va ON va.doc_id = l.doc_a
JOIN sigs vb ON vb.doc_id = l.doc_b
"""


def docs_cluster_safe_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-safe train/val/test split — the leakage-proof form of
    docs_sample_holdout: hash the near-dup CLUSTER id (verified
    MinHash-LSH components), not the document id, so an entire group
    of near-duplicates always lands in ONE split. docs_sample_holdout
    + docs_split_leakage_check is detect-and-report; this is the
    assignment that makes document-level near-dup leakage impossible
    by construction (eval-set n-gram contamination remains the
    separate docs_decontaminate family). Singleton documents (no
    verified near-dup) hash their own id under the same recipe, so for
    them the assignment is IDENTICAL to docs_sample_holdout —
    adopting the cluster-safe split only moves documents that were
    part of the leakage problem.

    Scale shape: the CC tail's own audited shapes (LSH-bounded pairs,
    O(log n) star rounds — cc_logstar), then ONE left equi-join of
    the corpus against the cluster map (clusters are a tiny fraction
    of the corpus) and a narrow hash→bucket→case map. No new shuffle
    classes."""
    from ocr_spark.plans.dataops import docs_near_dup_clusters_logstar

    docs = _docs(spark, sf_dir)
    clusters = (docs_near_dup_clusters_logstar(spark, sf_dir)
                .select("doc_id", "cluster_id"))
    joined = docs.join(clusters, "doc_id", "left")
    group = F.coalesce(F.col("cluster_id"), F.col("doc_id"))
    bucket = (F.conv(F.substring(
        F.md5(F.concat(F.lit("split:"), group.cast("string"))),
        1, 8), 16, 10).cast("long") % 1000)
    split = (F.when(bucket < SPLIT_VAL_PERMILLE, F.lit("val"))
             .when(bucket < SPLIT_VAL_PERMILLE + SPLIT_TEST_PERMILLE,
                   F.lit("test"))
             .otherwise(F.lit("train")))
    return joined.select(
        "doc_id", "lang", group.alias("group_id"),
        F.col("cluster_id").isNotNull().alias("in_near_dup_cluster"),
        bucket.alias("split_bucket"), split.alias("split"))


def _cluster_safe_split_sql() -> str:
    # import the SQL constant, not ORACLE_SQL: curation is imported
    # DURING dataops' module init (quality-keepers oracle), so only
    # names defined before dataops' registry exist at this point
    from ocr_spark.plans.dataops import _NEAR_DUP_CLUSTERS_SQL

    clusters_sql = _NEAR_DUP_CLUSTERS_SQL
    return f"""
WITH clusters AS (
{clusters_sql}
), joined AS (
  SELECT d.doc_id, d.lang, c.cluster_id,
         COALESCE(c.cluster_id, d.doc_id) AS group_id
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
)
SELECT doc_id, lang, group_id,
       cluster_id IS NOT NULL AS in_near_dup_cluster,
       ('0x' || substring(md5('split:' || CAST(group_id AS VARCHAR)),
                          1, 8))::BIGINT % 1000 AS split_bucket,
       CASE WHEN ('0x' || substring(
                md5('split:' || CAST(group_id AS VARCHAR)), 1, 8))
                ::BIGINT % 1000 < {SPLIT_VAL_PERMILLE} THEN 'val'
            WHEN ('0x' || substring(
                md5('split:' || CAST(group_id AS VARCHAR)), 1, 8))
                ::BIGINT % 1000
                < {SPLIT_VAL_PERMILLE + SPLIT_TEST_PERMILLE} THEN 'test'
            ELSE 'train' END AS split
FROM joined
"""


READ_ROUND = 2


def docs_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document — the classic readability
    quality signal (used alongside Gopher bounds in heuristic filter
    stacks): 206.835 − 1.015·(words/sentences) −
    84.6·(syllables/word), with syllables approximated by vowel-group
    runs (min 1 per word) — the standard dictionary-free proxy.
    Sentences split on terminal punctuation runs with a floor of 1, so
    punctuation-free prose degrades gracefully instead of dividing by
    zero.

    Scale shape: pure narrow map — split, per-word regexp count,
    array aggregate; zero shuffles at any corpus size."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.trim(F.col("text")), _TOKS)
    w = _n_tokens()
    sents = F.size(F.filter(
        F.split(F.col("text"), r"[.!?]+"),
        lambda x: F.trim(x) != ""))
    s = F.greatest(sents, F.lit(1))
    syl = F.aggregate(
        toks, F.lit(0).cast("long"),
        lambda acc, x: acc + F.greatest(
            F.regexp_count(F.lower(x), F.lit("[aeiouy]+")), F.lit(1)))
    flesch = (F.lit(206.835) - F.lit(1.015) * (w / s)
              - F.lit(84.6) * (syl / F.greatest(w, F.lit(1))))
    return docs.select(
        "doc_id", "lang",
        w.cast("long").alias("n_words"),
        s.cast("long").alias("n_sentences"),
        syl.alias("n_syllables"),
        F.round(flesch, READ_ROUND).alias("flesch"),
    ).filter(F.col("n_words") > 0)


READABILITY_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         string_split_regex(trim(text), '\\s+') AS t,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS w,
         GREATEST(len(list_filter(
             string_split_regex(text, '[.!?]+'), x -> trim(x) <> '')),
             1) AS s
  FROM documents
), syl AS (
  SELECT doc_id, lang, w, s,
         CAST(list_sum(list_transform(t, x -> GREATEST(
             len(regexp_extract_all(lower(x), '[aeiouy]+')), 1)))
             AS BIGINT) AS sy
  FROM base WHERE w > 0
)
SELECT doc_id, lang,
       CAST(w AS BIGINT) AS n_words,
       CAST(s AS BIGINT) AS n_sentences,
       sy AS n_syllables,
       round(206.835 - 1.015 * (w / CAST(s AS DOUBLE))
             - 84.6 * (sy / CAST(GREATEST(w, 1) AS DOUBLE)),
             {READ_ROUND}) AS flesch
FROM syl
"""


PCTS = (0.5, 0.9, 0.99)


def docs_length_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language token-length percentiles (p50/p90/p99) — the
    datasheet companion to docs_length_histogram's log2 buckets:
    exact interpolated percentiles (both engines implement the
    standard type-7 linear interpolation), the numbers a sequence-
    length budget or truncation policy is actually set from.

    Scale shape: this exact form is one partial-agg percentile per
    language stratum; at 10^12 docs the production swap is
    approx_percentile per language (same output contract, sketch-
    based) — the same exact-vs-approx note as the percentile gate."""
    docs = _docs(spark, sf_dir)
    n = _n_tokens().cast("long")
    pct = F.percentile("n", F.lit(list(PCTS)))
    return (docs.select("lang", n.alias("n"))
            .groupBy("lang")
            .agg(F.count("*").alias("n_docs"),
                 *[F.round(F.element_at(pct, i + 1), 4)
                    .alias(f"p{int(p * 100)}")
                   for i, p in enumerate(PCTS)]))


LENGTH_PERCENTILES_SQL = f"""
WITH base AS (
  SELECT lang,
         CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n
  FROM documents
)
SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
       {", ".join(f"round(quantile_cont(n, {p}), 4) AS p{int(p * 100)}"
                  for p in PCTS)}
FROM base GROUP BY lang
"""


def hosts_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Host-concentration datasheet stat: the Herfindahl–Hirschman
    index of the corpus over hosts, by document share and by token
    share, plus the top host's share — ONE row answering "is this
    corpus a few mega-hosts in a trenchcoat?" (the number the host-cap
    and mixture stages exist to push down). HHI in [1/n_hosts, 1]:
    1/n is perfectly uniform, 1 is single-host.

    Scale shape: one partial-agg groupBy keyed host (host-cardinality
    rows), then a 1-row rollup — corpus bytes never move."""
    docs = _docs(spark, sf_dir)
    n = _n_tokens().cast("long")
    host = F.concat(F.lit("site"), (F.col("doc_id") % 13).cast("string"))
    per = (docs.select(host.alias("host"), n.alias("n"))
           .groupBy("host")
           .agg(F.count("*").alias("d"), F.sum("n").alias("t")))
    tot = per.agg(F.sum("d").alias("td"), F.sum("t").alias("tt"))
    j = per.crossJoin(F.broadcast(tot))
    return (j.agg(
        F.count("*").cast("long").alias("n_hosts"),
        F.round(F.sum(F.pow(F.col("d") / F.col("td"), 2)), 6)
         .alias("hhi_docs"),
        F.round(F.sum(F.pow(F.col("t") / F.col("tt"), 2)), 6)
         .alias("hhi_tokens"),
        F.round(F.max(F.col("d") / F.col("td")), 6)
         .alias("top_host_doc_share")))


HOSTS_CONCENTRATION_SQL = """
WITH per AS (
  SELECT 'site' || CAST(doc_id % 13 AS VARCHAR) AS host,
         CAST(COUNT(*) AS BIGINT) AS d,
         CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)
              AS BIGINT) AS t
  FROM documents GROUP BY 1
), tot AS (
  SELECT CAST(SUM(d) AS BIGINT) AS td, CAST(SUM(t) AS BIGINT) AS tt
  FROM per
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_hosts,
       round(SUM(power(d / CAST(td AS DOUBLE), 2)), 6) AS hhi_docs,
       round(SUM(power(t / CAST(tt AS DOUBLE), 2)), 6) AS hhi_tokens,
       round(MAX(d / CAST(td AS DOUBLE)), 6) AS top_host_doc_share
FROM per CROSS JOIN tot
"""


SEQ_LEN = 512


def docs_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style concat-and-chunk sequence packing: per language stream
    (doc_id order), documents are concatenated token-wise and cut into
    fixed SEQ_LEN-token training sequences; each document reports the
    sequence ids it lands in and the fragmentation this packing causes.

    Complements docs_token_shards (which assigns WHOLE docs to token-
    budget shards): here docs SPLIT across sequence boundaries, and the
    boundary-crossing count (n_seqs > 1) is the packing-efficiency /
    attention-fragmentation metric an LM data pipeline reports when
    choosing sequence length vs document-length distribution.

    Scale shape: one window per language stream over (doc_id, n_tokens)
    — token counting is a narrow map, the window input is one row per
    doc (not per token), and languages pack in parallel; the production
    form windows per output shard exactly like docs_token_shards."""
    base = _docs(spark, sf_dir).select(
        "doc_id", "lang", _n_tokens().cast("long").alias("n_tokens"))
    prefix = token_prefix("n_tokens", packing_window("lang", "doc_id"))
    seq_first = F.floor(prefix / SEQ_LEN)
    seq_last = F.floor((prefix + F.greatest(F.col("n_tokens"), F.lit(1))
                        - 1) / SEQ_LEN)
    return (base.withColumn("offset_in_seq",
                            (prefix % SEQ_LEN).cast("int"))
            .withColumn("seq_first", seq_first.cast("int"))
            .withColumn("seq_last", seq_last.cast("int"))
            .withColumn("n_seqs",
                        (seq_last - seq_first + 1).cast("int")))


SEQ_PACK_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
), pre AS (
  SELECT doc_id, lang, n_tokens,
         COALESCE(SUM(n_tokens) OVER (
             PARTITION BY lang ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS prefix
  FROM base
)
SELECT doc_id, lang, n_tokens,
       CAST(prefix % {SEQ_LEN} AS INT) AS offset_in_seq,
       CAST(FLOOR(prefix / {SEQ_LEN}) AS INT) AS seq_first,
       CAST(FLOOR((prefix + GREATEST(n_tokens, 1) - 1) / {SEQ_LEN})
            AS INT) AS seq_last,
       CAST(FLOOR((prefix + GREATEST(n_tokens, 1) - 1) / {SEQ_LEN})
            - FLOOR(prefix / {SEQ_LEN}) + 1 AS INT) AS n_seqs
FROM pre
"""


QUALITY_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "data",
    "quality_stub_v1.json")
SCORE_ROUND = 4


def _quality_model() -> dict:
    """The classifier's weight table, loaded from a versioned artifact
    file (ocr_spark/data/quality_stub_v1.json) through the same
    load-once path the layout/OCR/CRF heads use. Unlike those heads
    this seam is DRIVER-side: a linear bag-of-words classifier
    (fastText-style, the DCLM / FineWeb-Edu quality-filter family) is
    a (token, weight) table produced by offline training, and its
    production Spark shape is a broadcast-joined dimension — the model
    never enters a Python worker at all. Weights are integers (×10) so
    the per-document sum is exact under any Spark partial-aggregation
    order, keeping the score bit-stable across cluster sizes."""
    return load_artifact(QUALITY_ARTIFACT)


def docs_classifier_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """fastText-style linear quality classifier: score =
    sigmoid(mean-token-weight + bias) from a broadcast (token, weight)
    table; label = keep iff score ≥ 0.5. The reference has no corpus
    curation at all (SURVEY §2 absent lists); the recipe is the public
    model-based quality filter used by DCLM / FineWeb-Edu — at 10^12
    docs the weight table (even a few million n-grams) broadcasts, the
    explode→join stays map-side, and the only shuffle is the per-doc
    partial-agg groupBy. OOV tokens contribute weight 0 (left join +
    coalesce), exactly as a hashed-bow model with absent buckets."""
    model = _quality_model()
    docs = _docs(spark, sf_dir)
    vocab = spark.createDataFrame(
        list(model["weights_x10"].items()), "tok string, w10 long")
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    exploded = docs.select("doc_id", "lang", F.explode(toks).alias("tok"))
    agg = (exploded
           .join(F.broadcast(vocab), "tok", "left")
           .groupBy("doc_id", "lang")
           .agg(F.count("*").alias("n_tokens"),
                F.sum(F.coalesce(F.col("w10"), F.lit(0))).alias("sw10")))
    z = (F.col("sw10") / (F.col("n_tokens") * 10.0)
         + F.lit(model["bias_x10"] / 10.0))
    score = F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), SCORE_ROUND)
    return agg.select(
        "doc_id", "lang", "n_tokens", score.alias("score"),
        F.when(score >= 0.5, F.lit("keep")).otherwise(F.lit("drop"))
         .alias("label"))


def _classifier_sql() -> str:
    model = _quality_model()
    rows = ",\n    ".join(
        f"('{t}', {w})" for t, w in model["weights_x10"].items())
    return f"""
WITH vocab(tok, w10) AS (VALUES
    {rows}
), tk AS (
  SELECT doc_id, lang,
         unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), agg AS (
  SELECT tk.doc_id, tk.lang,
         CAST(COUNT(*) AS BIGINT) AS n_tokens,
         CAST(COALESCE(SUM(vocab.w10), 0) AS BIGINT) AS sw10
  FROM tk LEFT JOIN vocab USING (tok)
  GROUP BY tk.doc_id, tk.lang
)
SELECT doc_id, lang, n_tokens,
       round(1.0 / (1.0 + exp(-(sw10 / (n_tokens * 10.0)
                                + {model["bias_x10"]} / 10.0))),
             {SCORE_ROUND}) AS score,
       CASE WHEN round(1.0 / (1.0 + exp(-(sw10 / (n_tokens * 10.0)
                                          + {model["bias_x10"]} / 10.0))),
                 {SCORE_ROUND}) >= 0.5
            THEN 'keep' ELSE 'drop' END AS label
FROM agg
"""


# ---------------------------------------------------------------------------
# relative quality gate (percentile threshold per language)
# ---------------------------------------------------------------------------

QUALITY_REL_CUT = 0.10   # drop the bottom decile per language


def docs_quality_percentile_gate(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """RELATIVE quality filtering — the FineWeb-ablation pattern:
    instead of an absolute score threshold (docs_gopher_filters,
    docs_classifier_score), drop the bottom QUALITY_REL_CUT fraction
    of each LANGUAGE stratum by heuristic quality score. Relative
    gates self-calibrate across corpora whose score distributions
    shift (a fixed 0.5 cut means different things on different
    crawls); per-language because score distributions differ by
    language. Rank ties break on doc_id, so the gate is deterministic.

    Scale shape: this exact form is a per-language sort (the window);
    at 10^12 docs the production form replaces percent_rank with ONE
    approx_percentile(score, CUT) cutoff per language broadcast back —
    same output contract, no global sort — the same exact-vs-approx
    note as docs_unigram_logprob's terciles. The oracle can only
    value-check the exact form."""
    from ocr_spark.plans.queries import docs_quality_score

    q = docs_quality_score(spark, sf_dir) \
        .select("doc_id", "lang", "quality_score")
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    pr = F.round(F.percent_rank().over(w), 6)
    return q.select(
        "doc_id", "lang", "quality_score",
        pr.alias("pct_rank"),
        (pr >= QUALITY_REL_CUT).alias("keep_quality_rel"))


def _quality_percentile_sql() -> str:
    from ocr_spark.plans.queries import DOCS_QUALITY_SQL

    return f"""
WITH q AS (
{DOCS_QUALITY_SQL}
)
SELECT doc_id, lang, quality_score,
       round(percent_rank() OVER (
           PARTITION BY lang ORDER BY quality_score, doc_id), 6)
         AS pct_rank,
       round(percent_rank() OVER (
           PARTITION BY lang ORDER BY quality_score, doc_id), 6)
         >= {QUALITY_REL_CUT} AS keep_quality_rel
FROM q
"""


# ---------------------------------------------------------------------------
# domain mixture weights (temperature sampling over language strata)
# ---------------------------------------------------------------------------

MIXTURE_ALPHA = 0.5   # temperature exponent; the multilingual alpha-
                      # sampling recipe (Conneau & Lample 2019, XLM-R
                      # uses 0.3) — upweights low-resource domains
MIX_ROUND = 6
EPOCH_ROUND = 4
MIXTURE_PARAMS = {"alpha": MIXTURE_ALPHA}  # a sampled corpus records these


def _mixture(per: DataFrame) -> DataFrame:
    """``per``'s domain rows (lang, n_tokens) plus the temperature weight
    ``w`` = n^α / Σ n^α and the effective epochs ``e`` = w · total / n."""
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"),
                  F.sum(F.pow("n_tokens", MIXTURE_ALPHA)).alias("z"))
    w = F.pow("n_tokens", MIXTURE_ALPHA) / F.col("z")
    return per.crossJoin(F.broadcast(tot)).select(
        "*", w.alias("w"),
        (w * F.col("tot_tokens") / F.col("n_tokens")).alias("e"))


def docs_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-mixture construction over language domains: each
    domain's sampling weight is n_tokens^alpha normalized (temperature
    sampling — the XLM-R / DoReMi-baseline recipe), alongside its
    natural share and the effective epoch count a full mixture pass
    implies (weight · total / n_tokens — the over-sampling factor on
    low-resource strata that the alpha exists to bound).

    Scale shape: one partial-agg groupBy(lang) collapses the corpus to
    one row per domain (dozens of rows at any corpus size), then a
    1-row totals broadcast — the whole query's shuffle volume is the
    domain count, independent of corpus bytes. The reference has no
    corpus-level stages (SURVEY §2 absent lists)."""
    docs = _docs(spark, sf_dir)
    n = _n_tokens().cast("long")
    per = (docs.select("lang", n.alias("n"))
           .groupBy("lang")
           .agg(F.count("*").alias("n_docs"), F.sum("n").alias("n_tokens")))
    return _mixture(per).select(
        "lang", "n_docs", "n_tokens",
        F.round(F.col("n_tokens") / F.col("tot_tokens"), MIX_ROUND)
         .alias("natural_frac"),
        F.round("w", MIX_ROUND).alias("mixture_weight"),
        F.round("e", EPOCH_ROUND).alias("effective_epochs"))


DOMAIN_MIXTURE_SQL = f"""
WITH per AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         SUM(power(n_tokens, {MIXTURE_ALPHA})) AS z
  FROM per
)
SELECT lang, n_docs, n_tokens,
       round(n_tokens / CAST(tot_tokens AS DOUBLE), {MIX_ROUND})
         AS natural_frac,
       round(power(n_tokens, {MIXTURE_ALPHA}) / z, {MIX_ROUND})
         AS mixture_weight,
       round(power(n_tokens, {MIXTURE_ALPHA}) / z * tot_tokens / n_tokens,
             {EPOCH_ROUND}) AS effective_epochs
FROM per CROSS JOIN tot
"""


_EPOCH_SCALE = 10_000   # integer micro-epochs: round(epochs·1e4) once,
                        # then all realization arithmetic is integer —
                        # the cross-engine-stability discipline of the
                        # classifier/DSIR weight tables.


def docs_mixture_realize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REALIZE the domain mixture at the document level — the step
    between docs_domain_mixture's per-domain weights and an actual
    training corpus: each document receives n_copies, where its
    domain's effective epoch count e splits into floor(e) guaranteed
    passes plus one extra pass for a deterministic hash-selected
    fraction (e - floor(e)) of the domain's documents. Expected token
    volume per domain therefore matches weight · total exactly, with
    no RNG state — the same md5-threshold selection as
    docs_sample_stratified, so any engine reproduces the same corpus.

    Scale shape: the mixture table is domain-count rows (a broadcast
    join onto the corpus); the realization itself is a narrow
    zero-shuffle map — hash, compare, add. Downstream, n_copies feeds
    sequence()+explode into the shard packer (not materialized here:
    the oracle pins the copy COUNTS, the explode is mechanical)."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", "lang", _n_tokens().cast("long").alias("n_tokens"))
    return mixture_realize_frame(docs, "doc_id").select(
        "doc_id", "lang",
        F.round(F.col("e_micro") / _EPOCH_SCALE, EPOCH_ROUND)
         .alias("effective_epochs"),
        "n_copies")


def mixture_realize_frame(df: DataFrame, key: str,
                          n_tokens: str = "n_tokens") -> DataFrame:
    """THE mixture realization over ``df``'s (key, lang, n_tokens) rows:
    adds the language's micro-epochs ``e_micro`` and ``n_copies``, floor(e)
    plus one when the md5("mix:" ‖ key) draw falls under the fraction. The
    key hashes as its string cast, so doc_id and url draw as they did."""
    per = df.groupBy("lang").agg(F.sum(n_tokens).alias("n_tokens"))
    mix = _mixture(per).select(
        "lang", F.round(F.col("e") * _EPOCH_SCALE).cast("long")
        .alias("e_micro"))
    h = (F.conv(F.substring(
        F.md5(F.concat(F.lit("mix:"), F.col(key).cast("string"))),
        1, 8), 16, 10).cast("long") % _EPOCH_SCALE)
    extra = (h < F.col("e_micro") % _EPOCH_SCALE).cast("long")
    return df.join(F.broadcast(mix), "lang").withColumn(
        "n_copies", (F.floor(F.col("e_micro") / _EPOCH_SCALE) + extra)
        .cast("long"))


MIXTURE_REALIZE_SQL = f"""
WITH per AS (
  SELECT lang,
         CAST(SUM(CASE WHEN trim(text) = '' THEN 0
                  ELSE len(string_split_regex(trim(text), '\\s+')) END)
              AS BIGINT) AS n_tokens
  FROM documents GROUP BY lang
), tot AS (
  SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         SUM(power(n_tokens, {MIXTURE_ALPHA})) AS z
  FROM per
), mix AS (
  SELECT lang,
         CAST(round(power(n_tokens, {MIXTURE_ALPHA}) / z
                    * tot_tokens / n_tokens * {_EPOCH_SCALE})
              AS BIGINT) AS e_micro
  FROM per CROSS JOIN tot
)
SELECT d.doc_id, d.lang,
       round(m.e_micro / CAST({_EPOCH_SCALE} AS DOUBLE), {EPOCH_ROUND})
         AS effective_epochs,
       CAST(m.e_micro // {_EPOCH_SCALE}
            + CASE WHEN ('0x' || substring(
                  md5('mix:' || CAST(d.doc_id AS VARCHAR)), 1, 8))
                  ::BIGINT % {_EPOCH_SCALE} < m.e_micro % {_EPOCH_SCALE}
                   THEN 1 ELSE 0 END AS BIGINT) AS n_copies
FROM documents d JOIN mix m ON m.lang = d.lang
"""


# ---------------------------------------------------------------------------
# shard manifests (reproducible-sink verification artifact)
# ---------------------------------------------------------------------------


def shards_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard manifest over the docs_token_shards packing: document
    count, token sum, and an order-independent-to-compute but
    order-PINNED content digest — md5 over the shard's per-doc text
    digests concatenated in doc_id order. This is the sink-side
    verification artifact a reproducible training-data export writes
    next to each shard: re-running the pipeline (any cluster size, any
    engine) must reproduce the digest bit-for-bit, which is exactly
    what the DuckDB oracle asserts.

    Scale shape: reuses the per-language prefix-sum packing, then one
    groupBy(lang, shard_id) of shard_content_digest. A shard is
    budget-bounded (SHARD_TOKEN_BUDGET), so its collected list is small."""
    packed = docs_token_shards(spark, sf_dir)
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.md5(F.col("text")).alias("dg"))
    return (packed.join(docs, "doc_id")
            .groupBy("lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("n_tokens").alias("n_tokens"),
                 shard_content_digest("doc_id").alias("content_digest")))


def shard_content_digest(*keys: str, dg: str = "dg") -> Column:
    """THE shard content digest, an aggregate: md5 of the per-doc digests
    ``dg`` joined by ',' in ``keys`` order (sort_array pins it; a field
    read, not a lambda, takes ``dg`` out)."""
    return F.md5(F.concat_ws(",", F.sort_array(
        F.collect_list(F.struct(*keys, dg)))[dg]))


SHARDS_MANIFEST_SQL = f"""
WITH base AS (
  SELECT doc_id, lang, md5(text) AS dg,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, lang, dg, n_tokens,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {SHARD_TOKEN_BUDGET}) AS INT) AS shard_id
  FROM base
)
SELECT lang, shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
       md5(string_agg(dg, ',' ORDER BY doc_id)) AS content_digest
FROM packed
GROUP BY lang, shard_id
"""


def shards_zone_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard zone map over the token-budget packing — the
    data-skipping statistics a shard manifest carries so a consumer
    can PLAN which shards to read without scanning any of them
    (the parquet-row-group min/max idea lifted to the shard level,
    where it prunes whole files + network fetches, not just row
    groups): per (lang, shard_id) the doc-id and char-length key
    ranges plus the doc count. A point or range predicate on doc_id
    touches only shards whose [min_doc_id, max_doc_id] intersects —
    and because packing is doc_id-ordered within language, those
    ranges are non-overlapping per language, so a range predicate
    touches a contiguous run of shards. ``prune_export_shards`` in
    job.py is the manifest-only consumer of exactly these stats.

    Scale shape: the packing's own per-lang prefix-sum window, then
    ONE groupBy(lang, shard_id) of min/max/count partial-aggregated
    map-side; output rows = shard count."""
    packed = docs_token_shards(spark, sf_dir)
    docs = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return (packed.join(docs, "doc_id")
            .groupBy("lang", "shard_id")
            .agg(F.count("*").alias("n_docs"),
                 F.min("doc_id").alias("min_doc_id"),
                 F.max("doc_id").alias("max_doc_id"),
                 F.min("n_chars").alias("min_chars"),
                 F.max("n_chars").alias("max_chars")))


SHARDS_ZONE_MAP_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, lang,
         CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {SHARD_TOKEN_BUDGET}) AS INT) AS shard_id
  FROM base
)
SELECT p.lang, p.shard_id,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       MIN(p.doc_id) AS min_doc_id,
       MAX(p.doc_id) AS max_doc_id,
       MIN(d.n_chars) AS min_chars,
       MAX(d.n_chars) AS max_chars
FROM packed p JOIN documents d ON d.doc_id = p.doc_id
GROUP BY p.lang, p.shard_id
"""


def docs_length_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Log2-bucketed document-length distribution per language — the
    standard corpus-report companion to docs_data_card (length
    histograms are how truncation limits and shard budgets get chosen,
    and a length-distribution shift between crawls is the cheapest
    drift alarm). bucket = floor(log2(n_tokens)), so row count is
    languages x ~log2(max_len) — tiny at any corpus size; one
    partial-agg groupBy is the whole plan."""
    docs = _docs(spark, sf_dir)
    n = _n_tokens().cast("long")
    base = docs.select("lang", n.alias("n"))
    # floor(log2(n)) computed EXACTLY as binary-digit count - 1:
    # float log2 can land on 5.999… vs 6.0 at powers of two and flip
    # the bucket between engines; string-of-base-2 length cannot
    bucket = F.when(
        F.col("n") > 0,
        F.length(F.conv(F.col("n").cast("string"), 10, 2)) - 1
    ).otherwise(F.lit(-1)).cast("int")
    per = (base.select("lang", bucket.alias("len_bucket"), "n")
           .groupBy("lang", "len_bucket")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n").alias("n_tokens"),
                F.min("n").alias("min_tokens"),
                F.max("n").alias("max_tokens")))
    w = Window.partitionBy("lang")
    return per.select(
        "lang", "len_bucket", "n_docs", "n_tokens",
        "min_tokens", "max_tokens",
        F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4)
         .alias("doc_frac"))


LENGTH_HISTOGRAM_SQL = """
WITH base AS (
  SELECT lang,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n
  FROM documents
), per AS (
  SELECT lang,
         CAST(CASE WHEN n > 0 THEN length(bin(n)) - 1 ELSE -1 END
              AS INT) AS len_bucket,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(MIN(n) AS BIGINT) AS min_tokens,
         CAST(MAX(n) AS BIGINT) AS max_tokens
  FROM base GROUP BY lang, len_bucket
)
SELECT lang, len_bucket, n_docs, n_tokens, min_tokens, max_tokens,
       round(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang)
                           AS DOUBLE), 4) AS doc_frac
FROM per
"""


# ---------------------------------------------------------------------------
# Zipf rank-frequency profile (corpus datasheet statistic)
# ---------------------------------------------------------------------------

ZIPF_TOP_K = 100   # fit over the head of the distribution — the
                   # conventional range (the tail bends away from the
                   # power law and real datasheets fit the head)
ZIPF_ROUND = 4


def docs_zipf_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language Zipf fit — the corpus-datasheet statistic that
    summarizes lexical diversity in one number: rank the ZIPF_TOP_K
    most frequent tokens per language, least-squares-fit
    ln(freq) = intercept + slope · ln(rank) (natural text ≈ -1; a
    boilerplate-heavy or template-generated corpus flattens or
    steepens it), and report slope, intercept, the top-1 token's
    probability mass, and the type count. Ties in frequency rank
    break on the token string so both engines pick identical ranks.

    Scale shape: one partial-agg groupBy (lang, tok) — shuffle volume
    is the distinct-vocabulary count — then a per-language top-K
    window over the vocab-sized frame and a K-row-per-language final
    aggregate. Corpus bytes never move past the first partial agg."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    tf = (docs.select("lang", F.explode(toks).alias("tok"))
          .filter(F.col("tok") != "")
          .groupBy("lang", "tok")
          .agg(F.count("*").alias("freq")))
    totals = tf.groupBy("lang").agg(
        F.sum("freq").alias("tot"),
        F.count("*").alias("n_types"))
    w = Window.partitionBy("lang").orderBy(F.desc("freq"), "tok")
    top = (tf.withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= ZIPF_TOP_K))
    x = F.log(F.col("rank").cast("double"))
    y = F.log(F.col("freq").cast("double"))
    fit = (top.groupBy("lang")
           .agg(F.count("*").alias("k"),
                F.sum(x).alias("sx"), F.sum(y).alias("sy"),
                F.sum(x * x).alias("sxx"), F.sum(x * y).alias("sxy"),
                F.max(F.when(F.col("rank") == 1, F.col("freq")))
                 .alias("top1_freq")))
    slope = ((F.col("k") * F.col("sxy") - F.col("sx") * F.col("sy"))
             / (F.col("k") * F.col("sxx") - F.col("sx") * F.col("sx")))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("k")
    return (fit.join(totals, "lang")
            .select(
                "lang", F.col("n_types").cast("long").alias("n_types"),
                F.round(slope, ZIPF_ROUND).alias("zipf_slope"),
                F.round(intercept, ZIPF_ROUND).alias("zipf_intercept"),
                F.round(F.col("top1_freq") / F.col("tot"), ZIPF_ROUND)
                 .alias("top1_mass")))


ZIPF_PROFILE_SQL = f"""
WITH tf AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS freq
  FROM (SELECT lang,
               unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
        FROM documents)
  WHERE tok <> ''
  GROUP BY lang, tok
), totals AS (
  SELECT lang, CAST(SUM(freq) AS BIGINT) AS tot,
         CAST(COUNT(*) AS BIGINT) AS n_types
  FROM tf GROUP BY lang
), top AS (
  SELECT lang, freq,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY freq DESC, tok) AS rank
  FROM tf
  QUALIFY rank <= {ZIPF_TOP_K}
), fit AS (
  SELECT lang, COUNT(*) AS k,
         SUM(ln(rank)) AS sx, SUM(ln(freq)) AS sy,
         SUM(ln(rank) * ln(rank)) AS sxx,
         SUM(ln(rank) * ln(freq)) AS sxy,
         MAX(CASE WHEN rank = 1 THEN freq END) AS top1_freq
  FROM top GROUP BY lang
)
SELECT f.lang, t.n_types,
       round((f.k * f.sxy - f.sx * f.sy)
             / (f.k * f.sxx - f.sx * f.sx), {ZIPF_ROUND}) AS zipf_slope,
       round((f.sy - (f.k * f.sxy - f.sx * f.sy)
                     / (f.k * f.sxx - f.sx * f.sx) * f.sx) / f.k,
             {ZIPF_ROUND}) AS zipf_intercept,
       round(f.top1_freq / CAST(t.tot AS DOUBLE), {ZIPF_ROUND})
           AS top1_mass
FROM fit f JOIN totals t ON t.lang = f.lang
"""


# ---------------------------------------------------------------------------
# benchmark decontamination (eval-overlap removal)
# ---------------------------------------------------------------------------

DECONTAM_K = 4   # word n-gram width. Real pipelines use 8-13 tokens
                 # (GPT-3 13-gram, FineWeb 10-gram family); 4 is
                 # calibrated to this synthetic corpus's short docs and
                 # tiny vocabulary so genuine overlaps exist at test SF
                 # (8 contaminated docs at sf0.01) — the knob, not the
                 # shape, changes with a real corpus.
BENCH_MOD = 97   # doc_id % 97 == 0 plays the held-out eval set


def docs_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the GPT-3/FineWeb train-test-overlap
    stage: a training document is dropped when it shares any
    DECONTAM_K-word n-gram with the held-out eval set. N-grams are
    md5-hashed so only fixed-width digests travel (the production
    reason: the eval side becomes a compact hash set).

    Scale shape: the eval set is small by definition (benchmarks are
    MBs against a 100 TB corpus), so its distinct hashed n-grams
    BROADCAST; the train side is a narrow explode, the probe is a
    map-side broadcast join, and the only shuffle is the per-doc
    groupBy — decontamination never shuffles the corpus by gram. The
    reference has no corpus curation (SURVEY §2 absent lists)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    grams = F.when(
        F.size(toks) >= DECONTAM_K,
        F.transform(F.sequence(F.lit(0), F.size(toks) - DECONTAM_K),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(toks, i + 1, DECONTAM_K)))),
    ).otherwise(F.array().cast("array<string>"))
    with_g = docs.select("doc_id", grams.alias("gh"))
    is_eval = F.col("doc_id") % BENCH_MOD == 0
    eval_set = (with_g.filter(is_eval)
                .select(F.explode("gh").alias("bh")).distinct())
    train = (with_g.filter(~is_eval)
             .select("doc_id", F.explode("gh").alias("gh")))
    hits = (train.join(F.broadcast(eval_set), train.gh == eval_set.bh,
                       "left")
            .groupBy("doc_id")
            .agg(F.count("bh").alias("n_contaminated_ngrams")))
    base = docs.filter(~is_eval).select("doc_id")
    n = F.coalesce(F.col("n_contaminated_ngrams"), F.lit(0))
    return (base.join(hits, "doc_id", "left")
            .select("doc_id", n.alias("n_contaminated_ngrams"),
                    (n > 0).alias("is_contaminated"),
                    F.when(n > 0, F.lit("drop")).otherwise(F.lit("keep"))
                     .alias("action")))


DECONTAMINATE_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id,
         md5(list_aggregate(tk[i:i+{DECONTAM_K - 1}], 'string_agg', ' '))
           AS gh
  FROM toks, LATERAL unnest(range(1, len(tk) - {DECONTAM_K - 2})) AS u(i)
  WHERE len(tk) >= {DECONTAM_K}
), bench AS (
  SELECT DISTINCT gh AS bh FROM grams WHERE doc_id % {BENCH_MOD} = 0
), train AS (
  SELECT doc_id, gh FROM grams WHERE doc_id % {BENCH_MOD} <> 0
), hits AS (
  SELECT t.doc_id, COUNT(b.bh) AS n
  FROM train t LEFT JOIN bench b ON t.gh = b.bh
  GROUP BY t.doc_id
)
SELECT d.doc_id,
       COALESCE(h.n, 0) AS n_contaminated_ngrams,
       COALESCE(h.n, 0) > 0 AS is_contaminated,
       CASE WHEN COALESCE(h.n, 0) > 0 THEN 'drop' ELSE 'keep' END AS action
FROM documents d LEFT JOIN hits h ON h.doc_id = d.doc_id
WHERE d.doc_id % {BENCH_MOD} <> 0
"""


def docs_decontaminate_report(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Contamination report from the EVAL side — the audit symmetry of
    docs_decontaminate (which scores train docs): for every eval
    document, how many of its n-grams appear anywhere in training and
    how many distinct train documents carry them. The benchmarks whose
    items leak most are the ones whose scores a trained model can't be
    trusted on — this is the table an eval-integrity review reads.

    Scale shape: same broadcast-eval-set join as docs_decontaminate
    read in reverse — the narrow train explode probes the broadcast
    eval grams, then TWO bounded aggregations keyed by eval gram and
    eval doc (both bounded by the eval set's size, not the corpus)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    grams = F.when(
        F.size(toks) >= DECONTAM_K,
        F.transform(F.sequence(F.lit(0), F.size(toks) - DECONTAM_K),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(toks, i + 1, DECONTAM_K)))),
    ).otherwise(F.array().cast("array<string>"))
    with_g = docs.select("doc_id", grams.alias("gh"))
    is_eval = F.col("doc_id") % BENCH_MOD == 0
    eval_grams = (with_g.filter(is_eval)
                  .select("doc_id", F.explode("gh").alias("g"))
                  .withColumnRenamed("doc_id", "eval_doc_id")
                  .distinct())
    train = (with_g.filter(~is_eval)
             .select(F.col("doc_id").alias("train_doc_id"),
                     F.explode("gh").alias("g")).distinct())
    hits = (train.join(F.broadcast(eval_grams.select("g").distinct()),
                       "g")
            .groupBy("g")
            .agg(F.countDistinct("train_doc_id").alias("n_train_docs")))
    per_eval = (eval_grams.join(hits, "g", "left")
                .groupBy("eval_doc_id")
                .agg(F.count(F.lit(1)).alias("n_grams"),
                     F.sum(F.coalesce(
                         (F.col("n_train_docs") > 0).cast("long"),
                         F.lit(0))).alias("n_leaked_grams"),
                     F.coalesce(F.sum("n_train_docs"), F.lit(0))
                      .cast("long").alias("n_train_doc_hits")))
    frac = F.round(F.col("n_leaked_grams") / F.col("n_grams"), 4)
    return per_eval.select(
        "eval_doc_id", "n_grams", "n_leaked_grams",
        frac.alias("leaked_frac"), "n_train_doc_hits",
        (frac > 0).alias("is_leaked"))


DECONTAMINATE_REPORT_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
), grams AS (
  SELECT doc_id,
         md5(list_aggregate(tk[i:i+{DECONTAM_K - 1}], 'string_agg', ' '))
           AS g
  FROM toks, LATERAL unnest(range(1, len(tk) - {DECONTAM_K - 2})) AS u(i)
  WHERE len(tk) >= {DECONTAM_K}
), eval_grams AS (
  SELECT DISTINCT doc_id AS eval_doc_id, g
  FROM grams WHERE doc_id % {BENCH_MOD} = 0
), train AS (
  SELECT DISTINCT doc_id AS train_doc_id, g
  FROM grams WHERE doc_id % {BENCH_MOD} <> 0
), hits AS (
  SELECT g, CAST(COUNT(DISTINCT train_doc_id) AS BIGINT) AS n_train_docs
  FROM train WHERE g IN (SELECT g FROM eval_grams)
  GROUP BY g
), per_eval AS (
  SELECT e.eval_doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_grams,
         CAST(SUM(CASE WHEN h.n_train_docs > 0 THEN 1 ELSE 0 END)
              AS BIGINT) AS n_leaked_grams,
         CAST(COALESCE(SUM(h.n_train_docs), 0) AS BIGINT)
             AS n_train_doc_hits
  FROM eval_grams e LEFT JOIN hits h ON h.g = e.g
  GROUP BY e.eval_doc_id
)
SELECT eval_doc_id, n_grams, n_leaked_grams,
       round(n_leaked_grams / CAST(n_grams AS DOUBLE), 4) AS leaked_frac,
       n_train_doc_hits,
       round(n_leaked_grams / CAST(n_grams AS DOUBLE), 4) > 0 AS is_leaked
FROM per_eval
"""


def docs_decontaminate_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level decontamination — the surgical variant of
    docs_decontaminate: instead of DROPPING a training document that
    shares a DECONTAM_K-gram with the eval set, excise exactly the
    contaminated token windows and keep the rest (the recipe used when
    contamination is incidental — a quoted benchmark question inside an
    otherwise-clean article — and document-drop would over-delete).
    Every token covered by ANY contaminated window is removed
    (overlapping windows fold into one span, the same interval
    semantics as docs_substring_dedup); survivors reassemble in
    position order.

    Scale shape: identical to docs_decontaminate up to the hit list
    (broadcast eval-hash set, narrow train-side explode), then the
    substring-removal tail: one explode of remove-window indices
    (bounded by K x contaminated-window count, NOT corpus size), an
    anti-join on (doc_id, idx), and a per-doc reassembly groupBy."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    grams = F.when(
        F.size(toks) >= DECONTAM_K,
        F.transform(F.sequence(F.lit(0), F.size(toks) - DECONTAM_K),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(toks, i + 1, DECONTAM_K)))),
    ).otherwise(F.array().cast("array<string>"))
    is_eval = F.col("doc_id") % BENCH_MOD == 0
    eval_set = (docs.filter(is_eval).select(F.explode(grams).alias("bh"))
                .distinct())
    base = docs.filter(~is_eval).select(
        "doc_id", toks.alias("t"), grams.alias("gh")) \
        .withColumn("n_tokens", F.size("t"))
    starts = base.select("doc_id", F.posexplode("gh").alias("pos", "g"))
    bad = starts.join(F.broadcast(eval_set), starts.g == eval_set.bh) \
                .select("doc_id", "pos")
    remove_idx = (bad.select("doc_id", F.explode(
        F.sequence(F.col("pos"), F.col("pos") + DECONTAM_K - 1))
        .alias("idx")).distinct())
    tok_pos = base.select("doc_id", F.posexplode("t").alias("idx", "tok"))
    kept = tok_pos.join(remove_idx, ["doc_id", "idx"], "left_anti")
    re = (kept.groupBy("doc_id")
          .agg(F.count("*").alias("n_kept"),
               F.array_join(
                   F.transform(
                       F.array_sort(F.collect_list(F.struct("idx", "tok"))),
                       lambda s: s["tok"]),
                   " ").alias("text_clean")))
    return (base.select("doc_id", F.col("n_tokens").cast("long")
                        .alias("n_tokens"))
            .join(re, "doc_id", "left")
            .select(
                "doc_id", "n_tokens",
                (F.col("n_tokens") - F.coalesce(F.col("n_kept"), F.lit(0)))
                .cast("long").alias("n_removed_tokens"),
                F.coalesce(F.col("text_clean"), F.lit(""))
                 .alias("text_clean")))


DECONTAMINATE_SPANS_SQL = f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos,
         md5(array_to_string(list_slice(t, i, i + {DECONTAM_K - 1}), ' '))
           AS g
  FROM (SELECT doc_id, t,
               unnest(range(1, len(t) - {DECONTAM_K} + 2)) AS i
        FROM toks
        WHERE len(t) >= {DECONTAM_K})
), bench AS (
  SELECT DISTINCT g AS bh FROM grams WHERE doc_id % {BENCH_MOD} = 0
), bad AS (
  SELECT doc_id, pos FROM grams
  WHERE doc_id % {BENCH_MOD} <> 0 AND g IN (SELECT bh FROM bench)
), remove_idx AS (
  SELECT DISTINCT doc_id, CAST(u.idx AS INT) AS idx
  FROM bad, LATERAL unnest(range(pos, pos + {DECONTAM_K})) AS u(idx)
), tok_pos AS (
  SELECT doc_id, CAST(u.i AS INT) - 1 AS idx, t[u.i] AS tok
  FROM toks, LATERAL unnest(range(1, len(t) + 1)) AS u(i)
  WHERE doc_id % {BENCH_MOD} <> 0
), kept AS (
  SELECT tp.doc_id, tp.idx, tp.tok
  FROM tok_pos tp
  ANTI JOIN remove_idx r ON r.doc_id = tp.doc_id AND r.idx = tp.idx
), re AS (
  SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_kept,
         string_agg(tok, ' ' ORDER BY idx) AS text_clean
  FROM kept GROUP BY doc_id
)
SELECT toks.doc_id,
       CAST(len(toks.t) AS BIGINT) AS n_tokens,
       CAST(len(toks.t) - COALESCE(re.n_kept, 0) AS BIGINT)
         AS n_removed_tokens,
       COALESCE(re.text_clean, '') AS text_clean
FROM toks LEFT JOIN re ON re.doc_id = toks.doc_id
WHERE toks.doc_id % {BENCH_MOD} <> 0
"""


# ---------------------------------------------------------------------------
# bigram LM with Stupid Backoff (the KenLM seam, one order up)
# ---------------------------------------------------------------------------

BACKOFF_ALPHA = 0.4   # Brants et al. 2007's fixed backoff weight
LM_TRAIN_MOD = 2      # doc_id % 2 == 0 plays the offline LM training set


def docs_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style LM quality score, one order up from
    docs_unigram_logprob: per-document mean log-score under a BIGRAM
    model with Stupid Backoff (Brants et al. 2007) —
    s(w|p) = c(p,w)/c(p·) if the bigram was seen in training, else
    ALPHA · add-1-smoothed unigram. The LM is trained on a disjoint
    half of the corpus (doc_id % 2 == 0), mirroring CCNet's
    offline-KenLM-scores-the-crawl split, so backoff genuinely fires
    on the held-out half (backoff_frac column proves it).

    Scale shape: the document side builds bigrams with a narrow array
    transform — no window, no shuffle — then PRE-AGGREGATES per
    (doc_id, lang, prev, tok) with a multiplicity count BEFORE joining
    the count tables: the probe side shrinks by the within-document
    duplication factor, and hot stopword bigrams ("of the" repeated
    40x in one doc) cross the join as ONE row carrying a count instead
    of 40 rows — the skew-pin the round-3 verdict asked for (the
    map-side partial aggregate absorbs the duplication before any
    exchange; AQE's skew-join split handles residual key heat). The
    per-document stats are then exact weighted averages over the
    multiplicities, mathematically identical to the row-level mean.
    At 10^12 docs the real recipe replaces the count tables with a
    pruned KenLM broadcast (same seam as docs_classifier_score's
    weight table); this exact-count form is what the oracle can
    value-check. Context counts c(p·) come from the bigram table
    itself (sum over continuations), as Stupid Backoff specifies.
    The reference has no corpus scoring (SURVEY §2 absent lists)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    empty = F.array().cast("array<struct<prev:string,tok:string>>")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i + 1).alias("prev"),
                        F.element_at(toks, i + 2).alias("tok"))),
    ).otherwise(empty)
    big = (docs.select("doc_id", "lang", F.explode(bigrams).alias("bg"))
           .select("doc_id", "lang",
                   F.col("bg.prev").alias("prev"),
                   F.col("bg.tok").alias("tok")))
    is_train = F.col("doc_id") % LM_TRAIN_MOD == 0
    bc = (big.filter(is_train)
          .groupBy("prev", "tok").agg(F.count("*").alias("bc")))
    ctx = bc.groupBy("prev").agg(F.sum("bc").alias("cc"))
    uc = (docs.filter(is_train)
          .select(F.explode(toks).alias("tok"))
          .groupBy("tok").agg(F.count("*").alias("uc")))
    totals = uc.agg(F.sum("uc").alias("n_total"),
                    F.count("*").alias("vocab"))  # 1 row → broadcast
    # skew-pin: collapse within-doc repeats before the probe joins
    probe = (big.groupBy("doc_id", "lang", "prev", "tok")
             .agg(F.count("*").alias("m")))
    seen = F.col("bc").isNotNull()
    s = F.when(seen, F.col("bc") / F.col("cc")).otherwise(
        F.lit(BACKOFF_ALPHA) * (F.coalesce(F.col("uc"), F.lit(0)) + 1)
        / (F.col("n_total") + F.col("vocab")))
    m = F.col("m")
    return (probe
            .join(bc, ["prev", "tok"], "left")
            .join(ctx, "prev", "left")
            .join(uc, "tok", "left")
            .crossJoin(F.broadcast(totals))
            .groupBy("doc_id", "lang")
            .agg(F.sum(m).alias("n_bigrams"),
                 F.round(F.sum(m * F.log(s)) / F.sum(m), LOGPROB_ROUND)
                  .alias("avg_logprob"),
                 F.round(F.sum(F.when(seen, F.lit(0.0)).otherwise(m))
                         / F.sum(m),
                         LOGPROB_ROUND).alias("backoff_frac")))


BIGRAM_LOGPROB_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), big AS (
  SELECT doc_id, lang, t[i] AS prev, t[i + 1] AS tok
  FROM tk, LATERAL unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), bc AS (
  SELECT prev, tok, COUNT(*) AS bc FROM big
  WHERE doc_id % {LM_TRAIN_MOD} = 0 GROUP BY prev, tok
), ctx AS (
  SELECT prev, SUM(bc) AS cc FROM bc GROUP BY prev
), uc AS (
  SELECT tok, COUNT(*) AS uc
  FROM (SELECT unnest(t) AS tok FROM tk
        WHERE doc_id % {LM_TRAIN_MOD} = 0)
  GROUP BY tok
), totals AS (
  SELECT CAST(SUM(uc) AS BIGINT) AS n_total,
         CAST(COUNT(*) AS BIGINT) AS vocab
  FROM uc
)
SELECT big.doc_id, big.lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(ln(CASE WHEN bc.bc IS NOT NULL
                         THEN bc.bc / CAST(ctx.cc AS DOUBLE)
                         ELSE {BACKOFF_ALPHA} * (COALESCE(uc.uc, 0) + 1)
                              / CAST(totals.n_total + totals.vocab
                                     AS DOUBLE)
                    END)), {LOGPROB_ROUND}) AS avg_logprob,
       round(AVG(CASE WHEN bc.bc IS NOT NULL THEN 0.0 ELSE 1.0 END),
             {LOGPROB_ROUND}) AS backoff_frac
FROM big
LEFT JOIN bc USING (prev, tok)
LEFT JOIN ctx USING (prev)
LEFT JOIN uc ON uc.tok = big.tok
CROSS JOIN totals
GROUP BY big.doc_id, big.lang
"""


KN_DISCOUNT = 0.75    # Chen & Goodman 1998's fixed absolute discount


def docs_bigram_kneser_ney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram scoring (Kneser & Ney 1995; Chen
    & Goodman 1998) — the smoothing the production KenLM actually uses,
    beside docs_bigram_logprob's Stupid Backoff:

      P(w|p) = max(c(p,w) - D, 0)/c(p.) + D*N1+(p.)/c(p.) * Pcont(w)

    with the CONTINUATION probability Pcont(w) = N1+(.w)/N1+(..) —
    "how many contexts has w completed", the distinction that stops
    'Francisco' (frequent but only after 'San') from scoring high in
    novel contexts. Held-out novelty is finite by construction: an
    unseen context backs off to Pcont alone, and Pcont carries add-1
    smoothing over the training continuation vocabulary (the one
    documented deviation from the textbook form, needed because a
    held-out-only token has N1+(.w) = 0 and log 0 otherwise). Trained
    on the same disjoint doc_id % LM_TRAIN_MOD == 0 half as the other
    LM scores, so interpolation and continuation backoff genuinely
    fire on the held-out half (the *_frac columns prove it).

    Scale shape: identical to docs_bigram_logprob — narrow bigram
    construction, probe pre-aggregated per (doc, prev, tok) with a
    multiplicity BEFORE the count-table joins (the round-3 skew pin),
    count tables collapse to vocabulary-sized frames, totals broadcast
    as 1 row; production swaps the tables for a pruned KenLM broadcast
    through the proven artifact seam."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    empty = F.array().cast("array<struct<prev:string,tok:string>>")
    bigrams = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(
                        F.element_at(toks, i + 1).alias("prev"),
                        F.element_at(toks, i + 2).alias("tok"))),
    ).otherwise(empty)
    big = (docs.select("doc_id", "lang", F.explode(bigrams).alias("bg"))
           .select("doc_id", "lang",
                   F.col("bg.prev").alias("prev"),
                   F.col("bg.tok").alias("tok")))
    is_train = F.col("doc_id") % LM_TRAIN_MOD == 0
    bc = (big.filter(is_train)
          .groupBy("prev", "tok").agg(F.count("*").alias("bc")))
    ctx = bc.groupBy("prev").agg(F.sum("bc").alias("cc"),
                                 F.count("*").alias("n1f"))
    cont = bc.groupBy("tok").agg(F.count("*").alias("n1r"))
    totals = cont.agg(F.sum("n1r").alias("n_types"),
                      F.count("*").alias("vocab_cont"))  # 1 row
    probe = (big.groupBy("doc_id", "lang", "prev", "tok")
             .agg(F.count("*").alias("m")))
    pcont = ((F.coalesce(F.col("n1r"), F.lit(0)) + 1)
             / (F.col("n_types") + F.col("vocab_cont")))
    seen_ctx = F.col("cc").isNotNull()
    disc = F.greatest(F.coalesce(F.col("bc"), F.lit(0)) - KN_DISCOUNT,
                      F.lit(0.0))
    p = F.when(seen_ctx,
               disc / F.col("cc")
               + KN_DISCOUNT * F.col("n1f") / F.col("cc") * pcont)          .otherwise(pcont)
    m = F.col("m")
    unseen_bg = F.col("bc").isNull()
    return (probe
            .join(bc, ["prev", "tok"], "left")
            .join(ctx, "prev", "left")
            .join(cont, "tok", "left")
            .crossJoin(F.broadcast(totals))
            .groupBy("doc_id", "lang")
            .agg(F.sum(m).alias("n_bigrams"),
                 F.round(F.sum(m * F.log(p)) / F.sum(m), LOGPROB_ROUND)
                  .alias("avg_logprob"),
                 F.round(F.sum(F.when(unseen_bg, m).otherwise(0))
                         / F.sum(m), LOGPROB_ROUND)
                  .alias("unseen_bigram_frac"),
                 F.round(F.sum(F.when(~seen_ctx, m).otherwise(0))
                         / F.sum(m), LOGPROB_ROUND)
                  .alias("unseen_ctx_frac")))


BIGRAM_KN_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), big AS (
  SELECT doc_id, lang, t[i] AS prev, t[i + 1] AS tok
  FROM tk, LATERAL unnest(range(1, len(t))) AS u(i)
  WHERE len(t) >= 2
), bc AS (
  SELECT prev, tok, COUNT(*) AS bc FROM big
  WHERE doc_id % {LM_TRAIN_MOD} = 0 GROUP BY prev, tok
), ctx AS (
  SELECT prev, SUM(bc) AS cc, COUNT(*) AS n1f FROM bc GROUP BY prev
), cont AS (
  SELECT tok, COUNT(*) AS n1r FROM bc GROUP BY tok
), totals AS (
  SELECT CAST(SUM(n1r) AS BIGINT) AS n_types,
         CAST(COUNT(*) AS BIGINT) AS vocab_cont
  FROM cont
), sc AS (
  SELECT big.doc_id, big.lang,
         (COALESCE(cont.n1r, 0) + 1)
           / CAST(totals.n_types + totals.vocab_cont AS DOUBLE) AS pcont,
         ctx.cc, ctx.n1f, bc.bc
  FROM big
  LEFT JOIN bc USING (prev, tok)
  LEFT JOIN ctx USING (prev)
  LEFT JOIN cont ON cont.tok = big.tok
  CROSS JOIN totals
)
SELECT doc_id, lang,
       CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       round(AVG(ln(CASE WHEN cc IS NOT NULL
                         THEN GREATEST(COALESCE(bc, 0) - {KN_DISCOUNT}, 0)
                              / CAST(cc AS DOUBLE)
                              + {KN_DISCOUNT} * n1f / CAST(cc AS DOUBLE)
                                * pcont
                         ELSE pcont END)), {LOGPROB_ROUND})
           AS avg_logprob,
       round(AVG(CASE WHEN bc IS NULL THEN 1.0 ELSE 0.0 END),
             {LOGPROB_ROUND}) AS unseen_bigram_frac,
       round(AVG(CASE WHEN cc IS NULL THEN 1.0 ELSE 0.0 END),
             {LOGPROB_ROUND}) AS unseen_ctx_frac
FROM sc GROUP BY doc_id, lang
"""


# ---------------------------------------------------------------------------
# T5-style span-corruption planning
# ---------------------------------------------------------------------------

CORRUPT_DENSITY_PCT = 15   # noise density, percent (T5's 0.15)
CORRUPT_MEAN_SPAN = 3      # mean noise-span length (T5's 3.0)
CORRUPT_MIN_TOKENS = 20    # shorter docs are packed uncorrupted


def docs_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic T5-style span-corruption PLAN (Raffel et al.
    2020 §3.1.4): for every document long enough to corrupt, choose
    the noise spans — round(15% of tokens) masked across
    ceil(n_masked/3) spans — and emit one row per span with its
    0-based start token, length, and sentinel id, plus the doc-level
    inputs/targets lengths the packer budgets with
    (inputs = n - masked + spans sentinels; targets = masked + spans
    sentinels + EOS). T5 draws spans from an RNG; a data PIPELINE
    wants the draw reproducible across runs, engines, and cluster
    sizes, so the randomness here is a seeded hash (the
    docs_training_order device): the doc is cut into n_spans equal
    segments — which makes spans non-overlapping BY CONSTRUCTION, no
    sequential rejection loop to distribute — and each span lands at
    md5-chosen offset inside its segment. All sizing is integer
    arithmetic (round-half-up via (n*15+50)//100) so both engines
    agree bit-for-bit with no float rounding seam.

    Scale shape: one narrow explode (n_spans ≈ n/20 rows per doc),
    zero shuffle; composes upstream of docs_seq_pack on inputs_len."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    n = F.size(toks).cast("long")
    n_masked = F.greatest(
        F.lit(1), F.floor((n * CORRUPT_DENSITY_PCT + 50) / 100))
    n_spans = F.ceil(n_masked / CORRUPT_MEAN_SPAN).cast("long")
    base = (docs.filter(n >= CORRUPT_MIN_TOKENS)
            .select("doc_id", n.alias("n_tokens"),
                    n_masked.alias("n_masked"),
                    n_spans.alias("n_spans"),
                    F.explode(F.sequence(
                        F.lit(0), (n_spans - 1).cast("int")))
                     .alias("span_id")))
    k = F.col("span_id").cast("long")
    nm, ns, nt = F.col("n_masked"), F.col("n_spans"), F.col("n_tokens")
    want_len = F.floor(nm / ns) + F.when(k < nm % ns, 1).otherwise(0)
    seg_start = F.floor(k * nt / ns)
    seg_len = F.floor((k + 1) * nt / ns) - seg_start
    span_len = F.least(want_len, seg_len)
    off_range = seg_len - span_len + 1
    offset = (F.conv(F.substring(
        F.md5(F.concat(F.lit("span:"), F.col("doc_id").cast("string"),
                       F.lit(":"), k.cast("string"))), 1, 8), 16, 10)
        .cast("long") % off_range)
    return base.select(
        "doc_id", "n_tokens", "n_masked", "n_spans",
        (nt - nm + ns).alias("inputs_len"),
        (nm + ns + 1).alias("targets_len"),
        "span_id",
        (seg_start + offset).cast("long").alias("start_tok"),
        span_len.cast("long").alias("span_len"),
        F.concat(F.lit("<extra_id_"), F.col("span_id").cast("string"),
                 F.lit(">")).alias("sentinel"))


SPAN_CORRUPTION_SQL = f"""
WITH tk AS (
  SELECT doc_id,
         CAST(len(string_split_regex(lower(trim(text)), '\\s+'))
              AS BIGINT) AS n
  FROM documents
), sized AS (
  SELECT doc_id, n,
         GREATEST(1, (n * {CORRUPT_DENSITY_PCT} + 50) // 100)
             AS n_masked
  FROM tk WHERE n >= {CORRUPT_MIN_TOKENS}
), spans AS (
  SELECT doc_id, n, n_masked,
         CAST(ceil(n_masked / {CORRUPT_MEAN_SPAN}.0) AS BIGINT)
             AS n_spans
  FROM sized
), ex AS (
  SELECT doc_id, n, n_masked, n_spans, unnest(range(0, n_spans)) AS k
  FROM spans
), geo AS (
  SELECT doc_id, n, n_masked, n_spans, k,
         n_masked // n_spans
           + CASE WHEN k < n_masked % n_spans THEN 1 ELSE 0 END
             AS want_len,
         (k * n) // n_spans AS seg_start,
         ((k + 1) * n) // n_spans - (k * n) // n_spans AS seg_len
  FROM ex
)
SELECT doc_id, n AS n_tokens, n_masked, n_spans,
       n - n_masked + n_spans AS inputs_len,
       n_masked + n_spans + 1 AS targets_len,
       CAST(k AS INT) AS span_id,
       seg_start
         + ('0x' || substring(md5('span:' || CAST(doc_id AS VARCHAR)
                                  || ':' || CAST(k AS VARCHAR)), 1, 8))
             ::BIGINT % (seg_len - LEAST(want_len, seg_len) + 1)
           AS start_tok,
       LEAST(want_len, seg_len) AS span_len,
       '<extra_id_' || CAST(k AS VARCHAR) || '>' AS sentinel
FROM geo
"""


# ---------------------------------------------------------------------------
# deterministic epoch shuffle (training-order reproducibility)
# ---------------------------------------------------------------------------

SHUFFLE_EPOCHS = 2
SHUFFLE_SHARDS = 4


def docs_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global shuffle per training epoch — the data-order
    step between packing and the trainer: every (epoch, doc) gets a
    shuffle key md5('epoch:<e>:' || doc_id); the key's first 8 hex
    chars (mod SHUFFLE_SHARDS) pick the output shard and the full key
    orders documents within the shard. Different epochs therefore see
    different, independently-pseudorandom orders, yet any run, engine,
    or cluster size reproduces the exact same order bit-for-bit — the
    property that makes training-data order auditable and resumable
    (no RNG state to checkpoint; the T5/GPT-3 pipelines fix data order
    for exactly this reason).

    Scale shape: one exchange keyed (epoch, shard) — the hash sort is
    a per-shard window, never a global single-partition sort; shard
    count is the parallelism knob. Narrow maps otherwise."""
    docs = _docs(spark, sf_dir)
    epochs = F.explode(F.sequence(
        F.lit(0), F.lit(SHUFFLE_EPOCHS - 1))).alias("epoch")
    keyed = docs.select("doc_id", "lang", epochs).select(
        "doc_id", "lang", "epoch",
        F.md5(F.concat(F.lit("epoch:"), F.col("epoch").cast("string"),
                       F.lit(":"), F.col("doc_id").cast("string")))
         .alias("shuffle_key"))
    shard = (F.conv(F.substring("shuffle_key", 1, 8), 16, 10)
             .cast("long") % SHUFFLE_SHARDS)
    w = Window.partitionBy("epoch", "shard").orderBy("shuffle_key")
    return (keyed.withColumn("shard", shard)
            .select("doc_id", "lang", "epoch", "shard",
                    F.row_number().over(w).alias("pos_in_shard")))


TRAINING_ORDER_SQL = f"""
WITH keyed AS (
  SELECT doc_id, lang, e.epoch,
         md5('epoch:' || CAST(e.epoch AS VARCHAR) || ':'
             || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM documents,
       LATERAL unnest(range(0, {SHUFFLE_EPOCHS})) AS e(epoch)
)
SELECT doc_id, lang, CAST(epoch AS INT) AS epoch,
       ('0x' || substring(shuffle_key, 1, 8))::BIGINT
           % {SHUFFLE_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY epoch,
                        ('0x' || substring(shuffle_key, 1, 8))::BIGINT
                            % {SHUFFLE_SHARDS}
           ORDER BY shuffle_key) AS INT) AS pos_in_shard
FROM keyed
"""


CURRICULUM_PHASES = 3


def docs_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-annealed curriculum order — the data-ordering policy
    that complements docs_training_order's uniform shuffle: documents
    are staged into CURRICULUM_PHASES quality phases (per-language
    percent-rank terciles of the heuristic quality score, lowest phase
    first) so the highest-quality stratum is seen LAST — the
    "anneal on best data" recipe of modern pretraining runs. Within a
    phase the order is the same deterministic md5 hash sort as
    docs_training_order (sharded — no global sort, no RNG state), so
    the full curriculum is reproducible bit-for-bit on any engine or
    cluster size.

    Scale shape: the per-language percent_rank window is the same
    exact-form-vs-approx_percentile note as
    docs_quality_percentile_gate (production swaps ONE broadcast
    cutoff per (lang, phase)); after phase assignment, one exchange
    keyed (phase, shard) for the per-shard hash sort."""
    from ocr_spark.plans.queries import docs_quality_score

    q = docs_quality_score(spark, sf_dir) \
        .select("doc_id", "lang", "quality_score")
    w = Window.partitionBy("lang").orderBy("quality_score", "doc_id")
    pr = F.percent_rank().over(w)
    phase = F.least(F.floor(pr * CURRICULUM_PHASES),
                    F.lit(CURRICULUM_PHASES - 1)).cast("int")
    keyed = q.select(
        "doc_id", "lang", phase.alias("phase"),
        F.md5(F.concat(F.lit("curr:"), F.col("doc_id").cast("string")))
         .alias("shuffle_key"))
    shard = (F.conv(F.substring("shuffle_key", 1, 8), 16, 10)
             .cast("long") % SHUFFLE_SHARDS)
    ws = Window.partitionBy("phase", "shard").orderBy("shuffle_key")
    return (keyed.withColumn("shard", shard)
            .select("doc_id", "lang", "phase", "shard",
                    F.row_number().over(ws).alias("pos_in_shard")))


def _curriculum_order_sql() -> str:
    from ocr_spark.plans.queries import DOCS_QUALITY_SQL

    return f"""
WITH q AS (
{DOCS_QUALITY_SQL}
), phased AS (
  SELECT doc_id, lang,
         CAST(LEAST(FLOOR(percent_rank() OVER (
                  PARTITION BY lang ORDER BY quality_score, doc_id)
                  * {CURRICULUM_PHASES}),
                    {CURRICULUM_PHASES - 1}) AS INT) AS phase,
         md5('curr:' || CAST(doc_id AS VARCHAR)) AS shuffle_key
  FROM q
)
SELECT doc_id, lang, phase,
       ('0x' || substring(shuffle_key, 1, 8))::BIGINT
           % {SHUFFLE_SHARDS} AS shard,
       CAST(ROW_NUMBER() OVER (
           PARTITION BY phase,
                        ('0x' || substring(shuffle_key, 1, 8))::BIGINT
                            % {SHUFFLE_SHARDS}
           ORDER BY shuffle_key) AS INT) AS pos_in_shard
FROM phased
"""


# ---------------------------------------------------------------------------
# DSIR — data selection with importance resampling (Xie et al. 2023)
# ---------------------------------------------------------------------------

DSIR_BUCKETS = 1024          # hashed n-gram feature space (paper: 10k)
DSIR_TARGET_SOURCES = ("src0", "src1", "src2")  # curated-domain proxy
DSIR_SELECT_FRAC = 0.25      # keep the top quartile per language
_MICRO = 1_000_000           # λ quantization: integer micro-nats


def docs_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (Xie et al. 2023, "Data Selection for
    Language Models via Importance Resampling"): score every raw-corpus
    document by how target-like its hashed n-gram bag is, then select
    the most target-like fraction. Features are unigrams + bigrams
    hashed into DSIR_BUCKETS buckets (the paper's hashed n-gram
    generative model); the target distribution p and raw distribution q
    are add-1-smoothed bucket frequencies; a document's log importance
    weight is sum over its features of λ[b] = ln p[b] − ln q[b]. The
    target corpus here is the curated-source proxy
    ``source IN DSIR_TARGET_SOURCES`` (in production: Wikipedia/books);
    raw is the whole crawl, target included, exactly as in the paper.
    Selection is the top DSIR_SELECT_FRAC per language by
    length-normalized weight (sum-weight favors long documents;
    the paper resamples, which is length-aware — the per-token mean is
    the deterministic analogue), ties broken on doc_id.

    Cross-engine determinism: λ is quantized to integer micro-nats
    (floor(1e6·λ) as BIGINT) so per-document sums are exact integer
    arithmetic — order-independent under any shuffle/partitioning, and
    the rank window orders on a value both engines derive identically
    from two integers.

    Scale shape (100 TB): the λ table is bounded by DSIR_BUCKETS (a
    plan constant) and BROADCASTS; the target corpus is small by
    definition (curated reference vs crawl) so its bucket counts are a
    cheap aggregate; the raw bucket counts are one partial-aggregated
    groupBy over DSIR_BUCKETS keys (map-side combine collapses almost
    everything — B is tiny); the probe side pre-aggregates per
    (doc_id, bucket) before the broadcast join (the bigram-LM skew
    discipline), and the only corpus-sized shuffles are keyed doc_id.
    The per-language exact rank is the oracle-checkable form; at 10^12
    docs it becomes one approx_percentile cutoff per language broadcast
    back (the docs_quality_percentile_gate note). The reference has no
    corpus selection (SURVEY §2 absent lists)."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    bi = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.concat(F.element_at(toks, i + 1),
                                       F.lit(" "),
                                       F.element_at(toks, i + 2))),
    ).otherwise(F.array().cast("array<string>"))
    feats = docs.select(
        "doc_id", "lang",
        F.col("source").isin(*DSIR_TARGET_SOURCES).alias("is_target"),
        F.explode(F.concat(toks, bi)).alias("f"),
    )
    b = (F.conv(F.substring(F.md5("f"), 1, 8), 16, 10).cast("long")
         % DSIR_BUCKETS)
    fb = feats.select("doc_id", "lang", "is_target", b.alias("b"))
    tgt = (fb.filter("is_target").groupBy("b")
           .agg(F.count(F.lit(1)).alias("tc")))
    rawc = fb.groupBy("b").agg(F.count(F.lit(1)).alias("rc"))
    tots = fb.agg(
        F.sum(F.col("is_target").cast("long")).alias("t_total"),
        F.count(F.lit(1)).alias("r_total"))  # 1 row → broadcast
    lam_val = F.lit(_MICRO) * (
        F.log((F.coalesce(F.col("tc"), F.lit(0)) + F.lit(1.0))
              / (F.col("t_total") + F.lit(float(DSIR_BUCKETS))))
        - F.log((F.col("rc") + F.lit(1.0))
                / (F.col("r_total") + F.lit(float(DSIR_BUCKETS)))))
    lam = (rawc.join(tgt, "b", "left")
           .crossJoin(F.broadcast(tots))
           .select("b", F.floor(lam_val).cast("long").alias("lam")))
    probe = (fb.groupBy("doc_id", "lang", "b")
             .agg(F.count(F.lit(1)).alias("m")))
    doc = (probe.join(F.broadcast(lam), "b")
           .groupBy("doc_id", "lang")
           .agg(F.sum("m").alias("n_feats"),
                F.sum(F.col("m") * F.col("lam")).alias("wmicro")))
    avg = F.col("wmicro").cast("double") / F.col("n_feats")
    w = Window.partitionBy("lang").orderBy(avg.desc(), "doc_id")
    pr = F.round(F.percent_rank().over(w), 6)
    return doc.select(
        "doc_id", "lang",
        F.col("n_feats").cast("long").alias("n_feats"),
        F.round(F.col("wmicro").cast("double") / _MICRO, 4)
         .alias("dsir_logweight"),
        F.round(avg / _MICRO, 6).alias("dsir_avg"),
        pr.alias("pct_rank"),
        (pr <= DSIR_SELECT_FRAC).alias("selected"),
    )


_DSIR_TGT_IN = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)

DSIR_WEIGHTS_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, source,
         string_split_regex(lower(trim(text)), '\\s+') AS t
  FROM documents
), feats AS (
  SELECT doc_id, lang, source IN ({_DSIR_TGT_IN}) AS is_target, f
  FROM tk, LATERAL unnest(
    list_concat(t,
      CASE WHEN len(t) >= 2
           THEN list_transform(range(1, len(t)),
                               i -> t[i] || ' ' || t[i + 1])
           ELSE [] END)) AS u(f)
), fb AS (
  SELECT doc_id, lang, is_target,
         ('0x' || substring(md5(f), 1, 8))::BIGINT % {DSIR_BUCKETS} AS b
  FROM feats
), tgt AS (
  SELECT b, COUNT(*) AS tc FROM fb WHERE is_target GROUP BY b
), rawc AS (
  SELECT b, COUNT(*) AS rc FROM fb GROUP BY b
), tots AS (
  SELECT SUM(CASE WHEN is_target THEN 1 ELSE 0 END) AS t_total,
         COUNT(*) AS r_total
  FROM fb
), lam AS (
  SELECT rawc.b,
         CAST(floor({_MICRO} * (
           ln((COALESCE(tgt.tc, 0) + 1.0)
              / (tots.t_total + {DSIR_BUCKETS}.0))
           - ln((rawc.rc + 1.0)
                / (tots.r_total + {DSIR_BUCKETS}.0)))) AS BIGINT) AS lam
  FROM rawc LEFT JOIN tgt USING (b) CROSS JOIN tots
), probe AS (
  SELECT doc_id, lang, b, COUNT(*) AS m
  FROM fb GROUP BY doc_id, lang, b
), doc AS (
  SELECT p.doc_id, p.lang,
         SUM(p.m) AS n_feats,
         SUM(p.m * lam.lam) AS wmicro
  FROM probe p JOIN lam USING (b)
  GROUP BY p.doc_id, p.lang
)
SELECT doc_id, lang,
       CAST(n_feats AS BIGINT) AS n_feats,
       round(CAST(wmicro AS DOUBLE) / {_MICRO}, 4) AS dsir_logweight,
       round(CAST(wmicro AS DOUBLE) / n_feats / {_MICRO}, 6) AS dsir_avg,
       round(percent_rank() OVER (
           PARTITION BY lang
           ORDER BY CAST(wmicro AS DOUBLE) / n_feats DESC, doc_id), 6)
         AS pct_rank,
       round(percent_rank() OVER (
           PARTITION BY lang
           ORDER BY CAST(wmicro AS DOUBLE) / n_feats DESC, doc_id), 6)
         <= {DSIR_SELECT_FRAC} AS selected
FROM doc
"""


def docs_training_set(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end corpus build as ONE oracle-checked query — the
    capstone composition a training-data user actually materializes:
    the content verdict (Gopher bounds + repetition + substring-dup +
    exact-dedup keeper election, docs_curation_verdict), benchmark
    decontamination, and the per-host diversity cap gate each
    document; survivors receive their domain's mixture-realized copy
    count (docs_mixture_realize). One row per training candidate with
    the first failing stage as drop_stage (eval-holdout docs are
    excluded from training by definition, as in docs_decontaminate)
    and the final n_copies the shard packer consumes.

    Shape: each constituent stays independently oracle-checked and
    plan-gated; this query adds only doc_id equi-joins of their
    outputs — no new shuffle classes. The analogous composition over
    the FineWeb-style gate set is docs_fineweb_verdict; this one
    continues past the verdict into SAMPLING, which the verdict
    queries stop short of."""
    from ocr_spark.plans.webops import docs_curation_verdict, docs_host_cap

    v = docs_curation_verdict(spark, sf_dir) \
        .select("doc_id", F.col("keep").alias("keep_curation"))
    d = docs_decontaminate(spark, sf_dir) \
        .select("doc_id", "is_contaminated")
    h = docs_host_cap(spark, sf_dir).select("doc_id", "keep_host_cap")
    r = docs_mixture_realize(spark, sf_dir) \
        .select("doc_id", "lang", "n_copies")
    out = d.join(v, "doc_id").join(h, "doc_id").join(r, "doc_id")
    keep = (F.col("keep_curation") & ~F.col("is_contaminated")
            & F.col("keep_host_cap"))
    stage = (F.when(~F.col("keep_curation"), F.lit("curation"))
             .when(F.col("is_contaminated"), F.lit("decontamination"))
             .when(~F.col("keep_host_cap"), F.lit("host_cap")))
    return out.select(
        "doc_id", "lang", "keep_curation",
        "is_contaminated", "keep_host_cap",
        keep.alias("keep"), stage.alias("drop_stage"),
        F.when(keep, F.col("n_copies")).otherwise(F.lit(0))
         .cast("long").alias("n_copies"))


def _training_set_sql() -> str:
    from ocr_spark.plans.webops import DOCS_HOST_CAP_SQL, _curation_sql

    return f"""
WITH v AS (
{_curation_sql()}
), d AS (
{DECONTAMINATE_SQL}
), h AS (
{DOCS_HOST_CAP_SQL}
), r AS (
{MIXTURE_REALIZE_SQL}
), j AS (
  SELECT d.doc_id, r.lang,
         v.keep AS keep_curation,
         d.is_contaminated,
         h.keep_host_cap,
         r.n_copies
  FROM d
  JOIN v ON v.doc_id = d.doc_id
  JOIN h ON h.doc_id = d.doc_id
  JOIN r ON r.doc_id = d.doc_id
)
SELECT doc_id, lang, keep_curation, is_contaminated, keep_host_cap,
       (keep_curation AND NOT is_contaminated AND keep_host_cap) AS keep,
       CASE WHEN NOT keep_curation THEN 'curation'
            WHEN is_contaminated THEN 'decontamination'
            WHEN NOT keep_host_cap THEN 'host_cap' END AS drop_stage,
       CASE WHEN keep_curation AND NOT is_contaminated AND keep_host_cap
            THEN n_copies ELSE 0 END AS n_copies
FROM j
"""


def shards_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shard-balance QA over the token-budget packing: per (lang,
    shard) the doc/token loads, plus one summary row per language with
    the max/mean token-load ratio (the skew number) and the count of
    underfull shards — the health check a pipeline publishes before
    handing shards to trainers, because one hot shard sets the epoch's
    wall-clock exactly the way one hot Spark partition sets a stage's.
    Summary rows carry shard_id = -1.

    Scale shape: reuses docs_token_shards' per-language window, then
    ONE partial-agg groupBy (lang, shard_id) — vocabulary-of-shards
    sized — and a |langs|-row rollup."""
    shards = docs_token_shards(spark, sf_dir)
    per = (shards.groupBy("lang", "shard_id")
           .agg(F.count("*").alias("n_docs"),
                F.sum("n_tokens").alias("n_tokens")))
    roll = (per.groupBy("lang")
            .agg(F.count("*").alias("n_shards"),
                 F.sum("n_docs").alias("total_docs"),
                 F.sum("n_tokens").alias("total_tokens"),
                 F.max("n_tokens").alias("max_tokens"),
                 (F.sum("n_tokens") / F.count("*")).alias("mean_tok"),
                 F.sum(((F.col("n_tokens")
                         < int(SHARD_TOKEN_BUDGET * 0.5))).cast("long"))
                  .alias("n_underfull")))
    lang_rows = per.select(
        "lang", "shard_id",
        F.col("n_docs").cast("long").alias("n_docs"),
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.lit(None).cast("double").alias("skew_ratio"),
        F.lit(None).cast("long").alias("n_underfull"))
    summary = roll.select(
        "lang", F.lit(-1).cast("int").alias("shard_id"),
        F.col("total_docs").cast("long").alias("n_docs"),
        F.col("total_tokens").cast("long").alias("n_tokens"),
        F.round(F.col("max_tokens") / F.col("mean_tok"), 4)
         .alias("skew_ratio"),
        F.col("n_underfull").cast("long").alias("n_underfull"))
    return lang_rows.unionByName(summary)


SHARDS_SKEW_REPORT_SQL = f"""
WITH shards AS (
{TOKEN_SHARDS_SQL}
), per AS (
  SELECT lang, shard_id,
         CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS n_tokens
  FROM shards GROUP BY lang, shard_id
)
SELECT lang, shard_id, n_docs, n_tokens,
       CAST(NULL AS DOUBLE) AS skew_ratio,
       CAST(NULL AS BIGINT) AS n_underfull
FROM per
UNION ALL
SELECT lang, CAST(-1 AS INT), CAST(SUM(n_docs) AS BIGINT),
       CAST(SUM(n_tokens) AS BIGINT),
       round(MAX(n_tokens)
             / (SUM(n_tokens) / CAST(COUNT(*) AS DOUBLE)), 4),
       CAST(SUM(CASE WHEN n_tokens < {int(SHARD_TOKEN_BUDGET * 0.5)}
                THEN 1 ELSE 0 END) AS BIGINT)
FROM per GROUP BY lang
"""


# ---------------------------------------------------------------------------
# reciprocal-rank-fusion quality ensemble
# ---------------------------------------------------------------------------

RRF_K = 60        # the standard RRF damping constant (Cormack et al. 2009)
RRF_ROUND = 6


def docs_quality_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ensemble quality ranking via reciprocal-rank fusion — the
    Nemotron-CC-style move of combining MULTIPLE quality classifiers
    instead of trusting one: per-language ranks under three
    independent signals (heuristic quality score, fastText-style
    classifier score, Flesch readability) fused as
    Σ 1/(K + rank_i) with K=60.  Rank fusion is used instead of score
    z-averaging deliberately: ranks are integers, so the fused score
    is a per-row sum of three terms — no cross-row float aggregation,
    bit-stable under any partition order at any cluster size (the
    same determinism argument as the classifier's integer weights).

    Scale shape: three per-language sort windows over one-row-per-doc
    frames plus doc_id equi-joins — the same shape as
    docs_quality_percentile_gate; at 10^12 docs the windows become
    per-shard like docs_token_shards, or the ranks are replaced by
    approx-percentile buckets with the same fusion arithmetic."""
    from ocr_spark.plans.queries import docs_quality_score

    heur = docs_quality_score(spark, sf_dir) \
        .select("doc_id", "lang", "quality_score")
    cls = docs_classifier_score(spark, sf_dir) \
        .select("doc_id", F.col("score").alias("cls_score"))
    read = docs_readability(spark, sf_dir).select("doc_id", "flesch")
    j = heur.join(cls, "doc_id").join(read, "doc_id")

    def rk(col: str):
        w = Window.partitionBy("lang").orderBy(F.col(col).desc(), "doc_id")
        return F.row_number().over(w).cast("long")

    ranked = j.select(
        "doc_id", "lang",
        rk("quality_score").alias("r_heuristic"),
        rk("cls_score").alias("r_classifier"),
        rk("flesch").alias("r_flesch"),
    )
    rrf = F.round(
        F.lit(1.0) / (F.lit(RRF_K) + F.col("r_heuristic"))
        + F.lit(1.0) / (F.lit(RRF_K) + F.col("r_classifier"))
        + F.lit(1.0) / (F.lit(RRF_K) + F.col("r_flesch")),
        RRF_ROUND)
    scored = ranked.select("*", rrf.alias("rrf"))
    w_out = Window.partitionBy("lang").orderBy(F.col("rrf").desc(),
                                               "doc_id")
    return scored.select(
        "*", F.row_number().over(w_out).cast("long").alias("ensemble_rank"))


def _quality_rrf_sql() -> str:
    from ocr_spark.plans.queries import DOCS_QUALITY_SQL

    return f"""
WITH heur AS (
{DOCS_QUALITY_SQL}
), cls AS (
{_classifier_sql()}
), rd AS (
{READABILITY_SQL}
), j AS (
  SELECT h.doc_id, h.lang, h.quality_score, c.score AS cls_score,
         r.flesch
  FROM heur h
  JOIN cls c ON h.doc_id = c.doc_id
  JOIN rd r ON h.doc_id = r.doc_id
), rks AS (
  SELECT doc_id, lang,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY quality_score DESC, doc_id) AS BIGINT)
           AS r_heuristic,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY cls_score DESC, doc_id) AS BIGINT)
           AS r_classifier,
         CAST(row_number() OVER (PARTITION BY lang
              ORDER BY flesch DESC, doc_id) AS BIGINT) AS r_flesch
  FROM j
), sc AS (
  SELECT doc_id, lang, r_heuristic, r_classifier, r_flesch,
         round(1.0 / ({RRF_K} + r_heuristic)
               + 1.0 / ({RRF_K} + r_classifier)
               + 1.0 / ({RRF_K} + r_flesch), {RRF_ROUND}) AS rrf
  FROM rks
)
SELECT doc_id, lang, r_heuristic, r_classifier, r_flesch, rrf,
       CAST(row_number() OVER (PARTITION BY lang
            ORDER BY rrf DESC, doc_id) AS BIGINT) AS ensemble_rank
FROM sc
"""


CAL_BINS = 10   # score deciles


def classifier_score_frame(df: DataFrame, key: str = "url") -> DataFrame:
    """(key, n_tokens, score) from ANY frame carrying ``text`` — the
    docs_classifier_score recipe (broadcast weight table, per-doc
    partial agg, SCORE_ROUND-rounded sigmoid) over an arbitrary
    input: shared by the labeling job's batch ranking and the
    streaming PSI monitor, so a score computed anywhere in the
    pipeline is THE classifier's score, never a parallel copy."""
    model = _quality_model()
    spark = df.sparkSession
    vocab = spark.createDataFrame(
        list(model["weights_x10"].items()), "tok string, w10 long")
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    exploded = df.select(key, F.explode(toks).alias("tok"))
    agg = (exploded.join(F.broadcast(vocab), "tok", "left")
           .groupBy(key)
           .agg(F.count("*").alias("n_tokens"),
                F.sum(F.coalesce(F.col("w10"), F.lit(0))).alias("sw10")))
    z = (F.col("sw10") / (F.col("n_tokens") * 10.0)
         + F.lit(model["bias_x10"] / 10.0))
    return agg.select(
        key, "n_tokens",
        F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-z)), SCORE_ROUND)
        .alias("score"))


PSI_BINS = 10


def psi_bin_col() -> Column:
    """The score's PSI bin: floor(score·PSI_BINS), a score of 1.0
    folded into the top bin."""
    return F.least(F.lit(PSI_BINS - 1),
                   F.floor(F.col("score") * PSI_BINS)).cast("int")


def psi_terms_frame(per: DataFrame, n_ref: str, n_new: str) -> DataFrame:
    """Per-bin counts (bin, ``n_ref``, ``n_new``) → the same rows plus
    the Laplace-smoothed shares ``p`` (reference) and ``q`` (new), the
    bin's PSI term in integer micro-units ``psi_term_micro`` =
    round((q−p)·ln(q/p)·1e6), and the broadcast totals ``t_ref``,
    ``t_new``, ``n_bins``. Smoothing is +1 per OBSERVED bin, so a bin
    empty on both sides drops out identically on both engines. Shared
    by docs_quality_psi and the streaming drift monitor
    (streaming/ingest.py psi_sink)."""
    tot = per.agg(F.sum(n_ref).cast("long").alias("t_ref"),
                  F.sum(n_new).cast("long").alias("t_new"),
                  F.count(F.lit(1)).cast("long").alias("n_bins"))
    p = (F.col(n_ref) + 1) / (F.col("t_ref") + F.col("n_bins"))
    q = (F.col(n_new) + 1) / (F.col("t_new") + F.col("n_bins"))
    return per.crossJoin(F.broadcast(tot)).select(
        "*", p.alias("p"), q.alias("q"),
        F.round((q - p) * F.log(q / p) * 1e6).cast("long")
        .alias("psi_term_micro"))


def docs_quality_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-Stability-Index drift monitor over the quality
    classifier's score distribution — the standard model-monitoring
    metric (PSI = Σ (q−p)·ln(q/p) over score bins; rule of thumb:
    <0.1 stable, 0.1–0.25 watch, >0.25 investigate) between the prior
    snapshot and the new crawl's arrivals (doc_id % 3 == 2, the same
    role split as docs_new_vs_snapshot / docs_snapshot_drift). The
    vocabulary watches docs_vocab_novelty, the metadata watches
    docs_snapshot_drift — this watches the MODEL's view of the crawl,
    catching a quality-mix shift even when language shares and vocab
    are stable.

    Determinism: counts are exact integers; Laplace +1 smoothing per
    OBSERVED bin (bins empty in BOTH roles drop out identically on
    both engines); each PSI term is computed in integer MICRO-units
    (round(term·1e6)) so the cross-bin total is an exact integer sum
    — no float fold order anywhere.

    Scale shape: the classifier subplan + ONE conditional partial-agg
    groupBy(bin) (≤ PSI_BINS rows out), 1-row totals broadcast — the
    docs_snapshot_drift shape with the score as the dimension."""
    s = docs_classifier_score(spark, sf_dir).select("doc_id", "score")
    is_new = F.col("doc_id") % 3 == 2
    per = (s.select(psi_bin_col().alias("bin"), is_new.alias("is_new"))
           .groupBy("bin")
           .agg(F.sum((~F.col("is_new")).cast("long")).alias("n_prior"),
                F.sum(F.col("is_new").cast("long")).alias("n_new")))
    terms = psi_terms_frame(per, "n_prior", "n_new").select(
        "bin", "n_prior", "n_new",
        F.round("p", 6).alias("share_prior"),
        F.round("q", 6).alias("share_new"), "psi_term_micro")
    total = terms.agg(F.sum("psi_term_micro").cast("long")
                      .alias("psi_micro"))
    return (terms.crossJoin(F.broadcast(total))
            .select("bin", "n_prior", "n_new", "share_prior",
                    "share_new",
                    F.round(F.col("psi_term_micro") / 1e6, 6)
                    .alias("psi_term"),
                    F.round(F.col("psi_micro") / 1e6, 6)
                    .alias("psi_total"))
            .orderBy("bin"))


def _quality_psi_sql() -> str:
    return f"""
WITH cls AS (
{_classifier_sql()}
), binned AS (
  SELECT CAST(LEAST({PSI_BINS} - 1,
                    CAST(FLOOR(score * {PSI_BINS}) AS BIGINT))
              AS INT) AS bin,
         doc_id % 3 = 2 AS is_new
  FROM cls
), per AS (
  SELECT bin,
         CAST(SUM(CASE WHEN is_new THEN 0 ELSE 1 END) AS BIGINT)
           AS n_prior,
         CAST(SUM(CASE WHEN is_new THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new
  FROM binned GROUP BY bin
), tot AS (
  SELECT CAST(SUM(n_prior) AS BIGINT) AS tp,
         CAST(SUM(n_new) AS BIGINT) AS tn,
         CAST(COUNT(*) AS BIGINT) AS nb
  FROM per
), terms AS (
  SELECT per.bin, per.n_prior, per.n_new,
         round((per.n_prior + 1) / CAST(tot.tp + tot.nb AS DOUBLE), 6)
           AS share_prior,
         round((per.n_new + 1) / CAST(tot.tn + tot.nb AS DOUBLE), 6)
           AS share_new,
         CAST(round(
           ((per.n_new + 1) / CAST(tot.tn + tot.nb AS DOUBLE)
            - (per.n_prior + 1) / CAST(tot.tp + tot.nb AS DOUBLE))
           * ln(((per.n_new + 1) / CAST(tot.tn + tot.nb AS DOUBLE))
                / ((per.n_prior + 1)
                   / CAST(tot.tp + tot.nb AS DOUBLE))) * 1e6)
           AS BIGINT) AS psi_term_micro
  FROM per CROSS JOIN tot
), total AS (
  SELECT CAST(SUM(psi_term_micro) AS BIGINT) AS psi_micro FROM terms
)
SELECT bin, n_prior, n_new, share_prior, share_new,
       round(psi_term_micro / 1e6, 6) AS psi_term,
       round(t.psi_micro / 1e6, 6) AS psi_total
FROM terms CROSS JOIN total t
ORDER BY bin
"""


def docs_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier-calibration table — the QA artifact published
    before a model-based quality filter is trusted (the reliability-
    diagram companion to docs_lsh_eval / emb_ann_recall_eval's
    candidate scorecards): documents are binned into CAL_BINS score
    deciles (ties broken by doc_id so the binning is deterministic),
    and each decile reports its mean classifier score against the
    fraction passing the INDEPENDENT heuristic Gopher gate. A
    well-calibrated classifier shows keep_rate rising monotonically
    with the decile; a flat curve means the classifier learned
    nothing the heuristics don't already know.

    Determinism: mean_score is computed from an exact integer sum of
    the 6-decimal scores (score_x1e6), not a float AVG — float
    summation order differs between engines/partitions and can flip
    the rounded last digit; keep_rate is an integer ratio.

    Scale shape: the two subplans are the audited classifier/Gopher
    shapes; the decile assignment here is one global NTILE window
    (exact form); at 10^12 docs it becomes approx_percentile
    cutpoints broadcast back — the same exact-vs-approx note as
    docs_quality_percentile_gate; the final rollup is a
    CAL_BINS-row aggregate."""
    from ocr_spark.plans.dataops import docs_gopher_filters

    s = docs_classifier_score(spark, sf_dir).select("doc_id", "score")
    g = docs_gopher_filters(spark, sf_dir) \
        .select("doc_id", F.col("keep").alias("keep_gopher"))
    j = s.join(g, "doc_id")
    # global exact-decile window — the documented fixture-exact form;
    # production swaps in approx_percentile cutpoints (docstring)
    w = Window.orderBy("score", "doc_id")
    binned = j.select(
        "score", "keep_gopher",
        F.ntile(CAL_BINS).over(w).alias("decile"),
        F.round(F.col("score") * 1e6).cast("long").alias("score_x1e6"))
    agg = binned.groupBy("decile").agg(
        F.count("*").alias("n_docs"),
        F.sum("score_x1e6").alias("s1e6"),
        F.sum(F.col("keep_gopher").cast("long")).alias("n_keep"))
    return agg.select(
        "decile", "n_docs",
        F.round(F.col("s1e6") / (F.col("n_docs") * 1e6), 6)
         .alias("mean_score"),
        "n_keep",
        F.round(F.col("n_keep") / F.col("n_docs"), 6).alias("keep_rate"))


def _quality_calibration_sql() -> str:
    from ocr_spark.plans.dataops import _GOPHER_SQL

    return f"""
WITH cls AS (
{_classifier_sql()}
), gph AS (
{_GOPHER_SQL}
), j AS (
  SELECT cls.doc_id, cls.score, gph.keep AS keep_gopher
  FROM cls JOIN gph ON cls.doc_id = gph.doc_id
), b AS (
  SELECT score, keep_gopher,
         CAST(NTILE({CAL_BINS}) OVER (ORDER BY score, doc_id) AS INT)
           AS decile,
         CAST(round(score * 1e6) AS BIGINT) AS score_x1e6
  FROM j
), agg AS (
  SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(score_x1e6) AS s1e6,
         CAST(SUM(CASE WHEN keep_gopher THEN 1 ELSE 0 END) AS BIGINT)
           AS n_keep
  FROM b GROUP BY decile
)
SELECT decile, n_docs,
       round(s1e6 / (n_docs * 1e6), 6) AS mean_score,
       n_keep,
       round(n_keep / CAST(n_docs AS DOUBLE), 6) AS keep_rate
FROM agg
"""


CANARY_NEG = 4   # synthetic never-in-corpus negative controls


def docs_canary_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination CONTROL harness — the canary pattern every
    production decon deployment runs before being trusted: probe the
    corpus n-gram machinery with (a) one POSITIVE control built from
    a real training document's leading DECONTAM_K-token window (must
    be detected — at minimum by its own source document) and (b)
    CANARY_NEG NEGATIVE controls built from nonce tokens that cannot
    exist in any natural corpus (must never be detected). A decon
    stage whose positive canary goes undetected is silently broken;
    one whose negative canaries hit is hashing wrong. Same gram
    definition, same broadcast-probe shape as docs_decontaminate, so
    the controls exercise the REAL machinery, not a copy.

    Scale shape: the canary gram set is a handful of rows —
    broadcast; the corpus side is the same narrow explode; one
    per-canary partial-agg count."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), _TOKS)
    grams = F.when(
        F.size(toks) >= DECONTAM_K,
        F.transform(F.sequence(F.lit(0), F.size(toks) - DECONTAM_K),
                    lambda i: F.md5(
                        F.concat_ws(" ", F.slice(toks, i + 1,
                                                 DECONTAM_K)))),
    ).otherwise(F.array().cast("array<string>"))
    corpus = docs.select("doc_id", F.explode(grams).alias("gh"))
    pos = (docs.filter(F.col("doc_id") == 1)
           .select(F.lit(0).alias("canary_id"),
                   F.lit("positive").alias("kind"),
                   F.md5(F.concat_ws(
                       " ", F.slice(toks, 1, DECONTAM_K))).alias("ch")))
    import hashlib as _hl
    neg_rows = []
    for i in range(1, CANARY_NEG + 1):
        nonce_toks = [
            "zq" + _hl.md5(f"canary{i}:{j}".encode()).hexdigest()[:8]
            for j in range(DECONTAM_K)]
        gram = " ".join(nonce_toks)
        neg_rows.append(
            (i, "negative", _hl.md5(gram.encode()).hexdigest()))
    neg = spark.createDataFrame(
        neg_rows, "canary_id int, kind string, ch string")
    canaries = pos.union(neg)
    hits = (corpus.join(F.broadcast(canaries),
                        corpus.gh == canaries.ch, "right")
            .groupBy("canary_id", "kind")
            .agg(F.countDistinct("doc_id").alias("n_matching_docs")))
    return hits.select(
        "canary_id", "kind", "n_matching_docs",
        (F.col("n_matching_docs") > 0).alias("detected"))


def _canary_probe_sql() -> str:
    import hashlib as _hl
    neg_rows = []
    for i in range(1, CANARY_NEG + 1):
        gram = " ".join(
            "zq" + _hl.md5(f"canary{i}:{j}".encode()).hexdigest()[:8]
            for j in range(DECONTAM_K))
        neg_rows.append(
            f"({i}, 'negative', '{_hl.md5(gram.encode()).hexdigest()}')")
    return f"""
WITH toks AS (
  SELECT doc_id, string_split_regex(lower(trim(text)), '\\s+') AS tk
  FROM documents
), corpus AS (
  SELECT doc_id,
         md5(list_aggregate(tk[i:i+{DECONTAM_K - 1}], 'string_agg', ' '))
           AS gh
  FROM toks, LATERAL unnest(range(1, len(tk) - {DECONTAM_K - 2}))
       AS u(i)
  WHERE len(tk) >= {DECONTAM_K}
), canaries(canary_id, kind, ch) AS (
  SELECT 0, 'positive',
         md5(list_aggregate(tk[1:{DECONTAM_K}], 'string_agg', ' '))
  FROM toks WHERE doc_id = 1
  UNION ALL VALUES {", ".join(neg_rows)}
)
SELECT c.canary_id, c.kind,
       CAST(COUNT(DISTINCT corpus.doc_id) AS BIGINT)
         AS n_matching_docs,
       COUNT(DISTINCT corpus.doc_id) > 0 AS detected
FROM canaries c LEFT JOIN corpus ON corpus.gh = c.ch
GROUP BY c.canary_id, c.kind
"""


def docs_metric_correlations(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Quality-signal correlation report — the sanity check before
    composing signals into an ensemble (docs_quality_rrf) or a gate:
    per language, the Pearson correlation between document length and
    classifier score. Signals that correlate near ±1 are redundant in
    an ensemble; near 0 they bring independent information. All five
    moment sums are EXACT integers (length and the 6-decimal score in
    micro-units), so the aggregation is partition-order-proof; the
    final Pearson formula is one fixed-order double expression over
    those integers — identical in both engines.

    Scale shape: the classifier subplan plus one narrow length map
    and ONE per-language partial-agg groupBy of five integer sums."""
    docs = _docs(spark, sf_dir).select(
        "doc_id", F.length("text").cast("long").alias("x"))
    s = docs_classifier_score(spark, sf_dir).select(
        "doc_id", "lang",
        F.round(F.col("score") * 1e6).cast("long").alias("y"))
    j = s.join(docs, "doc_id")
    agg = j.groupBy("lang").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("y") * F.col("y")).alias("syy"))
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
                 .cast("double")
                 * (F.col("n") * F.col("syy")
                    - F.col("sy") * F.col("sy")).cast("double"))
    r = F.when(den == 0, F.lit(None).cast("double")) \
        .otherwise(F.round(num.cast("double") / den, 6))
    return agg.select("lang", "n", r.alias("pearson_len_score"))


def _metric_correlations_sql() -> str:
    return f"""
WITH cls AS (
{_classifier_sql()}
), j AS (
  SELECT c.lang, CAST(length(d.text) AS BIGINT) AS x,
         CAST(round(c.score * 1e6) AS BIGINT) AS y
  FROM cls c JOIN documents d ON d.doc_id = c.doc_id
), agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n,
         CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
         CAST(SUM(x * y) AS BIGINT) AS sxy,
         CAST(SUM(x * x) AS BIGINT) AS sxx,
         CAST(SUM(y * y) AS BIGINT) AS syy
  FROM j GROUP BY lang
)
SELECT lang, n,
       CASE WHEN sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                      * CAST(n * syy - sy * sy AS DOUBLE)) = 0
            THEN NULL
            ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
                       / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                              * CAST(n * syy - sy * sy AS DOUBLE)), 6)
       END AS pearson_len_score
FROM agg
"""


PREF_MIN_GAP = 0.02   # minimum score separation for a usable pair


def docs_preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Preference-pair construction for reward-model / DPO training —
    the weak-supervision recipe that bootstraps a preference dataset
    from an existing quality signal before any human labels exist:
    per language, documents ranked by classifier score are paired
    best-with-worst (rank i vs rank n−i+1), each pair emitting
    (chosen, rejected, score gap) with a usability flag when the gap
    clears PREF_MIN_GAP (a pair whose scores are indistinguishable
    teaches the reward model noise). Mirror-rank pairing maximizes
    the mean gap over any perfect matching of top-half to bottom-half
    and is deterministic end to end.

    Scale shape: the classifier subplan is the audited broadcast-
    weight shape; on top, one per-language sort window for ranks
    (same exact-form note as docs_quality_percentile_gate), one tiny
    per-language count, and a (lang, pair_idx) equi-join of the two
    half-frames."""
    s = docs_classifier_score(spark, sf_dir) \
        .select("doc_id", "lang", "score")
    w = Window.partitionBy("lang").orderBy(F.desc("score"), "doc_id")
    wn = Window.partitionBy("lang")
    ranked = (s.withColumn("rd", F.row_number().over(w))
              .withColumn("n", F.count("*").over(wn)))
    top = (ranked.filter(F.col("rd") <= F.col("n") / 2)
           .select("lang", F.col("rd").cast("long").alias("pair_idx"),
                   F.col("doc_id").alias("chosen_doc_id"),
                   F.col("score").alias("chosen_score")))
    bot = (ranked.filter(F.col("rd") > (F.col("n") + 1) / 2)
           .select("lang",
                   (F.col("n") - F.col("rd") + 1).cast("long")
                   .alias("pair_idx"),
                   F.col("doc_id").alias("rejected_doc_id"),
                   F.col("score").alias("rejected_score")))
    j = top.join(bot, ["lang", "pair_idx"])
    gap = F.round(F.col("chosen_score") - F.col("rejected_score"), 6)
    return j.select(
        "lang", "pair_idx", "chosen_doc_id", "rejected_doc_id",
        "chosen_score", "rejected_score", gap.alias("score_gap"),
        (gap >= PREF_MIN_GAP).alias("usable"))


def _preference_pairs_sql() -> str:
    return f"""
WITH cls AS (
{_classifier_sql()}
), ranked AS (
  SELECT doc_id, lang, score,
         ROW_NUMBER() OVER (PARTITION BY lang
                            ORDER BY score DESC, doc_id) AS rd,
         COUNT(*) OVER (PARTITION BY lang) AS n
  FROM cls
), top AS (
  SELECT lang, rd AS pair_idx, doc_id AS chosen_doc_id,
         score AS chosen_score
  FROM ranked WHERE rd <= n / 2.0
), bot AS (
  SELECT lang, n - rd + 1 AS pair_idx, doc_id AS rejected_doc_id,
         score AS rejected_score
  FROM ranked WHERE rd > (n + 1) / 2.0
)
SELECT lang, CAST(pair_idx AS BIGINT) AS pair_idx,
       chosen_doc_id, rejected_doc_id, chosen_score, rejected_score,
       round(chosen_score - rejected_score, 6) AS score_gap,
       round(chosen_score - rejected_score, 6) >= {PREF_MIN_GAP}
         AS usable
FROM top JOIN bot USING (lang, pair_idx)
"""


DP_EPSILON = 1.0      # Laplace mechanism privacy budget
DP_SALT = "dp1:"      # released-statistic identifier → noise draw


def docs_dp_lang_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differentially-private corpus-statistic release — the
    Census-style companion to hosts_stats_kanon's k-anonymity gate:
    per-language document counts released through the Laplace
    mechanism (sensitivity 1 — one document moves one count by one —
    so noise ~ Laplace(1/ε)), clamped at 0 and rounded to integers.
    Corpus data cards published outside the trust boundary release
    THIS table, not the true counts.

    Honesty note: the Laplace draw here is DETERMINISTIC — inverse-CDF
    transform of a uniform derived from md5(salt || lang) — because the
    oracle must recompute it exactly (cross-engine ln() parity was
    probe-verified before this landed). A real release draws fresh
    randomness per publication; the mechanism's arithmetic, clamping,
    and budget accounting are what this plan pins. The true count
    rides along for the oracle/QA only; the released artifact is
    (lang, epsilon, released_count).

    Scale shape: one partial-agg groupBy keyed lang (vocabulary-sized
    output), then narrow per-row noise arithmetic."""
    docs = _docs(spark, sf_dir)
    agg = docs.groupBy("lang").agg(F.count("*").alias("n_docs"))
    u = (F.conv(F.substring(F.md5(F.concat(F.lit(DP_SALT), "lang")),
                            1, 13), 16, 10).cast("double")
         / F.lit(float(1 << 52)))
    noise = (-F.signum(u - 0.5) * F.log(1.0 - 2 * F.abs(u - 0.5))
             / F.lit(DP_EPSILON))
    released = F.greatest(
        F.lit(0).cast("long"),
        F.round(F.col("n_docs") + noise).cast("long"))
    return agg.select(
        "lang", "n_docs",
        F.lit(DP_EPSILON).alias("epsilon"),
        F.round(noise, 6).alias("noise"),
        released.alias("released_count"))


_DP_HIST_SQL = f"""
WITH agg AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM documents GROUP BY lang
), n AS (
  SELECT lang, n_docs,
         CAST(('0x' || substr(md5('{DP_SALT}' || lang), 1, 13))
              AS BIGINT) / {float(1 << 52)} AS u
  FROM agg
)
SELECT lang, n_docs,
       {DP_EPSILON} AS epsilon,
       round(-sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))
             / {DP_EPSILON}, 6) AS noise,
       GREATEST(0, CAST(round(n_docs
              - sign(u - 0.5) * ln(1 - 2 * abs(u - 0.5))
                / {DP_EPSILON}) AS BIGINT)) AS released_count
FROM n
"""


SFT_MAX_RESPONSE = 256        # response char budget before truncation
SFT_USER_PRE = "<|user|>\nSummarize document "
SFT_USER_POST = ".\n<|assistant|>\n"
SFT_END = "<|end|>"


def docs_sft_format(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SFT example assembly — the instruction-tuning counterpart of
    docs_seq_pack / docs_span_corruption: render each document into a
    chat-template example (user turn + assistant response) and emit
    the LOSS-MASK char span (loss is computed on the response only;
    the prompt tokens are masked out — the supervised-fine-tuning
    convention every SFT trainer consumes). Responses over
    SFT_MAX_RESPONSE chars are truncated at the last whitespace
    BOUNDARY inside the budget (never mid-word; a doc with no space
    inside the budget truncates hard at the budget), so the span
    arithmetic is real logic, not a concat. The rendered example is
    pinned by md5 (bytes checked without hauling them); offsets are
    0-based [loss_start, loss_end).

    Scale shape: zero shuffle — template literals, one substring
    scan for the boundary, and per-row md5."""
    docs = _docs(spark, sf_dir)
    return sft_format_frame(docs, "doc_id", carry=("lang",)) \
        .drop("rendered", "response")


def sft_format_frame(df: DataFrame, id_col: str, text_col: str = "text",
                     carry: tuple = ()) -> DataFrame:
    """The SFT render as a frame kernel keyed on ``id_col`` — shared
    by the oracle-checked query (doc_id over documents) and the
    pipeline stage (url over the curated snapshot, job.py
    run_sft_job), so batch exports and the correctness gate render
    identically by construction. Emits the rendered example and the
    response text alongside the span/length metadata; callers that
    only need the metadata drop the heavy columns."""
    prompt = F.concat(F.lit(SFT_USER_PRE),
                      F.col(id_col).cast("string"),
                      F.lit(SFT_USER_POST))
    over = F.length(text_col) > SFT_MAX_RESPONSE
    head = F.substring(text_col, 1, SFT_MAX_RESPONSE)
    k = F.instr(F.reverse(head), " ")   # last space in the budget win
    cut = F.when(k > 0, F.length(head) - k).otherwise(F.length(head))
    response = F.when(over, F.substring(head, F.lit(1), cut)) \
        .otherwise(F.col(text_col))
    rendered = F.concat(prompt, response, F.lit(SFT_END))
    return df.select(
        id_col, *carry,
        F.length(prompt).cast("long").alias("prompt_chars"),
        F.length(response).cast("long").alias("response_chars"),
        over.alias("truncated"),
        F.length(prompt).cast("long").alias("loss_start"),
        (F.length(prompt) + F.length(response)).cast("long")
         .alias("loss_end"),
        F.round(F.length(response)
                / (F.length(prompt) + F.length(response)
                   + F.length(F.lit(SFT_END))), 6).alias("loss_frac"),
        F.md5(rendered).alias("rendered_md5"),
        response.alias("response"),
        rendered.alias("rendered"))


def _sft_format_sql() -> str:
    pre = SFT_USER_PRE.replace("\n", "' || chr(10) || '")
    post = SFT_USER_POST.replace("\n", "' || chr(10) || '")
    return f"""
WITH base AS (
  SELECT doc_id, lang, text,
         '{pre}' || CAST(doc_id AS VARCHAR) || '{post}' AS prompt,
         substring(text, 1, {SFT_MAX_RESPONSE}) AS head
  FROM documents
), cutc AS (
  SELECT doc_id, lang, text, prompt, head,
         CASE WHEN strpos(reverse(head), ' ') > 0
              THEN length(head) - strpos(reverse(head), ' ')
              ELSE length(head) END AS cut
  FROM base
), r AS (
  SELECT doc_id, lang, prompt,
         CASE WHEN length(text) > {SFT_MAX_RESPONSE}
              THEN substring(head, 1, cut) ELSE text END AS response,
         length(text) > {SFT_MAX_RESPONSE} AS truncated
  FROM cutc
)
SELECT doc_id, lang,
       CAST(length(prompt) AS BIGINT) AS prompt_chars,
       CAST(length(response) AS BIGINT) AS response_chars,
       truncated,
       CAST(length(prompt) AS BIGINT) AS loss_start,
       CAST(length(prompt) + length(response) AS BIGINT) AS loss_end,
       round(length(response)
             / CAST(length(prompt) + length(response)
                    + {len(SFT_END)} AS DOUBLE), 6) AS loss_frac,
       md5(prompt || response || '{SFT_END}') AS rendered_md5
FROM r
"""


def docs_quality_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deequ-style declarative data-quality constraint suite over the
    ``documents`` table (Schelter et al., "Automating Large-Scale Data
    Quality Verification", VLDB 2018 — the validation gate every
    production ingest runs before a snapshot is promoted): each
    constraint is a completeness / uniqueness / consistency / set- or
    range-membership predicate, reported as one row with the checked
    count, violation count, pass rate, and pass/fail status.

    The suite deliberately includes two constraints that FAIL on the
    driver's corpus (``lang_in_allowed`` excludes ``zh``;
    ``n_chars_in_range`` uses a [64, 512] band inside the corpus's
    [48, 553] actual range) so the violation-counting path is exercised
    with real non-zero counts, not vacuously green checks.

    Scale shape (100 TB): ALL constraints evaluate in ONE scan — each
    is a conditional partial aggregate (sum-of-violations), merged
    map-side, so the whole suite costs one pass + a 1-row final agg
    regardless of how many constraints are registered (exactly Deequ's
    shared-scan design). Uniqueness is the only distinct-requiring
    check and rides the same agg as a count_distinct. The 1-row result
    explodes driver-free into the per-constraint report."""
    docs = _docs(spark, sf_dir)
    viol = {
        "text_complete": F.col("text").isNull() | (F.length("text") == 0),
        "n_chars_consistent": F.col("n_chars") != F.length("text"),
        "lang_in_allowed": ~F.col("lang").isin("en", "de", "fr", "es"),
        "n_chars_in_range": ~F.col("n_chars").between(64, 512),
        "source_complete": F.col("source").isNull()
        | (F.length("source") == 0),
    }
    aggs = [F.count(F.lit(1)).alias("checked"),
            F.count_distinct(F.col("doc_id")).alias("n_distinct")]
    aggs += [F.sum(v.cast("long")).alias(k) for k, v in viol.items()]
    one = docs.agg(*aggs)
    rows = [F.struct(F.lit(k).alias("constraint"),
                     F.col(k).alias("violations"))
            for k in viol]
    rows.append(F.struct(
        F.lit("doc_id_unique").alias("constraint"),
        (F.col("checked") - F.col("n_distinct")).alias("violations")))
    return (
        one.select("checked", F.explode(F.array(*rows)).alias("c"))
        .select(
            F.col("c.constraint").alias("constraint"),
            F.col("checked").cast("long").alias("checked"),
            F.col("c.violations").cast("long").alias("violations"),
            F.round(1 - F.col("c.violations")
                    / F.greatest(F.col("checked"), F.lit(1)),
                    6).alias("pass_rate"),
            F.when(F.col("c.violations") == 0, F.lit("pass"))
            .otherwise(F.lit("fail")).alias("status"))
        .orderBy("constraint"))


QUALITY_CONSTRAINTS_SQL = """
WITH agg AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS checked,
         CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_distinct,
         CAST(SUM(CASE WHEN text IS NULL OR length(text) = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS text_complete,
         CAST(SUM(CASE WHEN n_chars <> length(text)
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_consistent,
         CAST(SUM(CASE WHEN lang NOT IN ('en', 'de', 'fr', 'es')
                       THEN 1 ELSE 0 END) AS BIGINT) AS lang_in_allowed,
         CAST(SUM(CASE WHEN n_chars NOT BETWEEN 64 AND 512
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_chars_in_range,
         CAST(SUM(CASE WHEN source IS NULL OR length(source) = 0
                       THEN 1 ELSE 0 END) AS BIGINT) AS source_complete
  FROM documents
), rows_ AS (
  SELECT checked, 'text_complete' AS "constraint",
         text_complete AS violations FROM agg
  UNION ALL SELECT checked, 'n_chars_consistent', n_chars_consistent
  FROM agg
  UNION ALL SELECT checked, 'lang_in_allowed', lang_in_allowed FROM agg
  UNION ALL SELECT checked, 'n_chars_in_range', n_chars_in_range FROM agg
  UNION ALL SELECT checked, 'source_complete', source_complete FROM agg
  UNION ALL SELECT checked, 'doc_id_unique', checked - n_distinct FROM agg
)
SELECT "constraint", checked, violations,
       round(1 - violations / CAST(GREATEST(checked, 1) AS DOUBLE), 6)
         AS pass_rate,
       CASE WHEN violations = 0 THEN 'pass' ELSE 'fail' END AS status
FROM rows_
ORDER BY "constraint"
"""


# Poisson(1) inverse-CDF thresholds (cumulative probabilities for
# k = 0..6; u past the last → w = 7). Shared verbatim by the Spark
# expression and the oracle so the weight mapping is bit-identical.
_POISSON1_CDF = (
    0.36787944117144233, 0.7357588823428847, 0.9196986029286058,
    0.9810118431238462, 0.9963401531726563, 0.9994058151824183,
    0.9999167588507119,
)
BOOT_B = 200          # bootstrap replicas
BOOT_LO_RANK = 5      # ceil(0.025 * B)
BOOT_HI_RANK = 195    # ceil(0.975 * B)


def docs_metric_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap 95% confidence interval for a corpus metric
    (the mean heuristic quality score) — the at-scale bootstrap
    (Chamandy et al., Google 2012 "Estimating Uncertainty for Massive
    Data Streams"; Efron 1979 underneath): instead of resampling rows
    (impossible distributed), every (doc, replica) pair draws an
    independent Poisson(1) weight from a deterministic hash, giving
    each replica a valid multinomial-approximate resample in ONE
    narrow pass. Corpus metrics reported without uncertainty are how
    pipeline changes get shipped on noise — this operator is the
    missing error bar.

    Cross-engine float discipline: the metric is integer
    ten-thousandths, weights are integers from a SHARED inverse-CDF
    threshold table (the hash-uniform is one exact division, compared
    against identical literals), so every per-replica sum is exact;
    each replica's estimate involves exactly one float division, and
    the CI bounds are ORDER-STATISTIC picks (rank 5 / 195 of 200 with
    deterministic tie-breaks), never averaged.

    Scale shape: one narrow explode (BOOT_B rows per doc — the
    replica dimension is the map-side fan-out, not a join), one
    partial-agg groupBy keyed replica (200 groups at any corpus
    size), then order statistics over the 200-row frame."""
    from ocr_spark.plans.queries import docs_quality_score

    m = docs_quality_score(spark, sf_dir).select(
        "doc_id",
        F.round(F.col("quality_score") * 10000).cast("long").alias("m"))
    u = (F.conv(F.substring(
        F.md5(F.concat_ws(":", F.col("doc_id"), F.col("b"))), 1, 13),
        16, 10).cast("long") / F.lit(4503599627370496.0))
    w = F.lit(len(_POISSON1_CDF))
    for k in range(len(_POISSON1_CDF) - 1, -1, -1):
        w = F.when(u < F.lit(_POISSON1_CDF[k]), F.lit(k)).otherwise(w)
    rep = (m.select("doc_id", "m",
                    F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1)))
                    .alias("b"))
           .select("b", "m", w.cast("long").alias("w")))
    ests = (rep.groupBy("b")
            .agg((F.sum(F.col("w") * F.col("m"))
                  / F.sum("w")).alias("est")))
    # BOOT_B-row replicate frame: plan-constant cardinality
    wo = Window.orderBy("est", "b")
    ranked = ests.withColumn("rk", F.row_number().over(wo))
    point = m.agg(
        F.count(F.lit(1)).alias("n_docs"),
        (F.sum("m") / F.count(F.lit(1))).alias("pt"))
    lo = ranked.filter(F.col("rk") == BOOT_LO_RANK) \
        .select(F.col("est").alias("lo"))
    hi = ranked.filter(F.col("rk") == BOOT_HI_RANK) \
        .select(F.col("est").alias("hi"))
    return (point.crossJoin(F.broadcast(lo)).crossJoin(F.broadcast(hi))
            .select(
                F.lit("mean_quality_score").alias("metric"),
                F.col("n_docs").cast("long").alias("n_docs"),
                F.lit(BOOT_B).cast("int").alias("n_replicas"),
                F.round(F.col("pt") / 10000.0, 6).alias("estimate"),
                F.round(F.col("lo") / 10000.0, 6).alias("ci_lo"),
                F.round(F.col("hi") / 10000.0, 6).alias("ci_hi")))


def _bootstrap_ci_sql() -> str:
    from ocr_spark.plans.queries import DOCS_QUALITY_SQL
    w_case = "CASE " + " ".join(
        f"WHEN u < {t!r} THEN {k}"
        for k, t in enumerate(_POISSON1_CDF)
    ) + f" ELSE {len(_POISSON1_CDF)} END"
    return f"""
WITH q AS (
  SELECT doc_id, CAST(round(quality_score * 10000) AS BIGINT) AS m
  FROM ({DOCS_QUALITY_SQL})
), rep AS (
  SELECT b.b, q.m,
         CAST(('0x' || substr(md5(CAST(q.doc_id AS VARCHAR) || ':'
                                  || CAST(b.b AS VARCHAR)), 1, 13))
              AS BIGINT) / 4503599627370496.0 AS u
  FROM q, LATERAL (SELECT unnest(range(0, {BOOT_B})) AS b) b
), wtab AS (
  SELECT b, m, CAST({w_case} AS BIGINT) AS w FROM rep
), ests AS (
  SELECT b, SUM(w * m) / CAST(SUM(w) AS DOUBLE) AS est
  FROM wtab GROUP BY b
), ranked AS (
  SELECT est, row_number() OVER (ORDER BY est, b) AS rk FROM ests
), pt AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         SUM(m) / CAST(COUNT(*) AS DOUBLE) AS p
  FROM q
)
SELECT 'mean_quality_score' AS metric, pt.n_docs,
       CAST({BOOT_B} AS INT) AS n_replicas,
       round(pt.p / 10000.0, 6) AS estimate,
       round(lo.est / 10000.0, 6) AS ci_lo,
       round(hi.est / 10000.0, 6) AS ci_hi
FROM pt,
     (SELECT est FROM ranked WHERE rk = {BOOT_LO_RANK}) lo,
     (SELECT est FROM ranked WHERE rk = {BOOT_HI_RANK}) hi
"""


def docs_gate_mcnemar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Paired comparison of two quality gates — the absolute Gopher
    gate vs the relative per-language percentile gate — with the
    statistics a pipeline A/B actually needs before swapping filters:
    the 2×2 keep/drop contingency cells, raw agreement, Cohen's kappa
    (chance-corrected agreement from the marginals), and McNemar's
    continuity-corrected chi-square over the DISCORDANT cells
    ((|b−c|−1)²/(b+c), the correct paired test — overall accuracy
    comparisons on paired decisions are statistically wrong) with the
    0.05-level verdict. Every statistic is a fixed float expression
    over exact integer cell counts.

    Scale shape: two narrow gate subplans, one doc_id equi-join, one
    conditional-aggregate row."""
    from ocr_spark.plans.dataops import docs_gopher_filters

    a = docs_gopher_filters(spark, sf_dir).select(
        "doc_id", F.col("keep").alias("keep_a"))
    b = docs_quality_percentile_gate(spark, sf_dir).select(
        "doc_id", F.col("keep_quality_rel").alias("keep_b"))
    cells = a.join(b, "doc_id").agg(
        F.sum((F.col("keep_a") & F.col("keep_b")).cast("long"))
        .alias("n11"),
        F.sum((F.col("keep_a") & ~F.col("keep_b")).cast("long"))
        .alias("n10"),
        F.sum((~F.col("keep_a") & F.col("keep_b")).cast("long"))
        .alias("n01"),
        F.sum((~F.col("keep_a") & ~F.col("keep_b")).cast("long"))
        .alias("n00"))
    n = (F.col("n11") + F.col("n10") + F.col("n01")
         + F.col("n00")).cast("double")
    po = (F.col("n11") + F.col("n00")) / n
    pe = (((F.col("n11") + F.col("n10")) * (F.col("n11") + F.col("n01")))
          + ((F.col("n00") + F.col("n01"))
             * (F.col("n00") + F.col("n10")))) / (n * n)
    disc = (F.col("n10") + F.col("n01")).cast("double")
    chi2 = F.when(
        disc > 0,
        (F.abs(F.col("n10") - F.col("n01")) - 1) ** 2 / disc
    ).otherwise(F.lit(0.0))
    return cells.select(
        "n11", "n10", "n01", "n00",
        F.round(po, 6).alias("agreement"),
        F.round((po - pe) / (1 - pe), 6).alias("kappa"),
        F.round(chi2, 6).alias("mcnemar_chi2"),
        (chi2 > 3.841).alias("gates_differ"))


def _gate_mcnemar_sql() -> str:
    from ocr_spark.plans.dataops import _GOPHER_SQL

    return f"""
WITH ga AS (
  SELECT doc_id, keep AS keep_a FROM ({_GOPHER_SQL})
), gb AS (
  SELECT doc_id, keep_quality_rel AS keep_b
  FROM ({_quality_percentile_sql()})
), cells AS (
  SELECT CAST(SUM(CASE WHEN keep_a AND keep_b THEN 1 ELSE 0 END)
              AS BIGINT) AS n11,
         CAST(SUM(CASE WHEN keep_a AND NOT keep_b THEN 1 ELSE 0 END)
              AS BIGINT) AS n10,
         CAST(SUM(CASE WHEN NOT keep_a AND keep_b THEN 1 ELSE 0 END)
              AS BIGINT) AS n01,
         CAST(SUM(CASE WHEN NOT keep_a AND NOT keep_b THEN 1 ELSE 0 END)
              AS BIGINT) AS n00
  FROM ga JOIN gb USING (doc_id)
)
SELECT n11, n10, n01, n00,
       round((n11 + n00) / CAST(n11 + n10 + n01 + n00 AS DOUBLE), 6)
         AS agreement,
       round(((n11 + n00) / CAST(n11 + n10 + n01 + n00 AS DOUBLE)
              - (((n11 + n10) * (n11 + n01))
                 + ((n00 + n01) * (n00 + n10)))
                / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
                   * CAST(n11 + n10 + n01 + n00 AS DOUBLE)))
             / (1 - (((n11 + n10) * (n11 + n01))
                     + ((n00 + n01) * (n00 + n10)))
                  / (CAST(n11 + n10 + n01 + n00 AS DOUBLE)
                     * CAST(n11 + n10 + n01 + n00 AS DOUBLE))), 6)
         AS kappa,
       round(CASE WHEN n10 + n01 > 0
             THEN pow(abs(n10 - n01) - 1, 2)
                  / CAST(n10 + n01 AS DOUBLE) ELSE 0.0 END, 6)
         AS mcnemar_chi2,
       CASE WHEN n10 + n01 > 0
            THEN pow(abs(n10 - n01) - 1, 2)
                 / CAST(n10 + n01 AS DOUBLE) ELSE 0.0 END > 3.841
         AS gates_differ
FROM cells
"""


COMPACT_TARGET_BYTES = 20_000


def shards_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction planning — the Iceberg/Delta OPTIMIZE
    planner: input files (here one per ``source``, sized by summed
    n_chars) are packed into output groups near COMPACT_TARGET_BYTES
    using the distributed next-fit rule ``group = cumsum_exclusive DIV
    target`` over a size-desc ordering (the shuffle-free approximation
    of first-fit-decreasing: every group lands in (target/2, target +
    max_file) and the plan is a pure function of the file list — no
    sequential bin state).

    Scale shape: packing runs over file METADATA (one row per file —
    ~10^5 rows for a 100 TB table), so the single ordered window is
    bounded by file count, never data volume; the only data-volume
    work is the per-file size rollup (one partial-agg groupBy keyed
    source)."""
    docs = _docs(spark, sf_dir)
    files = (docs.groupBy("source")
             .agg(F.sum("n_chars").alias("file_bytes")))
    wo = Window.orderBy(F.desc("file_bytes"), F.asc("source"))
    cum_excl = token_prefix(
        "file_bytes", wo.rowsBetween(Window.unboundedPreceding, -1))
    planned = files.select(
        "source", F.col("file_bytes").cast("long").alias("file_bytes"),
        (cum_excl / F.lit(COMPACT_TARGET_BYTES)).cast("long")
        .alias("out_group"))
    wg = Window.partitionBy("out_group")
    return (planned.select(
        "source", "file_bytes",
        F.col("out_group").cast("int").alias("out_group"),
        F.sum("file_bytes").over(wg).cast("long").alias("group_bytes"),
        F.count(F.lit(1)).over(wg).cast("long").alias("n_files_in_group"))
        .orderBy("out_group", F.desc("file_bytes"), "source"))


SHARDS_COMPACTION_SQL = f"""
WITH files AS (
  SELECT source, CAST(SUM(n_chars) AS BIGINT) AS file_bytes
  FROM documents GROUP BY source
), planned AS (
  SELECT source, file_bytes,
         CAST(COALESCE(SUM(file_bytes) OVER (
              ORDER BY file_bytes DESC, source
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              // {COMPACT_TARGET_BYTES} AS INT) AS out_group
  FROM files
)
SELECT source, file_bytes, out_group,
       CAST(SUM(file_bytes) OVER (PARTITION BY out_group) AS BIGINT)
         AS group_bytes,
       CAST(COUNT(*) OVER (PARTITION BY out_group) AS BIGINT)
         AS n_files_in_group
FROM planned
ORDER BY out_group, file_bytes DESC, source
"""


ZORDER_BITS = 8          # bits per dimension in the Morton interleave
ZORDER_FILE_CAP = 25     # docs per planned file
ZORDER_LEN_BUCKET = 32   # chars per length-bucket unit

# (label, k1_lo, k1_hi, k2_lo, k2_hi): the predicate workload the
# layout decision is evaluated against — host-only, length-only, and
# combined shapes, because the whole point of Z-order is that ONE
# layout serves predicates on EITHER dimension
ZORDER_PREDICATES = (
    ("host_eq_3", 3, 3, 0, 255),
    ("len_256_383", 0, 12, 8, 11),
    ("host_3_7_and_len", 3, 7, 8, 11),
    ("host_5_9", 5, 9, 0, 255),
)


def _morton_expr(div: str) -> str:
    """Bit-interleave z(k1, k2) emitted as portable integer
    arithmetic — ((k DIV 2^i) % 2)·2^(2i+1|2i) summed over bits — so
    Spark (DIV) and DuckDB (//) compute the identical Morton code
    without relying on either engine's shift-operator dialect."""
    terms = []
    for i in range(ZORDER_BITS):
        terms.append(f"((k1 {div} {1 << i}) % 2) * {1 << (2 * i + 1)}")
        terms.append(f"((k2 {div} {1 << i}) % 2) * {1 << (2 * i)}")
    return " + ".join(terms)


def shards_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order vs linear file-layout planner — the OPTIMIZE ZORDER
    decision (Delta/Iceberg) made observable: docs carry two skipping
    dimensions (host index and length bucket); the LINEAR layout
    sorts files by (host, length) and serves host predicates
    perfectly but length predicates not at all, while the Z-ORDER
    layout sorts by the Morton interleave z(host, length) and serves
    BOTH within ~2× of optimal. For each layout the query packs docs
    into ZORDER_FILE_CAP-sized files, builds per-file zone maps
    (min/max of each key), and evaluates the literal predicate
    workload: a file is scanned iff its zone intersects the
    predicate box — the exact manifest-level pruning rule
    shards_zone_map's consumer applies. Output: files scanned per
    predicate under each layout, on identical file counts.

    Scale shape: the ranking windows here are single-partition ONLY
    because the query plans a layout over the bounded test corpus —
    the production write path is repartitionByRange(z) (cluster-wide
    range partition on the Morton key, Delta's own OPTIMIZE shape)
    followed by per-file local stats; the zone-map evaluation is a
    broadcast of the literal predicate list against a
    file-cardinality frame either way. All-integer arithmetic."""
    docs = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") % 13).alias("k1"),
        F.least(F.lit(255),
                (F.col("n_chars") / ZORDER_LEN_BUCKET).cast("long"))
        .alias("k2"))
    z = F.expr(_morton_expr("DIV"))
    keyed = docs.withColumn("z", z)
    # layout PLANNER windows: global total orders are inherent to
    # Z-order file assignment; the production writer realizes the
    # same order via repartitionByRange(z) without a single-partition
    # window (same note as ev_gini_revenue)
    w_z = Window.orderBy("z", "doc_id")
    w_lin = Window.orderBy("k1", "k2", "doc_id")
    filed = keyed.select(
        "k1", "k2",
        ((F.row_number().over(w_z) - 1) / ZORDER_FILE_CAP).cast("int")
        .alias("file_z"),
        ((F.row_number().over(w_lin) - 1) / ZORDER_FILE_CAP).cast("int")
        .alias("file_lin"))
    zones_z = (filed.groupBy("file_z")
               .agg(F.min("k1").alias("k1_min"), F.max("k1").alias("k1_max"),
                    F.min("k2").alias("k2_min"), F.max("k2").alias("k2_max")))
    zones_lin = (filed.groupBy("file_lin")
                 .agg(F.min("k1").alias("k1_min"), F.max("k1").alias("k1_max"),
                      F.min("k2").alias("k2_min"), F.max("k2").alias("k2_max")))
    preds = F.explode(F.array(*[
        F.struct(F.lit(lbl).alias("predicate"),
                 F.lit(a).cast("long").alias("k1_lo"),
                 F.lit(b).cast("long").alias("k1_hi"),
                 F.lit(c).cast("long").alias("k2_lo"),
                 F.lit(d).cast("long").alias("k2_hi"))
        for lbl, a, b, c, d in ZORDER_PREDICATES])).alias("p")
    pframe = spark.range(1).select(preds).select("p.*")
    hit = ((F.col("k1_max") >= F.col("k1_lo"))
           & (F.col("k1_min") <= F.col("k1_hi"))
           & (F.col("k2_max") >= F.col("k2_lo"))
           & (F.col("k2_min") <= F.col("k2_hi")))
    sz = (zones_z.crossJoin(F.broadcast(pframe))
          .groupBy("predicate")
          .agg(F.count(F.lit(1)).alias("n_files"),
               F.sum(hit.cast("long")).alias("files_zorder")))
    sl = (zones_lin.crossJoin(F.broadcast(pframe))
          .groupBy("predicate")
          .agg(F.sum(hit.cast("long")).alias("files_linear")))
    return (sz.join(sl, "predicate")
            .select("predicate", "n_files", "files_linear",
                    "files_zorder")
            .orderBy("predicate"))


def _zorder_sql() -> str:
    preds = ",\n    ".join(
        f"('{lbl}', {a}, {b}, {c}, {d})"
        for lbl, a, b, c, d in ZORDER_PREDICATES)
    return f"""
WITH keyed AS (
  SELECT doc_id, doc_id % 13 AS k1,
         least(255, n_chars // {ZORDER_LEN_BUCKET}) AS k2
  FROM documents
), zkeyed AS (
  SELECT *, {_morton_expr('//')} AS z FROM keyed
), filed AS (
  SELECT k1, k2,
         CAST((row_number() OVER (ORDER BY z, doc_id) - 1)
              // {ZORDER_FILE_CAP} AS INT) AS file_z,
         CAST((row_number() OVER (ORDER BY k1, k2, doc_id) - 1)
              // {ZORDER_FILE_CAP} AS INT) AS file_lin
  FROM zkeyed
), zones_z AS (
  SELECT file_z, MIN(k1) AS k1_min, MAX(k1) AS k1_max,
         MIN(k2) AS k2_min, MAX(k2) AS k2_max
  FROM filed GROUP BY file_z
), zones_lin AS (
  SELECT file_lin, MIN(k1) AS k1_min, MAX(k1) AS k1_max,
         MIN(k2) AS k2_min, MAX(k2) AS k2_max
  FROM filed GROUP BY file_lin
), preds(predicate, k1_lo, k1_hi, k2_lo, k2_hi) AS (VALUES
    {preds}
), sz AS (
  SELECT predicate, CAST(COUNT(*) AS BIGINT) AS n_files,
         CAST(SUM(CASE WHEN k1_max >= k1_lo AND k1_min <= k1_hi
                        AND k2_max >= k2_lo AND k2_min <= k2_hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_zorder
  FROM zones_z CROSS JOIN preds GROUP BY predicate
), sl AS (
  SELECT predicate,
         CAST(SUM(CASE WHEN k1_max >= k1_lo AND k1_min <= k1_hi
                        AND k2_max >= k2_lo AND k2_min <= k2_hi
                       THEN 1 ELSE 0 END) AS BIGINT) AS files_linear
  FROM zones_lin CROSS JOIN preds GROUP BY predicate
)
SELECT predicate, n_files, files_linear, files_zorder
FROM sz JOIN sl USING (predicate)
ORDER BY predicate
"""


SB_M = 256    # bloom bits per shard — sized so the sf0.01 shards sit
SB_K = 2      # near fill 0.25 and produce OBSERVABLE false-positive
              # shard scans (the quantity the index trades against
              # its size), not hide them


def _sb_pos(j: int, c: Column) -> Column:
    """j-th Kirsch-Mitzenmacher bit position for fingerprint column
    ``c`` (same scheme as webops._bloom_pos, sized for SB_M)."""
    h = F.md5(F.concat(F.lit(f"{j}:"), c))
    return (F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % SB_M)


def _sb_pos_sql(j: int, fp: str) -> str:
    return (f"('0x' || substring(md5('{j}:' || {fp}), 1, 8))::BIGINT"
            f" % {SB_M}")


def shards_bloom_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-shard Bloom index for point-lookup pruning — the
    high-cardinality complement of shards_zone_map / zone-map
    skipping: min/max ranges prune RANGE predicates but are useless
    for "which shard holds fingerprint X" (content fingerprints are
    uniform, every zone spans the space), so each shard carries an
    SB_M-bit Bloom filter of its member fingerprints and a point
    lookup scans only the shards whose filter says maybe — the
    Iceberg/Delta bloom-column-index design made oracle-checkable
    with the same hand-rolled md5 bit scheme as docs_bloom_probe.
    The probe workload is split into fingerprints that DO exist
    (lookup hits) and derived fingerprints that DON'T, so the
    false-positive shard-scan overhead — what the index costs when
    it's wrong — is a measured output column, not a hope.

    Scale shape (10^12 docs): each shard's filter is a DISTINCT-bit
    frame bounded by SB_M rows per shard regardless of shard size;
    probes explode to SB_K bit rows and join the bit frame keyed on
    bit — probe-cardinality × shard-cardinality bounded, corpus
    volume touched only by the one packing pass the shard layout
    already paid for."""
    docs = _docs(spark, sf_dir)
    packed = docs_token_shards(spark, sf_dir)
    shard = F.concat_ws("/", "lang", F.col("shard_id").cast("string"))
    keys = (packed.join(docs.select("doc_id",
                                    F.md5("text").alias("fp")),
                        "doc_id")
            .select(shard.alias("shard"), "fp"))
    shard_bits = (keys.select("shard", F.explode(F.array(
        *[_sb_pos(j, F.col("fp")) for j in range(SB_K)])).alias("bit"))
        .distinct())
    n_shards = keys.select("shard").distinct() \
        .agg(F.count(F.lit(1)).alias("n_shards"))   # 1 row → broadcast
    base = docs.filter(F.col("doc_id") % 50 == 7)
    probes = base.select(
        F.col("doc_id").alias("probe_id"),
        F.explode(F.array(
            F.struct(F.lit("present").alias("kind"),
                     F.md5("text").alias("fp")),
            F.struct(F.lit("absent").alias("kind"),
                     F.md5(F.concat(F.col("text"), F.lit("#missing")))
                     .alias("fp")))).alias("p")) \
        .select("probe_id", "p.kind", "p.fp")
    probe_bits = probes.select(
        "probe_id", "kind", "fp",
        F.explode(F.array(*[_sb_pos(j, F.col("fp"))
                            for j in range(SB_K)])).alias("bit"))
    need = (probe_bits.groupBy("probe_id", "kind", "fp")
            .agg(F.countDistinct("bit").alias("n_need")))
    matched = (probe_bits.join(shard_bits, "bit")
               .groupBy("probe_id", "kind", "shard")
               .agg(F.countDistinct("bit").alias("n_hit")))
    maybe = (matched.join(need.select("probe_id", "kind", "n_need"),
                          ["probe_id", "kind"])
             .filter(F.col("n_hit") == F.col("n_need"))
             .groupBy("probe_id", "kind")
             .agg(F.count(F.lit(1)).alias("shards_maybe")))
    actual = (probes.join(keys, "fp")
              .groupBy("probe_id", "kind")
              .agg(F.countDistinct("shard").alias("shards_actual")))
    per_probe = (probes.select("probe_id", "kind")
                 .join(maybe, ["probe_id", "kind"], "left")
                 .join(actual, ["probe_id", "kind"], "left")
                 .select("probe_id", "kind",
                         F.coalesce("shards_maybe", F.lit(0))
                         .alias("m"),
                         F.coalesce("shards_actual", F.lit(0))
                         .alias("a")))
    return (per_probe.groupBy("kind")
            .agg(F.count(F.lit(1)).alias("n_probes"),
                 F.sum("m").cast("long").alias("shards_scanned"),
                 F.sum("a").cast("long").alias("shards_containing"),
                 F.sum(F.col("m") - F.col("a")).cast("long")
                 .alias("false_positive_scans"))
            .crossJoin(F.broadcast(n_shards))
            .select("kind", "n_probes", "n_shards", "shards_scanned",
                    "shards_containing", "false_positive_scans",
                    F.round(F.col("shards_scanned") / F.col("n_probes"),
                            4).alias("avg_shards_per_lookup"))
            .orderBy("kind"))


def _shards_bloom_index_sql() -> str:
    shard_pos = ", ".join(_sb_pos_sql(j, "fp") for j in range(SB_K))
    return f"""
WITH base AS (
  SELECT doc_id, lang, text,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
              AS BIGINT) AS n_tokens
  FROM documents
), packed AS (
  SELECT doc_id, lang, text,
         lang || '/' || CAST(CAST(FLOOR(COALESCE(SUM(n_tokens) OVER (
                  PARTITION BY lang ORDER BY doc_id
                  ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               / {SHARD_TOKEN_BUDGET}) AS INT) AS VARCHAR) AS shard
  FROM base
), keys AS (
  SELECT shard, md5(text) AS fp FROM packed
), shard_bits AS (
  SELECT DISTINCT shard, u.bit
  FROM keys, LATERAL unnest([{shard_pos}]) AS u(bit)
), ns AS (
  SELECT CAST(COUNT(DISTINCT shard) AS BIGINT) AS n_shards FROM keys
), probes AS (
  SELECT doc_id AS probe_id, p.kind, p.fp
  FROM documents,
       LATERAL unnest([
         {{'kind': 'present', 'fp': md5(text)}},
         {{'kind': 'absent', 'fp': md5(text || '#missing')}}
       ]) AS t(p)
  WHERE doc_id % 50 = 7
), probe_bits AS (
  SELECT probe_id, kind, fp, u.bit
  FROM probes, LATERAL unnest([{shard_pos}]) AS u(bit)
), need AS (
  SELECT probe_id, kind, CAST(COUNT(DISTINCT bit) AS BIGINT) AS n_need
  FROM probe_bits GROUP BY probe_id, kind
), matched AS (
  SELECT probe_id, kind, shard,
         CAST(COUNT(DISTINCT pb.bit) AS BIGINT) AS n_hit
  FROM probe_bits pb JOIN shard_bits sb ON pb.bit = sb.bit
  GROUP BY probe_id, kind, shard
), maybe AS (
  SELECT m.probe_id, m.kind, CAST(COUNT(*) AS BIGINT) AS shards_maybe
  FROM matched m JOIN need n
    ON n.probe_id = m.probe_id AND n.kind = m.kind
  WHERE m.n_hit = n.n_need
  GROUP BY m.probe_id, m.kind
), actual AS (
  SELECT p.probe_id, p.kind,
         CAST(COUNT(DISTINCT k.shard) AS BIGINT) AS shards_actual
  FROM probes p JOIN keys k ON k.fp = p.fp
  GROUP BY p.probe_id, p.kind
), per_probe AS (
  SELECT p.probe_id, p.kind,
         COALESCE(mb.shards_maybe, 0) AS m,
         COALESCE(a.shards_actual, 0) AS a
  FROM probes p
  LEFT JOIN maybe mb
    ON mb.probe_id = p.probe_id AND mb.kind = p.kind
  LEFT JOIN actual a
    ON a.probe_id = p.probe_id AND a.kind = p.kind
)
SELECT kind, CAST(COUNT(*) AS BIGINT) AS n_probes, ns.n_shards,
       CAST(SUM(m) AS BIGINT) AS shards_scanned,
       CAST(SUM(a) AS BIGINT) AS shards_containing,
       CAST(SUM(m - a) AS BIGINT) AS false_positive_scans,
       round(SUM(m) / CAST(COUNT(*) AS DOUBLE), 4)
         AS avg_shards_per_lookup
FROM per_probe CROSS JOIN ns
GROUP BY kind, ns.n_shards
ORDER BY kind
"""


DS_RATES = (5, 10, 20, 35, 45)   # modeled per-annotator flip %, a0 best
DS_ITERS = 3                     # EM rounds (fixed for determinism)
_DSM = 1_000_000                 # probability micro-units


def _ds_vote_exprs() -> tuple[str, list[tuple[str, str]]]:
    """Shared emitter for the modeled annotation cohort: a latent
    binary quality class g (60/40 prior from doc_id arithmetic) and
    one vote column per annotator, each flipping g with that
    annotator's deterministic pseudo-noise pattern — the same
    modeled-cohort device docs_ct_langid uses, because the fixture
    corpus ships no human labels. Integer arithmetic only, so both
    engines synthesize bit-identical votes."""
    g = "CASE WHEN (doc_id * 7) % 10 < 6 THEN 1 ELSE 0 END"
    votes = []
    for j, rate in enumerate(DS_RATES):
        flip = (f"CASE WHEN (doc_id * 31 + {j * 57}) % 100 < {rate} "
                f"THEN 1 ELSE 0 END")
        votes.append((f"v{j}",
                      f"CASE WHEN ({flip}) = 1 THEN 1 - ({g}) "
                      f"ELSE ({g}) END"))
    return g, votes


def _ds_mstep_aggs() -> list[tuple[str, str]]:
    """M-step moment aggregates over the (q, v0..vk) frame — BIGINT
    sums of micro-unit posteriors, exact under any partition order."""
    aggs = [("n_docs", "CAST(COUNT(*) AS BIGINT)"),
            ("sq", "CAST(SUM(q) AS BIGINT)"),
            ("snq", f"CAST(SUM({_DSM} - q) AS BIGINT)")]
    for j in range(len(DS_RATES)):
        aggs.append((f"sa{j}", f"CAST(SUM(q * v{j}) AS BIGINT)"))
        aggs.append((f"sb{j}",
                     f"CAST(SUM(({_DSM} - q) * (1 - v{j})) AS BIGINT)"))
    return aggs


def _ds_param_exprs(div: str) -> list[tuple[str, str]]:
    """Confusion parameters from the moment sums: sensitivity
    alpha_j = P(vote=1 | z=1), specificity beta_j = P(vote=0 | z=0),
    class prior p1 — all micro-unit integer divisions."""
    params = [("p1", f"CASE WHEN n_docs > 0 THEN sq {div} n_docs "
                     f"ELSE 500000 END")]
    for j in range(len(DS_RATES)):
        params.append((f"alpha{j}",
                       f"CASE WHEN sq > 0 THEN (sa{j} * {_DSM}) "
                       f"{div} sq ELSE 500000 END"))
        params.append((f"beta{j}",
                       f"CASE WHEN snq > 0 THEN (sb{j} * {_DSM}) "
                       f"{div} snq ELSE 500000 END"))
    return params


def _ds_estep_exprs(div: str) -> list[tuple[str, str]]:
    """E-step likelihood chain: l1/l0 accumulate the per-annotator
    factors with a truncating micro-division after EVERY product (so
    values never leave [0, 10^6] and the op order is total), then the
    posterior renormalizes. Emitted as two staged columns + the
    final q so no subexpression is textually duplicated."""
    l1 = "p1"
    l0 = f"{_DSM} - p1"
    for j in range(len(DS_RATES)):
        l1 = (f"(({l1}) * (CASE WHEN v{j} = 1 THEN alpha{j} "
              f"ELSE {_DSM} - alpha{j} END)) {div} {_DSM}")
        l0 = (f"(({l0}) * (CASE WHEN v{j} = 1 THEN {_DSM} - beta{j} "
              f"ELSE beta{j} END)) {div} {_DSM}")
    q = (f"CASE WHEN l1 + l0 > 0 THEN (l1 * {_DSM}) {div} (l1 + l0) "
         f"ELSE 500000 END")
    return [("l1", l1), ("l0", l0), ("q", q)]


def docs_dawid_skene(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dawid–Skene annotator-quality EM (Dawid & Skene 1979, the
    standard crowd-label aggregator behind every labeled quality /
    preference dataset): five modeled annotators vote on a latent
    binary quality class with per-annotator noise; starting from the
    majority-vote posterior, DS_ITERS EM rounds alternately estimate
    each annotator's confusion (sensitivity/specificity) from the
    posterior-weighted votes and re-score each document by weighing
    votes with those confusions — so reliable annotators count more
    and the near-random one is discounted, which majority vote cannot
    do. Output per annotator: estimated sensitivity/specificity
    beside the modeled flip rate, plus the cohort-level posterior
    accuracy of Dawid–Skene vs plain majority vote against the
    modeled latent class — the number that justifies running EM at
    all.

    Determinism: posteriors and confusion parameters live in integer
    micro-units; every product is followed by a truncating
    micro-division and every ratio is an integer division, all
    emitted from shared expression strings (``_ds_*_exprs``) that
    Spark (DIV) and DuckDB (//) evaluate verbatim — bit-identical EM
    on both engines, no float until the final readout.

    Scale shape (10^12 docs): votes are a zero-shuffle narrow
    synthesis; each EM round is ONE map-side-combined moment
    aggregate (13 BIGINT sums) to a 1-row frame broadcast back into a
    narrow per-doc re-score — the classic iterate-on-broadcast shape,
    nothing keyed finer than the corpus scan itself."""
    docs = _docs(spark, sf_dir)
    g, votes_ex = _ds_vote_exprs()
    vsum = " + ".join(n for n, _ in votes_ex)
    frame = docs.select(
        "doc_id", F.expr(g).alias("g"),
        *[F.expr(e).alias(n) for n, e in votes_ex])
    frame = frame.withColumn("vsum", F.expr(vsum)) \
                 .withColumn("q", F.expr(f"({vsum}) * {_DSM // 5}"))
    vnames = [n for n, _ in votes_ex]
    param_names = [n for n, _ in _ds_param_exprs("DIV")]
    params = None
    for _ in range(DS_ITERS):
        m = frame.agg(*[F.expr(e).alias(n) for n, e in _ds_mstep_aggs()])
        for n, e in _ds_param_exprs("DIV"):
            m = m.withColumn(n, F.expr(e))
        params = m
        nxt = frame.drop("q").crossJoin(
            F.broadcast(m.select(*param_names)))
        for n, e in _ds_estep_exprs("DIV"):
            nxt = nxt.withColumn(n, F.expr(e))
        frame = nxt.select("doc_id", "g", *vnames, "vsum", "q")
    stats = frame.agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.expr("CASE WHEN (CASE WHEN q >= 500000 THEN 1 ELSE 0 "
                     "END) = g THEN 1 ELSE 0 END")).alias("n_ok_ds"),
        F.sum(F.expr("CASE WHEN (CASE WHEN vsum >= 3 THEN 1 ELSE 0 "
                     "END) = g THEN 1 ELSE 0 END")).alias("n_ok_mv"))
    one = params.select(*param_names).crossJoin(F.broadcast(stats))
    slices = []
    for j, rate in enumerate(DS_RATES):
        slices.append(one.select(
            F.lit(j).alias("annotator"),
            F.lit(rate / 100.0).alias("modeled_flip_rate"),
            F.round(F.col(f"alpha{j}") / _DSM, 6).alias("sensitivity"),
            F.round(F.col(f"beta{j}") / _DSM, 6).alias("specificity"),
            F.round(F.col("p1") / _DSM, 6).alias("prior_pos"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_ok_ds") / F.col("n_docs"), 6)
            .alias("acc_dawid_skene"),
            F.round(F.col("n_ok_mv") / F.col("n_docs"), 6)
            .alias("acc_majority_vote")))
    out = slices[0]
    for s in slices[1:]:
        out = out.unionByName(s)
    return out.orderBy("annotator")


def _dawid_skene_sql() -> str:
    g, votes_ex = _ds_vote_exprs()
    vsum = " + ".join(n for n, _ in votes_ex)
    vote_cols = ", ".join(f"{e} AS {n}" for n, e in votes_ex)
    chain = [f"""vt0 AS (
  SELECT doc_id, {g} AS g, {vote_cols},
         ({vsum}) AS vsum, ({vsum}) * {_DSM // 5} AS q
  FROM (SELECT doc_id FROM documents)
)"""]
    vcols = ", ".join(n for n, _ in votes_ex)
    prev = "vt0"
    last_pm = None
    for it in range(1, DS_ITERS + 1):
        maggs = ", ".join(f"{e} AS {n}" for n, e in _ds_mstep_aggs())
        pexprs = ", ".join(
            f"{e} AS {n}" for n, e in _ds_param_exprs("//"))
        chain.append(f"m{it} AS (SELECT {maggs} FROM {prev})")
        chain.append(f"pm{it} AS (SELECT *, {pexprs} FROM m{it})")
        es = _ds_estep_exprs("//")
        chain.append(f"""vt{it} AS (
  SELECT doc_id, g, {vcols}, vsum, {es[2][1]} AS q
  FROM (SELECT v.doc_id, v.g, {', '.join('v.' + n for n, _ in votes_ex)},
               v.vsum, pm{it}.*,
               {es[0][1]} AS l1, {es[1][1]} AS l0
        FROM {prev} v CROSS JOIN pm{it})
)""")
        prev = f"vt{it}"
        last_pm = f"pm{it}"
    selects = " UNION ALL ".join(
        f"SELECT {j} AS annotator, {rate / 100.0} AS modeled_flip_rate, "
        f"round(alpha{j} / {_DSM}.0, 6) AS sensitivity, "
        f"round(beta{j} / {_DSM}.0, 6) AS specificity, "
        f"round(p1 / {_DSM}.0, 6) AS prior_pos, n_docs, "
        f"round(n_ok_ds / CAST(n_docs AS DOUBLE), 6) AS acc_dawid_skene, "
        f"round(n_ok_mv / CAST(n_docs AS DOUBLE), 6) "
        f"AS acc_majority_vote "
        f"FROM readout"
        for j, rate in enumerate(DS_RATES))
    return f"""
WITH {', '.join(chain)},
stats AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(CASE WHEN (CASE WHEN q >= 500000 THEN 1 ELSE 0 END)
                       = g THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_ds,
         CAST(SUM(CASE WHEN (CASE WHEN vsum >= 3 THEN 1 ELSE 0 END)
                       = g THEN 1 ELSE 0 END) AS BIGINT) AS n_ok_mv
  FROM {prev}
), readout AS (
  SELECT {last_pm}.* EXCLUDE (n_docs), stats.*
  FROM {last_pm} CROSS JOIN stats
)
{selects}
ORDER BY annotator
"""


UNC_SAMPLE_K = 10   # labeling-batch size per language


def docs_uncertainty_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based active-learning batch selection over the quality
    classifier (Lewis & Gale 1994 uncertainty sampling): the docs
    whose score sits closest to the 0.5 decision boundary are the
    ones whose human labels improve the classifier fastest, so each
    language stratum nominates its UNC_SAMPLE_K smallest-margin docs
    as the next annotation batch. This is the loop that turns
    docs_classifier_score from a static artifact into a maintained
    model — every production quality filter (DCLM, FineWeb-Edu)
    retrains on batches chosen roughly this way.

    Determinism: the margin ranks the ALREADY-ROUNDED score column
    (SCORE_ROUND decimals on both engines), ties broken by doc_id.

    Scale shape: the classifier subplan's broadcast-join + per-doc
    groupBy, then ONE lang-keyed top-k window over the scored frame —
    no new corpus-volume shuffle beyond the classifier's own."""
    scored = docs_classifier_score(spark, sf_dir)
    margin = F.abs(F.col("score") - 0.5)
    w = Window.partitionBy("lang").orderBy(
        F.asc("margin"), F.asc("doc_id"))
    return (scored.withColumn("margin", F.round(margin, SCORE_ROUND))
            .withColumn("rank_in_lang", F.row_number().over(w))
            .filter(F.col("rank_in_lang") <= UNC_SAMPLE_K)
            .select("lang", "rank_in_lang", "doc_id", "score",
                    "margin", "label")
            .orderBy("lang", "rank_in_lang"))


def _uncertainty_sample_sql() -> str:
    return f"""
WITH scored AS ({_classifier_sql()}),
ranked AS (
  SELECT lang, doc_id, score, label,
         round(abs(score - 0.5), {SCORE_ROUND}) AS margin,
         row_number() OVER (PARTITION BY lang
                            ORDER BY round(abs(score - 0.5),
                                           {SCORE_ROUND}) ASC,
                                     doc_id ASC) AS rank_in_lang
  FROM scored
)
SELECT lang, rank_in_lang, doc_id, score, margin, label
FROM ranked WHERE rank_in_lang <= {UNC_SAMPLE_K}
ORDER BY lang, rank_in_lang
"""


SPARK_QUERIES = {
    "docs_metric_bootstrap_ci": docs_metric_bootstrap_ci,
    "docs_gate_mcnemar": docs_gate_mcnemar,
    "shards_compaction_plan": shards_compaction_plan,
    "docs_quality_constraints": docs_quality_constraints,
    "docs_quality_rrf": docs_quality_rrf,
    "docs_quality_calibration": docs_quality_calibration,
    "docs_quality_psi": docs_quality_psi,
    "docs_sft_format": docs_sft_format,
    "docs_dp_lang_histogram": docs_dp_lang_histogram,
    "docs_preference_pairs": docs_preference_pairs,
    "docs_canary_probe": docs_canary_probe,
    "docs_metric_correlations": docs_metric_correlations,
    "docs_dsir_weights": docs_dsir_weights,
    "docs_training_order": docs_training_order,
    "docs_unigram_logprob": docs_unigram_logprob,
    "hosts_perplexity_buckets": hosts_perplexity_buckets,
    "docs_bigram_logprob": docs_bigram_logprob,
    "docs_bigram_kneser_ney": docs_bigram_kneser_ney,
    "docs_span_corruption": docs_span_corruption,
    "docs_sample_stratified": docs_sample_stratified,
    "docs_token_shards": docs_token_shards,
    "shards_skew_report": shards_skew_report,
    "docs_seq_pack": docs_seq_pack,
    "docs_classifier_score": docs_classifier_score,
    "docs_decontaminate": docs_decontaminate,
    "docs_decontaminate_spans": docs_decontaminate_spans,
    "docs_decontaminate_report": docs_decontaminate_report,
    "docs_domain_mixture": docs_domain_mixture,
    "docs_mixture_realize": docs_mixture_realize,
    "docs_curriculum_order": docs_curriculum_order,
    "shards_manifest": shards_manifest,
    "shards_zone_map": shards_zone_map,
    "shards_zorder_layout": shards_zorder_layout,
    "docs_uncertainty_sample": docs_uncertainty_sample,
    "docs_dawid_skene": docs_dawid_skene,
    "shards_bloom_index": shards_bloom_index,
    "docs_quality_percentile_gate": docs_quality_percentile_gate,
    "docs_length_histogram": docs_length_histogram,
    "docs_zipf_profile": docs_zipf_profile,
    "docs_training_set": docs_training_set,
    "docs_chunk_spans": docs_chunk_spans,
    "docs_readability": docs_readability,
    "docs_length_percentiles": docs_length_percentiles,
    "docs_sample_holdout": docs_sample_holdout,
    "docs_split_leakage_check": docs_split_leakage_check,
    "docs_cluster_safe_split": docs_cluster_safe_split,
    "hosts_concentration": hosts_concentration,
}

ORACLE_SQL = {
    "docs_quality_constraints": QUALITY_CONSTRAINTS_SQL,
    "docs_metric_bootstrap_ci": _bootstrap_ci_sql(),
    "docs_gate_mcnemar": _gate_mcnemar_sql(),
    "shards_compaction_plan": SHARDS_COMPACTION_SQL,
    "docs_quality_rrf": _quality_rrf_sql(),
    "docs_quality_calibration": _quality_calibration_sql(),
    "docs_quality_psi": _quality_psi_sql(),
    "docs_sft_format": _sft_format_sql(),
    "docs_dp_lang_histogram": _DP_HIST_SQL,
    "docs_preference_pairs": _preference_pairs_sql(),
    "docs_canary_probe": _canary_probe_sql(),
    "docs_metric_correlations": _metric_correlations_sql(),
    "docs_dsir_weights": DSIR_WEIGHTS_SQL,
    "docs_training_order": TRAINING_ORDER_SQL,
    "docs_unigram_logprob": UNIGRAM_LOGPROB_SQL,
    "hosts_perplexity_buckets": HOSTS_PERPLEXITY_SQL,
    "docs_bigram_logprob": BIGRAM_LOGPROB_SQL,
    "docs_bigram_kneser_ney": BIGRAM_KN_SQL,
    "docs_span_corruption": SPAN_CORRUPTION_SQL,
    "docs_sample_stratified": SAMPLE_STRATIFIED_SQL,
    "docs_token_shards": TOKEN_SHARDS_SQL,
    "shards_skew_report": SHARDS_SKEW_REPORT_SQL,
    "docs_seq_pack": SEQ_PACK_SQL,
    "docs_classifier_score": _classifier_sql(),
    "docs_decontaminate": DECONTAMINATE_SQL,
    "docs_decontaminate_spans": DECONTAMINATE_SPANS_SQL,
    "docs_decontaminate_report": DECONTAMINATE_REPORT_SQL,
    "docs_domain_mixture": DOMAIN_MIXTURE_SQL,
    "docs_mixture_realize": MIXTURE_REALIZE_SQL,
    "docs_curriculum_order": _curriculum_order_sql(),
    "shards_manifest": SHARDS_MANIFEST_SQL,
    "shards_zone_map": SHARDS_ZONE_MAP_SQL,
    "shards_zorder_layout": _zorder_sql(),
    "docs_uncertainty_sample": _uncertainty_sample_sql(),
    "docs_dawid_skene": _dawid_skene_sql(),
    "shards_bloom_index": _shards_bloom_index_sql(),
    "docs_quality_percentile_gate": _quality_percentile_sql(),
    "docs_length_histogram": LENGTH_HISTOGRAM_SQL,
    "docs_zipf_profile": ZIPF_PROFILE_SQL,
    "docs_training_set": _training_set_sql(),
    "docs_chunk_spans": CHUNK_SPANS_SQL,
    "docs_readability": READABILITY_SQL,
    "docs_length_percentiles": LENGTH_PERCENTILES_SQL,
    "docs_sample_holdout": SAMPLE_HOLDOUT_SQL,
    "docs_split_leakage_check": _split_leakage_sql(),
    "docs_cluster_safe_split": _cluster_safe_split_sql(),
    "hosts_concentration": HOSTS_CONCENTRATION_SQL,
}
