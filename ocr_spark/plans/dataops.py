"""Training-data pipeline operators over the ``documents`` table.

Deduplication (exact dedup lives in plans/queries.py):
  * MinHash signatures + banded LSH candidate pairs (the scale path for
    near-dup detection: signature computation is a narrow per-row map —
    no shuffle — and the only shuffle is the band-bucket self-join, whose
    key cardinality is controlled by the band hash and capped pre-join);
  * SimHash bit-vote fingerprints;
  * candidate-driven exact-Jaccard verification over the LSH pair list
    (the 100 TB verify path), with the blocked all-pairs variant kept as
    the small-SF cross-check.
Text analysis / filtering:
  * stopword-vote language identification;
  * Gopher/C4-style quality-filter decisions (word-count bounds, mean
    word length, alpha fraction, stopword presence).

Design rules (why this file looks the way it does):
  * Operators stay JVM-side pyspark.sql.functions expressions wherever
    those are compiled; but nested higher-order functions
    (transform/aggregate chains) are evaluated INTERPRETED
    (CodegenFallback), so the MinHash signature — the one genuinely
    hash-loop-heavy kernel — is an Arrow-batched pandas UDF instead
    (measured faster; see _minhash_vec_udf). Simple regexp/array ops
    remain JVM expressions.
  * Every hash is md5-based because md5 is the one hash Spark, DuckDB,
    and hashlib compute identically, which makes each operator
    oracle-checkable value-for-value (xxhash64/murmur differ between
    engines). MinHash derives its k=16 hash family from one md5 via
    Kirsch-Mitzenmacher ``h1 + i*h2 mod 2^31-1``.

Reference parity note: the reference (CMDF/ocr) has no corpus-level ops
at all (it is a one-document-at-a-time service, see SURVEY.md §2.3
"absent" lists); these operators are the additional large-scale
training-data capabilities the rebuild adds on top.
"""

from __future__ import annotations

import os

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.window import Window

MINHASH_K = 16      # hash functions per signature
LSH_BANDS = 4       # bands of 4 rows each → candidates at jaccard ≳ 0.3
SIMHASH_BITS = 32   # one bit per md5 hex digit (high bit of the digit)
SHINGLE_W = 3       # word-shingle width
JACCARD_BLOCK_CHARS = 200   # length-bucket width for exact-jaccard blocking
JACCARD_MIN = 0.1


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# shared tokenization / shingling (Spark side + the SQL fragments)
# --------------------------------------------------------------------------

def _tokens(col: str = "text") -> Column:
    return F.split(F.lower(F.trim(F.col(col))), r"\s+")


# DuckDB fragment for the same tokens
_SQL_TOKENS = "string_split_regex(lower(trim(text)), '\\s+')"


def _shingles(toks: Column) -> Column:
    """Word 3-grams: shingle[i] = toks[i] ' ' toks[i+1] ' ' toks[i+2].
    Guarded: sequence(0, n) DESCENDS for n<0, so short docs must map to
    an empty array explicitly."""
    return F.when(
        F.size(toks) >= SHINGLE_W,
        F.transform(
            F.sequence(F.lit(0), F.size(toks) - SHINGLE_W),
            lambda i: F.concat_ws(" ", F.slice(toks, i + 1, SHINGLE_W)),
        ),
    ).otherwise(F.array().cast("array<string>"))


_SQL_SHINGLES = (
    f"list_transform(range(1, len({_SQL_TOKENS}) - {SHINGLE_W - 2}), "
    f"i -> {_SQL_TOKENS}[i] || ' ' || {_SQL_TOKENS}[i+1] || ' ' || "
    f"{_SQL_TOKENS}[i+2])"
)


_KM_MOD = 2_147_483_647  # 2^31-1: keeps h1 + 15*h2 far from int64 overflow


def minhash_vec_py(text: str | None) -> list[int] | None:
    """Pure-Python MinHash signature (shared kernel: the pandas UDF below
    AND the SQL-registered ocr_minhash_sig in ocr_spark.functions both
    call THIS function, so DataFrame and SQL results are identical by
    construction, not by parallel copies)."""
    import hashlib
    import re as _re

    toks = _re.split(r"\s+", (text or "").lower().strip())
    shingles = [" ".join(toks[i:i + SHINGLE_W])
                for i in range(len(toks) - SHINGLE_W + 1)]
    # sole exclusion rule: zero shingles (empty/whitespace text gives
    # toks == [""] and hence no shingles at any SHINGLE_W >= 2) — the
    # DuckDB oracles mirror exactly this len(shingles) > 0 filter, so
    # no second clause may diverge from it
    if not shingles:
        return None
    mins = [_KM_MOD] * MINHASH_K
    for sh in shingles:
        m = hashlib.md5(sh.encode()).hexdigest()
        h1 = int(m[0:15], 16) % _KM_MOD
        h2 = int(m[16:31], 16) % _KM_MOD
        for i in range(MINHASH_K):
            v = (h1 + i * h2) % _KM_MOD
            if v < mins[i]:
                mins[i] = v
    return mins


def _minhash_vec_udf() -> Column:
    """MinHash signature as an Arrow-batched pandas UDF over ``text``.

    Why a UDF when the whole file preaches JVM expressions: the
    expression formulation (nested transform/aggregate/zip_with) is a
    HigherOrderFunction chain, which Spark evaluates INTERPRETED
    (CodegenFallback) — measured ~2× slower per core than this numpy-free
    hashlib loop, and an earlier column-per-hash formulation was 10×
    slower still because CollapseProject duplicated the md5 chain into
    every hash column. Semantics are identical (same tokenization, same
    md5, same Kirsch-Mitzenmacher h1+i·h2 mod 2^31-1 derivation) and the
    DuckDB oracle pins them value-for-value.
    """
    @F.pandas_udf("array<long>")
    def minhash_udf(texts: pd.Series) -> pd.Series:
        return texts.map(minhash_vec_py)

    return minhash_udf("text")


# DuckDB mirror: transpose instead of fold (elementwise min by index)
_SQL_PER_SHINGLE = (
    "list_transform(list_transform(shingles, s -> md5(s)), "
    f"m -> list_transform(range(0, {MINHASH_K}), i -> "
    f"((('0x' || substring(m, 1, 15))::BIGINT % {_KM_MOD}) "
    f"+ i * (('0x' || substring(m, 17, 15))::BIGINT % {_KM_MOD})) "
    f"% {_KM_MOD}))"
)
_SQL_MINVEC = (
    f"list_transform(range(1, {MINHASH_K + 1}), "
    "j -> list_min(list_transform(per_sh, p -> p[j])))"
)


# --------------------------------------------------------------------------
# MinHash signatures
# --------------------------------------------------------------------------

def docs_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document MinHash signature digest. Narrow map — zero shuffle;
    the plan is scan → project, so it scales linearly with input splits."""
    docs = t(spark, sf_dir, "documents")
    sig = (docs.select("doc_id", _minhash_vec_udf().alias("minvec"))
           .filter(F.col("minvec").isNotNull()))
    return sig.select(
        "doc_id",
        F.md5(F.array_join(
            F.transform("minvec", lambda v: v.cast("string")), "|"))
        .alias("minhash_sig"),
    )


_MINHASH_SIG_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id, {_SQL_PER_SHINGLE} AS per_sh FROM nz
), mh AS (
  SELECT doc_id, {_SQL_MINVEC} AS minvec FROM per
)
SELECT doc_id,
       md5(list_aggregate(list_transform(minvec, v -> CAST(v AS VARCHAR)),
                          'string_agg', '|')) AS minhash_sig
FROM mh
"""


OPH_BINS = 16   # one-permutation bins (same width as MINHASH_K, so the
                # two signature families are storage-comparable)


def oph_vec_py(text: str | None) -> tuple[list[int], int] | None:
    """Pure-Python one-permutation-hashing kernel (Li, Owen & Zhang
    2012) with densification by rotation (Shrivastava & Li 2014):
    ONE md5 per shingle (vs MINHASH_K per shingle in minhash_vec_py —
    the 16× hash-work cut that makes signatures affordable at 10^12
    docs), binned by h mod OPH_BINS with the per-bin minimum kept;
    an empty bin borrows the value of the nearest non-empty bin to
    its cyclic right. Returns (densified signature, n_empty_bins) —
    the empty-bin count is the variance diagnostic: short docs leave
    many bins empty and their OPH estimates degrade, which is exactly
    the trade the rotation scheme papers quantify."""
    import hashlib
    import re as _re

    toks = _re.split(r"\s+", (text or "").lower().strip())
    shingles = [" ".join(toks[i:i + SHINGLE_W])
                for i in range(len(toks) - SHINGLE_W + 1)]
    # sole exclusion rule: zero shingles (empty/whitespace text gives
    # toks == [""] and hence no shingles at any SHINGLE_W >= 2) — the
    # DuckDB oracles mirror exactly this len(shingles) > 0 filter, so
    # no second clause may diverge from it
    if not shingles:
        return None
    bins: list[int | None] = [None] * OPH_BINS
    for sh in shingles:
        m = hashlib.md5(sh.encode()).hexdigest()
        h = int(m[0:15], 16) % _KM_MOD
        b = h % OPH_BINS
        if bins[b] is None or h < bins[b]:
            bins[b] = h
    dens = []
    for j in range(OPH_BINS):
        for off in range(OPH_BINS):
            v = bins[(j + off) % OPH_BINS]
            if v is not None:
                dens.append(v)
                break
    return dens, sum(1 for v in bins if v is None)


def docs_minhash_oph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-permutation MinHash signatures (OPH, rotation-densified) —
    the production-scale replacement for k-permutation signatures:
    minhash_vec_py pays MINHASH_K (16) hash evaluations per shingle,
    OPH pays exactly ONE and recovers a same-width signature by
    binning, so at 10^12 documents the signature pass costs 1/16th
    the CPU for near-identical LSH behavior (Li, Owen & Zhang 2012;
    Shrivastava & Li 2014 for the densification that repairs empty
    bins). Emits the per-doc densified-signature digest plus the
    pre-densification empty-bin count — the observable that tells an
    operator which (short) docs carry degraded estimates.

    Scale shape: narrow map, zero shuffle — scan → project, exactly
    like docs_minhash_signature, but 16× cheaper in hash work."""
    docs = t(spark, sf_dir, "documents")

    @F.pandas_udf("struct<sig: array<long>, n_empty: int>")
    def oph_udf(texts: pd.Series) -> pd.DataFrame:
        vals = texts.map(oph_vec_py)
        return pd.DataFrame({
            "sig": vals.map(lambda v: v[0] if v else None),
            "n_empty": vals.map(lambda v: v[1] if v else None),
        })

    sig = (docs.select("doc_id", oph_udf("text").alias("o"))
           .filter(F.col("o.sig").isNotNull()))
    return sig.select(
        "doc_id",
        F.md5(F.array_join(
            F.transform("o.sig", lambda v: v.cast("string")), "|"))
        .alias("oph_sig"),
        F.col("o.n_empty").cast("long").alias("n_empty_bins"))


def _minhash_oph_sql() -> str:
    dens_terms = []
    for j in range(OPH_BINS):
        chain = ", ".join(
            f"b[{((j + off) % OPH_BINS) + 1}]"
            for off in range(OPH_BINS))
        dens_terms.append(f"COALESCE({chain})")
    return f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id,
         list_transform(shingles, s ->
           ('0x' || substring(md5(s), 1, 15))::BIGINT % {_KM_MOD})
           AS hs
  FROM nz
), binned AS (
  SELECT doc_id,
         list_transform(range(0, {OPH_BINS}), j ->
           list_min(list_filter(hs, h -> h % {OPH_BINS} = j))) AS b
  FROM per
), dens AS (
  SELECT doc_id,
         list_value({', '.join(dens_terms)}) AS sig,
         len(list_filter(b, v -> v IS NULL)) AS n_empty
  FROM binned
)
SELECT doc_id,
       md5(list_aggregate(list_transform(sig, v -> CAST(v AS VARCHAR)),
                          'string_agg', '|')) AS oph_sig,
       CAST(n_empty AS BIGINT) AS n_empty_bins
FROM dens
"""


# --------------------------------------------------------------------------
# Banded LSH candidate pairs
# --------------------------------------------------------------------------

LSH_BUCKET_CAP = 50   # skip degenerate buckets: pair count is O(n²) per
                      # bucket, and a mass-duplicated page (spam) would
                      # otherwise send millions of rows to ONE bucket.
                      # Docs in capped buckets are near-exact duplicates;
                      # the exact-dedup pass (docs_dedup_keepers) owns them.


def minhash_sigs_frame(df: DataFrame, key: str = "doc_id",
                       text_col: str = "text") -> DataFrame:
    """MinHash signatures over an arbitrary frame → (key, minvec).
    Frame-level form of the signature map so the job pipeline
    (job.py run_curation_job neardup stage) reuses the exact kernel
    the oracle-checked queries pin. Narrow map, zero shuffle."""
    @F.pandas_udf("array<long>")
    def mh(texts: pd.Series) -> pd.Series:
        return texts.map(minhash_vec_py)

    return (df.select(F.col(key), mh(text_col).alias("minvec"))
            .filter(F.col("minvec").isNotNull()))


def lsh_bands_frame(sigs: DataFrame, key: str = "doc_id",
                    carry: tuple = ()) -> DataFrame:
    """(key, minvec) → exploded (key, band, bucket): the banding map.
    The generator references the materialized minvec COLUMN (4 cheap
    slices), never re-deriving the md5 chain per band. ``carry``
    columns pass through unchanged (the streaming state path carries
    minvec itself so the state comparator never re-signs)."""
    rows_per_band = MINHASH_K // LSH_BANDS
    return sigs.select(
        key, *carry,
        F.explode(F.array(*[
            F.struct(
                F.lit(b).alias("band"),
                F.md5(F.array_join(
                    F.transform(
                        F.slice("minvec", b * rows_per_band + 1,
                                rows_per_band),
                        lambda v: v.cast("string")), "|")).alias("bucket"),
            )
            for b in range(LSH_BANDS)
        ])).alias("bb"),
    ).select(key, *carry, "bb.band", "bb.bucket")


def lsh_pairs_frame(sigs: DataFrame, key: str = "doc_id") -> DataFrame:
    """(key, minvec) → candidate pairs (key_a, key_b, n_shared_bands,
    jaccard_est) with the LSH_BUCKET_CAP guard applied BEFORE the
    self-join and the Broder signature-overlap estimate computed from
    the signatures already in hand (no gram recomputation)."""
    bands = lsh_bands_frame(sigs, key)
    w = Window.partitionBy("band", "bucket")
    bands = (bands.withColumn("bucket_n", F.count("*").over(w))
             .filter(F.col("bucket_n") <= LSH_BUCKET_CAP)
             .drop("bucket_n"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (a.join(b, ["band", "bucket"])
             .filter(F.col(f"a.{key}") < F.col(f"b.{key}"))
             .select(F.col(f"a.{key}").alias("key_a"),
                     F.col(f"b.{key}").alias("key_b"))
             .groupBy("key_a", "key_b")
             .agg(F.count(F.lit(1)).alias("n_shared_bands")))
    sa = sigs.select(F.col(key).alias("key_a"),
                     F.col("minvec").alias("va"))
    sb = sigs.select(F.col(key).alias("key_b"),
                     F.col("minvec").alias("vb"))
    matches = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    return (pairs.join(sa, "key_a").join(sb, "key_b")
            .select("key_a", "key_b", "n_shared_bands",
                    F.round(matches / MINHASH_K, 4).alias("jaccard_est")))


def _lsh_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = t(spark, sf_dir, "documents")
    return lsh_bands_frame(
        minhash_sigs_frame(docs, "doc_id", "text"), "doc_id")


def docs_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup candidate pairs via banded LSH: 4 bands × 4 rows.

    Scale shape: signatures are a narrow map; explode to (band, bucket)
    is 4 rows/doc; the single shuffle is the self-join on (band, bucket).
    Degenerate-skew guard: buckets larger than LSH_BUCKET_CAP are
    excluded BEFORE the self-join (a window count, same shuffle key), so
    a mass-duplicated page can never force an O(n²) bucket — those docs
    are exact-dup territory, owned by docs_dedup_keepers.
    """
    bands = _lsh_bands(spark, sf_dir)
    w = Window.partitionBy("band", "bucket")
    bands = (bands.withColumn("bucket_n", F.count("*").over(w))
             .filter(F.col("bucket_n") <= LSH_BUCKET_CAP)
             .drop("bucket_n"))
    a, b = bands.alias("a"), bands.alias("b")
    pairs = (a.join(b, ["band", "bucket"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"), "band"))
    return (pairs.groupBy("doc_a", "doc_b")
            .agg(F.count("*").alias("n_shared_bands")))


# Candidate (bands, rows) plans for a MINHASH_K-permutation signature,
# and the similarity grid the S-curve is tabulated on.
LSH_PLAN_GRID: tuple[tuple[int, int], ...] = tuple(
    (b, MINHASH_K // b) for b in (1, 2, 4, 8, 16))
LSH_SIM_GRID: tuple[float, ...] = tuple(round(0.05 * i, 2)
                                        for i in range(1, 20))


def docs_lsh_band_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding-plan S-curve table for the MinHash LSH family — the
    tuning companion to docs_minhash_lsh_pairs: for every feasible
    (bands, rows) split of the {MINHASH_K}-permutation signature and
    every similarity s on a grid, the candidate probability
    P = 1 − (1 − s^rows)^bands, each plan's characteristic threshold
    (1/bands)^(1/rows) (the s where the curve crosses ~0.5 steepest),
    and whether the plan is the one the pipeline currently runs
    (LSH_BANDS). Published corpus recall trade-offs (BENCH/recall.json)
    pick the knob; this table is the closed-form half a reviewer
    checks it against — and the oracle recomputes every probability
    independently, so the Spark-side pow/round arithmetic itself is
    value-checked.

    Scale shape: a plan-literal table (|plans| × |grid| rows) — no
    corpus scan at all; it composes as a broadcast side input wherever
    a threshold gate needs it."""
    plans = spark.createDataFrame(list(LSH_PLAN_GRID),
                                  "bands int, rows_per_band int")
    sims = spark.createDataFrame([(s,) for s in LSH_SIM_GRID],
                                 "sim double")
    p = 1.0 - F.pow(1.0 - F.pow(F.col("sim"), F.col("rows_per_band")),
                    F.col("bands"))
    thr = F.pow(1.0 / F.col("bands"), 1.0 / F.col("rows_per_band"))
    return (plans.crossJoin(sims)
            .select("bands", "rows_per_band", "sim",
                    F.round(p, 6).alias("p_candidate"),
                    F.round(thr, 6).alias("threshold"),
                    (F.col("bands") == LSH_BANDS).alias("active_plan")))


def _lsh_band_planner_sql() -> str:
    plan_rows = ", ".join(f"({b}, {r})" for b, r in LSH_PLAN_GRID)
    sim_rows = ", ".join(f"({s})" for s in LSH_SIM_GRID)
    return f"""
WITH plans(bands, rows_per_band) AS (VALUES {plan_rows}),
sims(sim) AS (VALUES {sim_rows})
SELECT CAST(bands AS INT) AS bands,
       CAST(rows_per_band AS INT) AS rows_per_band,
       CAST(sim AS DOUBLE) AS sim,
       round(1.0 - pow(1.0 - pow(sim, rows_per_band), bands), 6)
         AS p_candidate,
       round(pow(1.0 / bands, 1.0 / rows_per_band), 6) AS threshold,
       bands = {LSH_BANDS} AS active_plan
FROM plans CROSS JOIN sims
"""


def docs_minhash_jaccard_estimate(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Signature-overlap Jaccard ESTIMATION for the LSH candidate
    pairs: Ĵ = (1/K)·Σ[sig_a[i] = sig_b[i]] — the unbiased MinHash
    estimator (Broder 1997). This is the 10^12-doc alternative to
    docs_jaccard_verify_candidates: the exact path re-materializes
    shingle sets for every candidate doc, while this one touches ONLY
    the K-long signatures already computed for banding — two
    signature-table equi-joins and a zip_with, no gram recomputation,
    at the price of ±1/√K estimator noise (K=16 → σ≈0.125; production
    raises K, not the verification cost). est_near_dup applies the
    same NEAR_DUP_JACCARD threshold the exact path uses."""
    docs = t(spark, sf_dir, "documents")
    sigs = (docs.select("doc_id", _minhash_vec_udf().alias("minvec"))
            .filter(F.col("minvec").isNotNull()))
    pairs = docs_minhash_lsh_pairs(spark, sf_dir)
    a = sigs.select(F.col("doc_id").alias("doc_a"),
                    F.col("minvec").alias("va"))
    b = sigs.select(F.col("doc_id").alias("doc_b"),
                    F.col("minvec").alias("vb"))
    matches = F.aggregate(
        F.zip_with("va", "vb",
                   lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    est = F.round(matches / MINHASH_K, 4)
    return (pairs.join(a, "doc_a").join(b, "doc_b")
            .select("doc_a", "doc_b", "n_shared_bands",
                    est.alias("jaccard_est"),
                    (est >= NEAR_DUP_JACCARD).alias("est_near_dup")))


def _jaccard_estimate_sql() -> str:
    cmp_terms = " + ".join(
        f"(CASE WHEN ma.minvec[{i + 1}] = mb.minvec[{i + 1}]"
        f" THEN 1 ELSE 0 END)" for i in range(MINHASH_K))
    return f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id, {_SQL_PER_SHINGLE} AS per_sh FROM nz
), mh AS (
  SELECT doc_id, {_SQL_MINVEC} AS minvec FROM per
), pairs AS (
{_LSH_PAIRS_SQL}
)
SELECT p.doc_a, p.doc_b, p.n_shared_bands,
       round(({cmp_terms}) / {MINHASH_K}.0, 4) AS jaccard_est,
       round(({cmp_terms}) / {MINHASH_K}.0, 4) >= {NEAR_DUP_JACCARD}
         AS est_near_dup
FROM pairs p
JOIN mh ma ON ma.doc_id = p.doc_a
JOIN mh mb ON mb.doc_id = p.doc_b
"""


BBIT_B = 2                      # bits kept per minhash value
BBIT_C = 1.0 / (1 << BBIT_B)    # collision prob of unrelated values


def docs_bbit_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """b-bit MinHash (Li & König 2010): keep only the lowest BBIT_B
    bits of each minhash value — a 32×-64× signature-storage cut, the
    move that makes billion-doc signature stores fit in memory — and
    estimate Jaccard with the collision-corrected unbiased form
    Ĵ = (M − C)/(1 − C), where M is the b-bit match fraction and
    C = 2^-b is the chance two UNRELATED values collide in b bits.
    Emitted per LSH candidate pair beside the full-width Broder
    estimate, so the storage-vs-variance trade is observable per pair
    (bbit_err column); the estimator clamps at 0 (M < C happens on
    genuinely unrelated pairs at small K).

    Scale shape: identical to docs_minhash_jaccard_estimate — the
    capped LSH pair list bounds the join, signatures are narrow maps,
    and the b-bit compare is a per-row fold."""
    docs = t(spark, sf_dir, "documents")
    sigs = minhash_sigs_frame(docs, "doc_id", "text")
    pairs = lsh_pairs_frame(sigs, "doc_id") \
        .select(F.col("key_a").alias("doc_a"),
                F.col("key_b").alias("doc_b"),
                "n_shared_bands", "jaccard_est")
    mod = 1 << BBIT_B
    sa = sigs.select(F.col("doc_id").alias("doc_a"),
                     F.col("minvec").alias("va"))
    sb = sigs.select(F.col("doc_id").alias("doc_b"),
                     F.col("minvec").alias("vb"))
    mb = F.aggregate(
        F.zip_with("va", "vb",
                   lambda x, y: ((x % mod) == (y % mod)).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    est_b = F.round(
        F.greatest(F.lit(0.0),
                   (mb / F.lit(float(MINHASH_K)) - F.lit(BBIT_C))
                   / F.lit(1.0 - BBIT_C)), 4)
    return (pairs.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", "n_shared_bands", "jaccard_est",
                    est_b.alias("jaccard_bbit"),
                    F.round(est_b - F.col("jaccard_est"), 4)
                     .alias("bbit_err")))


def _bbit_minhash_sql() -> str:
    mod = 1 << BBIT_B
    full_terms = " + ".join(
        f"(CASE WHEN ma.minvec[{i + 1}] = mb.minvec[{i + 1}]"
        f" THEN 1 ELSE 0 END)" for i in range(MINHASH_K))
    bbit_terms = " + ".join(
        f"(CASE WHEN ma.minvec[{i + 1}] % {mod}"
        f" = mb.minvec[{i + 1}] % {mod}"
        f" THEN 1 ELSE 0 END)" for i in range(MINHASH_K))
    est_b = (f"round(GREATEST(0.0, (({bbit_terms}) / {MINHASH_K}.0"
             f" - {BBIT_C}) / {1.0 - BBIT_C}), 4)")
    return f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id, {_SQL_PER_SHINGLE} AS per_sh FROM nz
), mh AS (
  SELECT doc_id, {_SQL_MINVEC} AS minvec FROM per
), pairs AS (
{_LSH_PAIRS_SQL}
)
SELECT p.doc_a, p.doc_b, p.n_shared_bands,
       round(({full_terms}) / {MINHASH_K}.0, 4) AS jaccard_est,
       {est_b} AS jaccard_bbit,
       round({est_b}
             - round(({full_terms}) / {MINHASH_K}.0, 4), 4) AS bbit_err
FROM pairs p
JOIN mh ma ON ma.doc_id = p.doc_a
JOIN mh mb ON mb.doc_id = p.doc_b
"""


_ROWS_PER_BAND = MINHASH_K // LSH_BANDS
_LSH_PAIRS_SQL = f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id, {_SQL_PER_SHINGLE} AS per_sh FROM nz
), mh AS (
  SELECT doc_id, {_SQL_MINVEC} AS minvec FROM per
), bands AS (
  {" UNION ALL ".join(
      "SELECT doc_id, " + str(b) + " AS band, md5("
      + " || '|' || ".join(
          f"CAST(minvec[{b * _ROWS_PER_BAND + r + 1}] AS VARCHAR)"
          for r in range(_ROWS_PER_BAND))
      + ") AS bucket FROM mh"
      for b in range(LSH_BANDS))}
), capped AS (
  SELECT * FROM (
    SELECT doc_id, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n
    FROM bands
  ) WHERE bucket_n <= {LSH_BUCKET_CAP}
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       COUNT(*) AS n_shared_bands
FROM capped a JOIN capped b USING (band, bucket)
WHERE a.doc_id < b.doc_id
GROUP BY a.doc_id, b.doc_id
"""


# --------------------------------------------------------------------------
# SimHash
# --------------------------------------------------------------------------

def docs_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash: token bit b = high bit of md5(token)'s b-th hex
    digit; each token votes ±1 per bit (term frequency = vote weight);
    fingerprint bit = sign of the vote. Narrow map, zero shuffle.

    Same single-array-expression discipline as _minhash_vec: md5 once
    per token (bound as a lambda value), all 32 bit-votes folded
    elementwise in one aggregate — never 32 separate vote columns each
    re-deriving the md5 chain after projection collapse."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    base = (docs.select("doc_id", toks.alias("toks"))
            .filter((F.size("toks") > 0) & (F.col("toks")[0] != "")))
    per_token = F.transform(
        F.transform("toks", F.md5),
        lambda m: F.transform(
            F.sequence(F.lit(1), F.lit(SIMHASH_BITS)),
            lambda b: F.when(F.substring(m, b, 1).rlike("[89a-f]"),
                             F.lit(1)).otherwise(F.lit(-1))))
    votes = F.aggregate(per_token,
                        F.array_repeat(F.lit(0), SIMHASH_BITS),
                        lambda acc, x: F.zip_with(acc, x,
                                                  lambda a, c: a + c))
    return base.select(
        "doc_id",
        F.array_join(
            F.transform(votes, lambda v: F.when(v > 0, F.lit("1"))
                        .otherwise(F.lit("0"))), "").alias("simhash"),
    )


_SIMHASH_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), nz AS (
  SELECT doc_id, toks FROM tk WHERE len(toks) > 0 AND toks[1] <> ''
), per AS (
  SELECT doc_id,
         list_transform(list_transform(toks, t -> md5(t)),
                        m -> list_transform(range(1, {SIMHASH_BITS + 1}),
                                            b -> CASE WHEN substring(m, b, 1)
                                                 SIMILAR TO '[89a-f]'
                                                 THEN 1 ELSE -1 END))
           AS per_tok
  FROM nz
), v AS (
  SELECT doc_id,
         list_transform(range(1, {SIMHASH_BITS + 1}),
                        j -> list_sum(list_transform(per_tok, p -> p[j])))
           AS votes
  FROM per
)
SELECT doc_id,
       list_aggregate(list_transform(votes,
                                     v -> CASE WHEN v > 0 THEN '1'
                                          ELSE '0' END),
                      'string_agg', '') AS simhash
FROM v
"""


# --------------------------------------------------------------------------
# SimHash near-duplicate pairs (banded Hamming search)
# --------------------------------------------------------------------------

SIMHASH_BANDS = 4                       # 4 bands × 8 bits over 32 bits
SIMHASH_BAND_BITS = SIMHASH_BITS // SIMHASH_BANDS
SIMHASH_MAX_HAMMING = 3                 # near-dup verification threshold
SIMHASH_BUCKET_CAP = 50                 # same pre-join discipline as LSH


def docs_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs over SimHash fingerprints: by pigeonhole, two
    32-bit fingerprints within Hamming distance 3 agree EXACTLY on at
    least one of 4 bands — so candidates come from equi-joins on band
    buckets (never an all-pairs scan), then the true Hamming distance
    verifies ≤ SIMHASH_MAX_HAMMING. Same scale shape as the MinHash
    path: narrow fingerprint map, one capped band-bucket self-join.

    Recall caveat (same trade as emb_lsh_near_dup): SIMHASH_BUCKET_CAP
    drops band buckets larger than 50 rows BEFORE the self-join, so the
    pigeonhole guarantee holds only for pairs with at least one shared
    band in a sub-cap bucket — a true near-dup pair whose EVERY shared
    band lands in a hot bucket is not emitted. The output is a
    recall-bounded candidate set (O(n²)-safety over completeness);
    ``docs_simhash_dropped_bucket_rows`` reports the dropped coverage
    so callers can see the trade at their data's skew."""
    fp = docs_simhash(spark, sf_dir)
    bands = fp.select(
        "doc_id", "simhash",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.substring("simhash", b * SIMHASH_BAND_BITS + 1,
                                 SIMHASH_BAND_BITS).alias("bucket"))
            for b in range(SIMHASH_BANDS)
        ])).alias("bb"),
    ).select("doc_id", "simhash", "bb.band", "bb.bucket")
    w = Window.partitionBy("band", "bucket")
    bands = (bands.withColumn("bucket_n", F.count(F.lit(1)).over(w))
             .filter(F.col("bucket_n") <= SIMHASH_BUCKET_CAP)
             .drop("bucket_n"))
    a = bands.select(F.col("doc_id").alias("doc_a"),
                     F.col("simhash").alias("sh_a"), "band", "bucket")
    b = bands.select(F.col("doc_id").alias("doc_b"),
                     F.col("simhash").alias("sh_b"), "band", "bucket")
    pairs = (a.join(b, ["band", "bucket"])
             .filter(F.col("doc_a") < F.col("doc_b"))
             .select("doc_a", "doc_b", "sh_a", "sh_b").distinct())
    hamming = F.aggregate(
        F.zip_with(F.split("sh_a", ""), F.split("sh_b", ""),
                   lambda x, y: F.when(x == y, 0).otherwise(1)),
        F.lit(0), lambda acc, x: acc + x)
    return (pairs.withColumn("hamming", hamming)
            .filter(F.col("hamming") <= SIMHASH_MAX_HAMMING)
            .select("doc_a", "doc_b", "hamming"))


_SIMHASH_NEAR_DUP_SQL = f"""
WITH fp AS (
{_SIMHASH_SQL}
), bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, simhash, {b} AS band, "
      f"substring(simhash, {b * SIMHASH_BAND_BITS + 1}, "
      f"{SIMHASH_BAND_BITS}) AS bucket FROM fp"
      for b in range(SIMHASH_BANDS))}
), capped AS (
  SELECT * FROM (
    SELECT doc_id, simhash, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n
    FROM bands
  ) WHERE bucket_n <= {SIMHASH_BUCKET_CAP}
), pairs AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.simhash AS sh_a, b.simhash AS sh_b
  FROM capped a JOIN capped b USING (band, bucket)
  WHERE a.doc_id < b.doc_id
), ham AS (
  SELECT doc_a, doc_b,
         list_sum(list_transform(range(1, {SIMHASH_BITS + 1}),
                  i -> CASE WHEN substring(sh_a, i, 1)
                            = substring(sh_b, i, 1)
                       THEN 0 ELSE 1 END)) AS hamming
  FROM pairs
)
SELECT doc_a, doc_b, CAST(hamming AS INT) AS hamming
FROM ham WHERE hamming <= {SIMHASH_MAX_HAMMING}
"""


def docs_simhash_dropped_buckets(spark: SparkSession,
                                 sf_dir: str) -> DataFrame:
    """Coverage observability for the SIMHASH_BUCKET_CAP recall trade:
    per band, how many buckets exceeded the cap and how many fingerprint
    rows were therefore excluded from the near-dup self-join. A caller
    seeing a large dropped-row share knows the candidate set is
    recall-bounded at their data's skew (see docs_simhash_near_dup)."""
    fp = docs_simhash(spark, sf_dir)
    bands = fp.select(
        "doc_id",
        F.explode(F.array(*[
            F.struct(F.lit(b).alias("band"),
                     F.substring("simhash", b * SIMHASH_BAND_BITS + 1,
                                 SIMHASH_BAND_BITS).alias("bucket"))
            for b in range(SIMHASH_BANDS)
        ])).alias("bb"),
    ).select("bb.band", "bb.bucket")
    per_bucket = bands.groupBy("band", "bucket").agg(
        F.count(F.lit(1)).alias("bucket_n"))
    return (per_bucket.groupBy("band").agg(
        F.sum(F.when(F.col("bucket_n") > SIMHASH_BUCKET_CAP, 1)
              .otherwise(0)).cast("long").alias("n_hot_buckets"),
        F.sum(F.when(F.col("bucket_n") > SIMHASH_BUCKET_CAP,
                     F.col("bucket_n")).otherwise(0)).cast("long")
        .alias("n_dropped_rows"),
    ).select(F.col("band").cast("int").alias("band"),
             "n_hot_buckets", "n_dropped_rows"))


_SIMHASH_DROPPED_SQL = f"""
WITH fp AS (
{_SIMHASH_SQL}
), bands AS (
  {" UNION ALL ".join(
      f"SELECT doc_id, {b} AS band, "
      f"substring(simhash, {b * SIMHASH_BAND_BITS + 1}, "
      f"{SIMHASH_BAND_BITS}) AS bucket FROM fp"
      for b in range(SIMHASH_BANDS))}
), per_bucket AS (
  SELECT band, bucket, COUNT(*) AS bucket_n
  FROM bands GROUP BY band, bucket
)
SELECT CAST(band AS INT) AS band,
       CAST(COALESCE(SUM(CASE WHEN bucket_n > {SIMHASH_BUCKET_CAP}
                          THEN 1 ELSE 0 END), 0) AS BIGINT)
         AS n_hot_buckets,
       CAST(COALESCE(SUM(CASE WHEN bucket_n > {SIMHASH_BUCKET_CAP}
                          THEN bucket_n ELSE 0 END), 0) AS BIGINT)
         AS n_dropped_rows
FROM per_bucket GROUP BY band
"""


# --------------------------------------------------------------------------
# Exact n-gram Jaccard within blocking buckets
# --------------------------------------------------------------------------

def docs_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard over distinct word-3-gram sets, blocked by
    (lang, length-bucket). SMALL-SF CROSS-CHECK ONLY: the blocked
    self-join is O(n²) per block, and at 100 TB an (en, common-length)
    block is corpus-sized. The scale path is
    ``docs_jaccard_verify_candidates`` below, which applies the same
    exact-Jaccard verification to the MinHash-LSH candidate list — this
    query exists so small-SF runs can cross-check that the LSH candidate
    set did not miss a high-Jaccard pair inside a block."""
    docs = t(spark, sf_dir, "documents")
    base = (docs.select(
        "doc_id", "lang",
        F.floor(F.col("n_chars") / JACCARD_BLOCK_CHARS).alias("len_bucket"),
        F.array_distinct(_shingles(_tokens())).alias("grams"))
        .filter(F.size("grams") > 0))
    a, b = base.alias("a"), base.alias("b")
    pairs = (a.join(b, ["lang", "len_bucket"])
             .filter(F.col("a.doc_id") < F.col("b.doc_id")))
    inter = F.size(F.array_intersect("a.grams", "b.grams"))
    union = F.size(F.array_union("a.grams", "b.grams"))
    return (pairs.select(
        F.col("a.doc_id").alias("doc_a"),
        F.col("b.doc_id").alias("doc_b"),
        F.round(inter / union, 4).alias("jaccard"))
        .filter(F.col("jaccard") >= JACCARD_MIN))


_JACCARD_SQL = f"""
WITH base AS (
  SELECT doc_id, lang,
         CAST(floor(n_chars / {JACCARD_BLOCK_CHARS}) AS BIGINT) AS len_bucket,
         list_distinct({_SQL_SHINGLES}) AS grams
  FROM documents
), nz AS (
  SELECT * FROM base WHERE len(grams) > 0
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)), 4) AS jaccard
FROM nz a JOIN nz b USING (lang, len_bucket)
WHERE a.doc_id < b.doc_id
  AND ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
            / len(list_distinct(a.grams || b.grams)), 4) >= {JACCARD_MIN}
"""


# --------------------------------------------------------------------------
# Candidate-driven exact-Jaccard verification (the 100 TB verify path)
# --------------------------------------------------------------------------

def docs_jaccard_verify_candidates(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """Exact-Jaccard verification driven by the MinHash-LSH candidate
    list: join each candidate pair's distinct 3-gram sets on and compute
    true Jaccard. This is the scale-safe verify shape — the pair list is
    LSH-bounded (banded buckets, pre-join cap), so the two gram joins are
    linear equi-joins on doc_id, never a blocked self-join. Compare
    ``docs_ngram_jaccard_pairs``, which is the small-SF O(n²)
    cross-check of this path."""
    # The plan references the LSH subtree 3× (cand_ids + both sides of
    # the final join) and the grams subtree 2×, and they genuinely
    # recompute — no exchange reuse survives to the executed plan
    # (measured: 8 scans / 12 Arrow evals, 0 ReusedExchange). Measured
    # three ways at sf0.1/local[32] (interleaved reps): recompute
    # 5.7-6.3 s < persist(MEMORY_AND_DISK) 7.5-8.0 s <
    # localCheckpoint 7.0-8.9 s — with idle cores the redundant
    # compute is free while materialization taxes the critical path
    # with cache writes and driver barriers, so the query form stays
    # unmaterialized. At production scale (cores saturated, corpus-wide
    # MinHash the dominant cost) the same 3× redundancy is NOT free:
    # there the pipeline writes the candidate pair list as a real
    # intermediate table between job stages (job.py's wave model), and
    # the verify stage reads it back — a storage write, not an
    # in-session checkpoint.
    cands = docs_minhash_lsh_pairs(spark, sf_dir)
    docs = t(spark, sf_dir, "documents")
    # shingle ONLY the docs that appear in a candidate pair (left-semi
    # against the tiny candidate id set): the verify stage's work is
    # bounded by the candidates, not the corpus — at 100 TB the
    # candidate set is orders of magnitude smaller than the input.
    cand_ids = (cands.select(F.explode(F.array("doc_a", "doc_b"))
                             .alias("doc_id"))
                .distinct())
    grams = (docs.join(cand_ids, "doc_id", "left_semi")
             .select("doc_id",
                     F.array_distinct(_shingles(_tokens())).alias("grams"))
             .filter(F.size("grams") > 0))
    ga = grams.select(F.col("doc_id").alias("doc_a"),
                      F.col("grams").alias("grams_a"))
    gb = grams.select(F.col("doc_id").alias("doc_b"),
                      F.col("grams").alias("grams_b"))
    j = cands.join(ga, "doc_a").join(gb, "doc_b")
    inter = F.size(F.array_intersect("grams_a", "grams_b"))
    union = F.size(F.array_union("grams_a", "grams_b"))
    return j.select("doc_a", "doc_b", "n_shared_bands",
                    F.round(inter / union, 4).alias("jaccard"))


_JACCARD_VERIFY_SQL = f"""
WITH cand AS (
{_LSH_PAIRS_SQL}
), g AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS grams FROM documents
), nz AS (
  SELECT * FROM g WHERE len(grams) > 0
)
SELECT c.doc_a, c.doc_b, c.n_shared_bands,
       ROUND(CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
             / len(list_distinct(a.grams || b.grams)), 4) AS jaccard
FROM cand c
JOIN nz a ON a.doc_id = c.doc_a
JOIN nz b ON b.doc_id = c.doc_b
"""


YIELD_THRESHOLDS = (0.3, 0.5, 0.7, 0.8, 0.9)


def docs_dedup_yield_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aggressiveness knob-tuning curve: for each candidate
    Jaccard threshold, how many documents (and how many TOKENS — the
    quantity a training budget is priced in) survive pairwise near-dup
    removal. This is the table an operator reads before picking
    NEAR_DUP_JACCARD: every production dedup paper reports exactly
    this trade (dedup harder → cleaner but smaller corpus), and
    without it the threshold is folklore. Drop rule matches the
    pairwise convention used corpus-wide: in a verified pair
    (doc_a < doc_b) at-or-above threshold, the LATER copy (doc_b)
    drops — no transitive closure, so the curve prices the PAIRWISE
    rule; the clustering rule's yield at the shipped threshold is
    docs_near_dup_clusters' keeper count.

    Scale shape: the pair list is the LSH-capped verified set; the
    threshold grid is a plan literal exploded against it (|pairs|x5,
    still candidate-bounded); dropped-id sets join the per-doc token
    counts doc_id-keyed; corpus totals ride a broadcast 1-row frame.
    """
    pairs = docs_jaccard_verify_candidates(spark, sf_dir) \
        .select("doc_a", "doc_b", "jaccard")
    docs = t(spark, sf_dir, "documents")
    toks = docs.select("doc_id",
                       F.size(_tokens()).cast("long").alias("n_tokens"))
    totals = toks.agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("n_tokens").cast("long").alias("tokens_total"))
    grid = F.explode(F.array(*[F.lit(float(t_)) for t_ in
                               YIELD_THRESHOLDS])).alias("threshold")
    dropped = (pairs.select(grid, "doc_b", "jaccard")
               .filter(F.col("jaccard") >= F.col("threshold"))
               .select("threshold", F.col("doc_b").alias("doc_id"))
               .distinct())
    per = (dropped.join(toks, "doc_id")
           .groupBy("threshold")
           .agg(F.count(F.lit(1)).cast("long").alias("n_dropped"),
                F.sum("n_tokens").cast("long").alias("tokens_dropped")))
    # thresholds that drop nothing still need a row: re-join the grid
    base = (docs.limit(1).select(grid)
            .join(per, "threshold", "left")
            .select("threshold",
                    F.coalesce("n_dropped", F.lit(0)).alias("n_dropped"),
                    F.coalesce("tokens_dropped", F.lit(0))
                    .alias("tokens_dropped")))
    return (base.crossJoin(F.broadcast(totals))
            .select("threshold", "n_dropped",
                    (F.col("n_docs") - F.col("n_dropped"))
                    .alias("docs_kept"),
                    "tokens_total", "tokens_dropped",
                    (F.col("tokens_total") - F.col("tokens_dropped"))
                    .alias("tokens_kept"),
                    F.round((F.col("tokens_total")
                             - F.col("tokens_dropped"))
                            / F.col("tokens_total"), 6)
                    .alias("token_yield"))
            .orderBy("threshold"))


def _yield_curve_sql() -> str:
    grid = ", ".join(f"(CAST({t} AS DOUBLE))" for t in YIELD_THRESHOLDS)
    return f"""
WITH pairs AS (
{_JACCARD_VERIFY_SQL}
), toks AS (
  SELECT doc_id, CAST(len({_SQL_TOKENS}) AS BIGINT) AS n_tokens
  FROM documents
), totals AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         CAST(SUM(n_tokens) AS BIGINT) AS tokens_total
  FROM toks
), grid(threshold) AS (VALUES {grid}
), dropped AS (
  SELECT DISTINCT g.threshold, p.doc_b AS doc_id
  FROM grid g JOIN pairs p ON p.jaccard >= g.threshold
), per AS (
  SELECT d.threshold,
         CAST(COUNT(*) AS BIGINT) AS n_dropped,
         CAST(SUM(t.n_tokens) AS BIGINT) AS tokens_dropped
  FROM dropped d JOIN toks t USING (doc_id)
  GROUP BY d.threshold
)
SELECT g.threshold,
       COALESCE(p.n_dropped, 0) AS n_dropped,
       tt.n_docs - COALESCE(p.n_dropped, 0) AS docs_kept,
       tt.tokens_total,
       COALESCE(p.tokens_dropped, 0) AS tokens_dropped,
       tt.tokens_total - COALESCE(p.tokens_dropped, 0) AS tokens_kept,
       round((tt.tokens_total - COALESCE(p.tokens_dropped, 0))
             / CAST(tt.tokens_total AS DOUBLE), 6) AS token_yield
FROM grid g LEFT JOIN per p ON p.threshold = g.threshold
CROSS JOIN totals tt
ORDER BY g.threshold
"""


# --------------------------------------------------------------------------
# Near-duplicate clustering (connected components over verified pairs)
# --------------------------------------------------------------------------

NEAR_DUP_JACCARD = 0.5   # verified-pair threshold for "same cluster"
CC_MAX_ITERS = 15        # label propagation rounds (2^15-diameter bound
                         # via min-label monotonicity; see below)


def near_dup_clusters(pairs: DataFrame, max_iters: int = CC_MAX_ITERS,
                      spark: SparkSession | None = None) -> DataFrame:
    """Connected components over an undirected pair list → (doc_id,
    cluster_id, is_keeper), cluster_id = min doc_id of the component,
    keeper = that min doc (the near-dup analogue of
    docs_dedup_keepers' exact-hash keeper election).

    Iterative min-label propagation, all distributed: each round every
    node's label becomes min(own, neighbors') via one equi-join keyed on
    doc_id and one groupBy doc_id — no driver-side graph, no collected
    edges. Convergence is detected with a 1-row sum(label) aggregate
    (labels are monotonically non-increasing, so an unchanged sum ⟺ a
    fixed point); per-round lineage is truncated with localCheckpoint so
    the plan doesn't grow with iterations. Rounds needed = component
    diameter; LSH-verified near-dup components are squat (near-cliques),
    and a component NOT converged inside ``max_iters`` can only surface
    as a split cluster, never a merged one — callers needing a hard
    guarantee at adversarial diameters re-run with a higher bound.

    Scale: edge count is bounded by the LSH candidate list (capped
    buckets), labels ≤ 2·pairs; every round is shuffle-keyed on doc_id
    (pinned by tests/test_plans.py). The reference has no near-dup
    grouping at all (VERDICT r2 #2; SURVEY §2.3 absent-joins checklist).
    """
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("src").alias("doc_id"))
              .distinct()
              .withColumn("label", F.col("doc_id"))
              .localCheckpoint())
    # decimal(38,0) sum: labels may be 63-bit ids (the job layer feeds
    # md5-prefix node ids), and at 10^12 nodes even modest ids overflow
    # a LONG sum — the convergence test must never be the thing that
    # caps corpus size
    prev_sum = labels.agg(
        F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
    for _ in range(max_iters):
        prop = (edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
                .select(F.col("dst").alias("doc_id"), "label"))
        new_labels = (labels.union(prop)
                      .groupBy("doc_id")
                      .agg(F.min("label").alias("label"))
                      .localCheckpoint())
        new_sum = new_labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))).collect()[0][0]
        labels = new_labels
        if new_sum == prev_sum:   # monotone ⇒ equal sum ⇔ fixed point
            break
        prev_sum = new_sum
    edges.unpersist()
    return labels.select(
        "doc_id", F.col("label").alias("cluster_id"),
        (F.col("doc_id") == F.col("label")).alias("is_keeper"))


def docs_near_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full near-dup dedup pipeline tail: MinHash-LSH candidates →
    exact-Jaccard verify → threshold at NEAR_DUP_JACCARD → connected
    components → keeper per cluster."""
    verified = (docs_jaccard_verify_candidates(spark, sf_dir)
                .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
                .select("doc_a", "doc_b"))
    return near_dup_clusters(verified, spark=spark)


# DuckDB oracle: transitive closure via recursive CTE (tractable because
# the node set is the verified-pair docs, not the corpus), then
# cluster = min reachable id — definitionally the connected component.
_NEAR_DUP_CLUSTERS_SQL = f"""
WITH RECURSIVE verified AS (
  SELECT doc_a, doc_b FROM (
{_JACCARD_VERIFY_SQL}
  ) WHERE jaccard >= {NEAR_DUP_JACCARD}
), edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM verified
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM verified
), nodes AS (
  SELECT DISTINCT src AS doc_id FROM edges
), reach(id, r) AS (
  SELECT doc_id, doc_id FROM nodes
  UNION
  SELECT re.id, e.dst FROM reach re JOIN edges e ON e.src = re.r
)
SELECT id AS doc_id, MIN(r) AS cluster_id,
       (id = MIN(r)) AS is_keeper
FROM reach GROUP BY id
"""


# --------------------------------------------------------------------------
# Connected components in O(log n) rounds: large-star / small-star
# --------------------------------------------------------------------------

CC_LOGSTAR_MAX_ROUNDS = 25   # 2^25 nodes of diameter is far past any corpus


def _cc_large_star(edges: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al. 2014, Alg. 2): for every
    node u, attach each STRICTLY LARGER neighbor to the minimum of
    u's closed neighborhood. One groupBy(u) + one equi-join on u."""
    b = edges.union(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
    m = (b.groupBy("u").agg(F.min("v").alias("mn"))
         .select("u", F.least(F.col("mn"), F.col("u")).alias("m")))
    return (b.join(m, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .distinct())


def _cc_small_star(edges: DataFrame) -> DataFrame:
    """One small-star round (Alg. 3): direct every edge high→low, then
    for every node u re-attach u and all its SMALLER neighbors to the
    minimum of that down-neighborhood. Same shuffle shape as above."""
    d = (edges.select(F.greatest("u", "v").alias("u"),
                      F.least("u", "v").alias("v"))
         .filter(F.col("u") != F.col("v")))
    m = d.groupBy("u").agg(F.min("v").alias("m"))
    out = (d.join(m, "u").select(F.col("v").alias("c"), "m")
           .union(m.select(F.col("u").alias("c"), "m")))
    return (out.filter(F.col("c") != F.col("m"))
            .select(F.col("c").alias("u"), F.col("m").alias("v"))
            .distinct())


def cc_logstar(pairs: DataFrame,
               max_rounds: int = CC_LOGSTAR_MAX_ROUNDS,
               stats: dict | None = None) -> DataFrame:
    """Connected components via alternating large-star / small-star
    (Kiveris et al., "Connected Components in MapReduce and Beyond",
    SoCC 2014) → the same (doc_id, cluster_id, is_keeper) contract as
    ``near_dup_clusters``.

    Why a second CC when min-label propagation already exists: label
    propagation needs DIAMETER rounds, so an adversarial chain-shaped
    component (A~B, B~C, … — real under boilerplate-template drift,
    where consecutive crawl snapshots are pairwise-near but the ends
    are not) either costs O(diameter) shuffles or silently SPLITS at
    the iteration bound. Large/small-star contracts path lengths
    multiplicatively and provably converges in O(log n) rounds on any
    graph, so the iteration bound is a true constant (2^25-node
    diameter at 25 rounds) rather than a per-corpus tuning knob.

    Every round is two groupBy(u)+join(u) pairs — the identical
    doc_id-keyed shuffle shape the propagation loop was plan-gated on —
    with per-round localCheckpoint lineage truncation. Convergence is
    an exact edge-set fixed-point test (count + one-sided exceptAll on
    the deduped canonical child→parent set), not a checksum: at the
    fixed point the edge set IS the star forest rooted at each
    component's minimum id, so labels fall out of the final edges with
    no extra pass. ``stats['rounds']`` (when a dict is passed) reports
    the alternations used; tests pin a 64-chain converging in ≤8 —
    under the propagation loop's own CC_MAX_ITERS=15 that chain is a
    guaranteed wrong (split) answer, here it is exact.
    """
    edges = (pairs.select(F.greatest("doc_a", "doc_b").alias("u"),
                          F.least("doc_a", "doc_b").alias("v"))
             .filter(F.col("u") != F.col("v"))
             .distinct()
             .localCheckpoint())
    rounds = 0
    for _ in range(max_rounds):
        nxt = (_cc_small_star(_cc_large_star(edges))
               .localCheckpoint())
        rounds += 1
        # exact fixed-point: same cardinality + nothing new ⟺ set-equal
        # (both sides are distinct canonical (child>parent) edge sets)
        if nxt.count() == edges.count() and nxt.exceptAll(edges).isEmpty():
            edges = nxt
            break
        edges = nxt
    if stats is not None:
        stats["rounds"] = rounds
    return (edges.select(F.col("u").alias("doc_id"),
                         F.col("v").alias("cluster_id"))
            .union(edges.select(F.col("v").alias("doc_id"),
                                F.col("v").alias("cluster_id")))
            .distinct()
            .select("doc_id", "cluster_id",
                    (F.col("doc_id") == F.col("cluster_id"))
                    .alias("is_keeper")))


def docs_near_dup_clusters_logstar(spark: SparkSession,
                                   sf_dir: str) -> DataFrame:
    """The near-dup dedup tail with the O(log n)-round CC: MinHash-LSH
    candidates → exact-Jaccard verify → threshold → large/small-star
    components → keeper per cluster. Same answer as
    ``docs_near_dup_clusters`` (both oracle-pinned to the recursive-CTE
    transitive closure); this is the form whose round bound does not
    depend on component shape."""
    verified = (docs_jaccard_verify_candidates(spark, sf_dir)
                .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
                .select("doc_a", "doc_b"))
    return cc_logstar(verified)


# --------------------------------------------------------------------------
# Language identification (stopword vote)
# --------------------------------------------------------------------------

_LANG_STOPWORDS = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "for", "with", "on"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "von", "mit", "auf", "ein"),
    "fr": ("le", "la", "les", "et", "est", "pas", "pour", "dans", "que", "une"),
    "es": ("el", "la", "los", "y", "es", "no", "por", "con", "para", "una"),
}
_LANG_ORDER = ("en", "de", "fr", "es")


def langid_hit_cols(toks_col) -> list[Column]:
    """Per-language stopword hit counters over a token-array column —
    the shared langid kernel (docs_langid and job.py's sampling stage
    both call this, so query and pipeline language ID cannot drift).
    Lambda-free and exact: ``\\s+`` tokens hold no space, so whole-token
    matches in the ' '-joined tokens count the stopword hits."""
    joined = F.array_join(toks_col, " ")
    return [
        F.regexp_count(joined, F.lit(f"(?<![^ ])(?:{'|'.join(ws)})(?![^ ])"))
         .alias(f"hits_{lg}")
        for lg, ws in _LANG_STOPWORDS.items()
    ]


def _precedence_argmax(counts: dict, order: tuple) -> Column:
    """The label of ``order`` with the most ``counts``, ties to the earlier
    label; 'und' when none counts above 0. The one langid vote: per doc,
    per segment and the segments' majority."""
    pred = F.lit("und")
    for lg in reversed(order):
        cond = counts[lg] > 0
        for o in order:
            if o != lg:
                cond = cond & (counts[lg] > counts[o]
                               if order.index(o) < order.index(lg)
                               else counts[lg] >= counts[o])
        pred = F.when(cond, F.lit(lg)).otherwise(pred)
    return pred


def langid_pred_col() -> Column:
    """Argmax over the hits_<lang> columns with fixed precedence
    en>de>fr>es on ties; 'und' when nothing hits."""
    return _precedence_argmax(
        {lg: F.col(f"hits_{lg}") for lg in _LANG_ORDER}, _LANG_ORDER)


def docs_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram-heuristic language ID: count stopword hits per language,
    argmax with fixed precedence en>de>fr>es on ties. Narrow map."""
    counts = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", *langid_hit_cols(_tokens()))
    return counts.select(
        "doc_id", "lang",
        *[f"hits_{lg}" for lg in _LANG_ORDER],
        langid_pred_col().alias("lang_pred"),
    )


def _sql_hits(lg: str) -> str:
    ws = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[lg])
    return f"len(list_filter(toks, x -> x IN ({ws})))"


def _sql_pred() -> str:
    expr = "'und'"
    for lg in reversed(_LANG_ORDER):
        conds = [f"hits_{lg} > 0"]
        for o in _LANG_ORDER:
            if o == lg:
                continue
            op = ">" if _LANG_ORDER.index(o) < _LANG_ORDER.index(lg) else ">="
            conds.append(f"hits_{lg} {op} hits_{o}")
        expr = f"CASE WHEN {' AND '.join(conds)} THEN '{lg}' ELSE {expr} END"
    return expr


_LANGID_SQL = f"""
WITH tk AS (
  SELECT doc_id, lang, {_SQL_TOKENS} AS toks FROM documents
), counts AS (
  SELECT doc_id, lang,
         {", ".join(f"{_sql_hits(lg)} AS hits_{lg}" for lg in _LANG_ORDER)}
  FROM tk
)
SELECT doc_id, lang, {", ".join(f"hits_{lg}" for lg in _LANG_ORDER)},
       {_sql_pred()} AS lang_pred
FROM counts
"""


def docs_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID confusion matrix — the crawl-health dashboard over
    docs_langid: one row per (declared, detected) pair with its count
    and row-normalized share. Production pipelines watch the
    off-diagonal mass to catch a broken detector, a mislabeled crawl
    source, or a shift in boilerplate language (nav chrome in one
    language around prose in another). On this fixture the matrix is
    HEAVILY off-diagonal by construction — the synthetic prose draws
    from an English word pool under every declared lang — which is
    exactly the broken-crawl-source shape the dashboard exists to
    expose.

    Scale shape: the langid subplan is a zero-shuffle narrow map; on
    top, ONE partial-agg groupBy keyed (lang, lang_pred) whose
    cardinality is at most |langs|² — constant in corpus size — and a
    |langs|-row window for the share."""
    li = docs_langid(spark, sf_dir).select("lang", "lang_pred")
    agg = (li.groupBy("lang", "lang_pred")
           .agg(F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("lang")
    share = F.round(F.col("n_docs") / F.sum("n_docs").over(w), 4)
    return agg.select(
        "lang", "lang_pred", "n_docs", share.alias("share"),
        (F.col("lang") == F.col("lang_pred")).alias("is_diagonal"))


_LANG_CONFUSION_SQL = f"""
WITH li AS (
{_LANGID_SQL}
), agg AS (
  SELECT lang, lang_pred, CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM li GROUP BY lang, lang_pred
)
SELECT lang, lang_pred, n_docs,
       round(n_docs / CAST(SUM(n_docs) OVER (PARTITION BY lang)
                           AS DOUBLE), 4) AS share,
       lang = lang_pred AS is_diagonal
FROM agg
"""


# --------------------------------------------------------------------------
# Gopher/C4-style quality filter decision
# --------------------------------------------------------------------------

# corpus-scaled Gopher-style thresholds (the canonical 50-word minimum
# would drop this synthetic corpus wholesale; the FILTER SHAPE is what
# scales, the constants are config)
_GF_MIN_WORDS = 10
_GF_MAX_WORDS = 100_000
_GF_MIN_MEAN_WLEN = 2.0
_GF_MAX_MEAN_WLEN = 12.0
_GF_MIN_ALPHA_FRAC = 0.6
# Gopher requires >= 2 distinct stopwords from its 8-word list; the
# synthetic documents vocabulary contains exactly ONE of them ("the"),
# so the literal 2 made the gate constant-false at every test SF —
# vacuously green against the oracle but discriminating nothing. 1 is
# the corpus-calibrated knob (76% pass / 24% fail at sf0.01); the
# published value comes back with a real English corpus.
_GF_MIN_STOP_HITS = 1
_GF_STOPWORDS = ("the", "and", "of", "to", "in", "with", "that", "for")


def docs_gopher_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher/C4-style document quality gate: word count bounds, mean
    word length band, alphabetic-word fraction, distinct-stopword
    presence — each emitted as a feature column plus the conjunction
    ``keep``. Everything is a narrow JVM-expression map (zero shuffle,
    scales linearly with splits); the decision column is what a
    training-data pipeline's filter stage materializes."""
    return gopher_gate_frame(t(spark, sf_dir, "documents"), "doc_id")


def gopher_gate_cols(toks: Column) -> dict[str, Column]:
    """The Gopher gate's features over ``_tokens`` output, lambda-free:
    ``n_alpha`` counts ^[a-z]+$ tokens ($ also matches before a final
    U+0085, U+2028 or U+2029, which a \\s+ split keeps); the fractions
    are rounded to 4 dp, as the oracle rounds them."""
    size = F.size(toks)
    n_words = F.when((size == 1) & (toks[0] == ""), F.lit(0)).otherwise(size)
    wlen_sum = F.length(F.array_join(toks, ""))
    n_alpha = F.regexp_count(F.array_join(toks, " "), F.lit(
        r"(?<![^ ])[a-z]+[\u0085\u2028\u2029]?(?![^ ])"))
    return {
        "n_words": n_words, "wlen_sum": wlen_sum, "n_alpha": n_alpha,
        "mean_word_len": F.round(F.when(n_words > 0, wlen_sum / n_words)
                                 .otherwise(F.lit(0.0)), 4),
        "alpha_frac": F.round(F.when(n_words > 0, n_alpha / n_words)
                              .otherwise(F.lit(0.0)), 4),
        "distinct_stop_hits": F.size(F.array_intersect(
            F.array_distinct(toks),
            F.array(*[F.lit(w) for w in _GF_STOPWORDS])))}


def gopher_keep() -> Column:
    """The Gopher verdict over the ``gopher_gate_cols`` columns, so each
    feature is computed once."""
    return ((F.col("n_words") >= _GF_MIN_WORDS)
            & (F.col("n_words") <= _GF_MAX_WORDS)
            & (F.col("mean_word_len") >= _GF_MIN_MEAN_WLEN)
            & (F.col("mean_word_len") <= _GF_MAX_MEAN_WLEN)
            & (F.col("alpha_frac") >= _GF_MIN_ALPHA_FRAC)
            & (F.col("distinct_stop_hits") >= _GF_MIN_STOP_HITS))


def gopher_gate_frame(df: DataFrame, key: str, text_col: str = "text",
                      carry: tuple = ()) -> DataFrame:
    """The Gopher gate as a frame kernel keyed on ``key`` — shared by
    the batch query (doc_id over documents) and the streaming quality
    gate (url over extracted pages, streaming/ingest.py::
    stream_quality_gate), so incremental and batch verdicts are
    identical by construction. ``carry`` columns pass through
    untouched (the streaming form carries the detected language —
    joining it back would be a stream-stream join)."""
    cols = gopher_gate_cols(F.col("toks"))
    return (df.select(key, *carry, _tokens(text_col).alias("toks"))
            .select(key, *carry, *(cols[c].alias(c) for c in (
                "n_words", "mean_word_len", "alpha_frac",
                "distinct_stop_hits")))
            .withColumn("keep", gopher_keep()))


_GOPHER_SQL = f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), base AS (
  SELECT doc_id, toks,
         CASE WHEN len(toks) = 1 AND toks[1] = '' THEN 0
              ELSE len(toks) END AS n_words
  FROM tk
), feat AS (
  SELECT doc_id, n_words,
         ROUND(CASE WHEN n_words > 0
               THEN CAST(list_sum(list_transform(toks, x -> length(x)))
                         AS DOUBLE) / n_words
               ELSE 0.0 END, 4) AS mean_word_len,
         ROUND(CASE WHEN n_words > 0
               THEN CAST(len(list_filter(toks,
                        x -> regexp_matches(x, '^[a-z]+$'))) AS DOUBLE)
                    / n_words
               ELSE 0.0 END, 4) AS alpha_frac,
         len(list_intersect(list_distinct(toks),
             [{", ".join(f"'{w}'" for w in _GF_STOPWORDS)}]))
           AS distinct_stop_hits
  FROM base
)
SELECT doc_id, n_words, mean_word_len, alpha_frac, distinct_stop_hits,
       (n_words >= {_GF_MIN_WORDS} AND n_words <= {_GF_MAX_WORDS}
        AND mean_word_len >= {_GF_MIN_MEAN_WLEN}
        AND mean_word_len <= {_GF_MAX_MEAN_WLEN}
        AND alpha_frac >= {_GF_MIN_ALPHA_FRAC}
        AND distinct_stop_hits >= {_GF_MIN_STOP_HITS}) AS keep
FROM feat
"""


# --------------------------------------------------------------------------
# Dedup keeper selection (end-to-end: who survives dedup?)
# --------------------------------------------------------------------------

def docs_dedup_keepers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full dedup decision: normalize → fingerprint → keep min doc_id per
    fingerprint group. Output is each doc with its keeper — the shape a
    training-data pipeline materializes before filtering."""
    docs = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    fp = docs.select("doc_id", F.md5(norm).alias("fp"))
    w = Window.partitionBy("fp")
    return (fp.withColumn("keeper_doc_id", F.min("doc_id").over(w))
            .withColumn("is_dup", (F.col("doc_id") != F.col("keeper_doc_id"))
                        .cast("int"))
            .select("doc_id", "keeper_doc_id", "is_dup"))


_DEDUP_KEEPERS_SQL = """
SELECT doc_id,
       MIN(doc_id) OVER (PARTITION BY md5(regexp_replace(lower(trim(text)),
                                                         '\\s+', ' ', 'g')))
         AS keeper_doc_id,
       CAST(doc_id <> MIN(doc_id) OVER (
           PARTITION BY md5(regexp_replace(lower(trim(text)),
                                           '\\s+', ' ', 'g'))) AS INT)
         AS is_dup
FROM documents
"""


# --------------------------------------------------------------------------
# BPE-ish tokenization + rolling-hash fingerprint
# --------------------------------------------------------------------------

# GPT-2-style pre-tokenizer pattern, ASCII-restricted so the Java (Spark)
# and RE2 (DuckDB) dialects agree byte-for-byte on this corpus
_BPE_PAT = r"'(?:s|t|re|ve|m|ll|d)| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9\s]+|\s+"


def docs_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish pre-tokenizer regex (the unit a
    training pipeline budgets by) next to plain whitespace counts.
    JVM regexp — narrow map, zero shuffle."""
    docs = t(spark, sf_dir, "documents")
    bpe = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    ws = F.split(F.trim("text"), r"\s+")
    return docs.select(
        "doc_id",
        F.size(bpe).alias("n_bpe_tokens"),
        F.size(F.filter(bpe, lambda x: ~x.rlike(r"^\s+$")))
         .alias("n_bpe_nonspace"),
        F.when(F.length(F.trim("text")) == 0, F.lit(0))
         .otherwise(F.size(ws)).alias("n_ws_tokens"),
    )


_BPE_SQL_PAT = _BPE_PAT.replace("'", "''")
_BPE_COUNT_SQL = f"""
SELECT doc_id,
       len(regexp_extract_all(text, '{_BPE_SQL_PAT}', 0)) AS n_bpe_tokens,
       len(list_filter(regexp_extract_all(text, '{_BPE_SQL_PAT}', 0),
                       x -> NOT regexp_matches(x, '^\\s+$')))
         AS n_bpe_nonspace,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+'))
       END AS n_ws_tokens
FROM documents
"""

BPE_ARTIFACT = os.path.join(
    os.path.dirname(os.path.dirname(__file__)), "data",
    "bpe_merges_v1.json")
_BPE_RULE_PASSES = 4   # boundary-padded replace misses staggered
                       # occurrences; 4 exhaustive passes cover any
                       # pre-token up to ~2^4 repeats of one pair


def _bpe_model() -> dict:
    """The ranked merge table, loaded from a versioned artifact file
    through the same load-once path as the layout/OCR/CRF heads and
    the quality classifier's weight table. Like the classifier, the
    seam is DRIVER-side: merges become plan literals (the broadcast-
    equivalent for a rule table), so the tokenizer never enters a
    Python worker. Validates loudly — a malformed artifact must fail
    the job, not silently tokenize wrong."""
    from ocr_spark.core.artifacts import load_artifact

    model = load_artifact(BPE_ARTIFACT)
    if model.get("kind") != "bpe-merges":
        raise ValueError(
            f"bad BPE artifact {BPE_ARTIFACT}: kind="
            f"{model.get('kind')!r}, expected 'bpe-merges'")
    merges = model.get("merges")
    if (not isinstance(merges, list) or not merges
            or not all(isinstance(m, list) and len(m) == 2
                       and all(isinstance(s, str) and s and " " not in s
                               for s in m) for m in merges)):
        raise ValueError(
            f"bad BPE artifact {BPE_ARTIFACT}: 'merges' must be a "
            "non-empty list of [left, right] symbol pairs without "
            "spaces")
    if not isinstance(model.get("space_symbol"), str) \
            or len(model["space_symbol"]) != 1:
        raise ValueError(
            f"bad BPE artifact {BPE_ARTIFACT}: 'space_symbol' must be "
            "a single character")
    return model


def _bpe_count_one_col(tok: Column) -> Column:
    """BPE token count of ONE pre-token under the artifact merge
    table, as a JVM expression (the shared kernel of
    docs_bpe_merges_token_count and docs_tokenizer_fertility)."""
    model = _bpe_model()
    space = model["space_symbol"]
    sym = F.replace(tok, F.lit(" "), F.lit(space))
    s = F.concat(F.lit(" "),
                 F.array_join(F.split(sym, ""), " "),
                 F.lit(" "))
    for a, b in model["merges"]:
        for _ in range(_BPE_RULE_PASSES):
            s = F.replace(s, F.lit(f" {a} {b} "),
                          F.lit(f" {a}{b} "))
    return F.size(F.split(F.trim(s), " "))


def _bpe_sql_count_expr() -> str:
    """DuckDB mirror of _bpe_count_one_col over a pre-token ``x``."""
    model = _bpe_model()
    space = model["space_symbol"]
    expr = "' ' || array_to_string(string_split(" \
           f"replace(x, ' ', '{space}'), ''), ' ') || ' '"
    for a, b in model["merges"]:
        for _ in range(_BPE_RULE_PASSES):
            expr = f"replace({expr}, ' {a} {b} ', ' {a}{b} ')"
    return f"CAST(len(string_split(trim({expr}), ' ')) AS BIGINT)"


def docs_bpe_merges_token_count(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """REAL BPE token counting from the artifact merge table
    (bpe_merges_v1.json), one level up from docs_bpe_token_count's
    pre-tokenizer-only count: pre-tokenize with the GPT-2-style regex,
    map spaces to the Ġ space-symbol, split each pre-token into
    character symbols, then apply the ranked merges sequentially and
    exhaustively (rank order, each rule to fixpoint — the sequential
    variant of the BPE merge loop; symbol boundaries kept explicit by
    single-space joining with padded-boundary replace). Token count =
    surviving symbols per pre-token, summed per document.

    Scale shape: the merge table is a plan literal (driver-side
    artifact load, broadcast-equivalent — same seam as
    docs_classifier_score's weights), and the whole tokenizer is ONE
    narrow JVM map per document: transform over pre-tokens, chained
    replaces per rule, aggregate sum. Zero shuffles, zero Python
    workers at any corpus size."""
    docs = t(spark, sf_dir, "documents")
    pre = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    n_bpe = F.aggregate(F.transform(pre, _bpe_count_one_col),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x)
    n_chars = F.aggregate(
        F.transform(pre, lambda x: F.length(x)),
        F.lit(0).cast("bigint"), lambda acc, x: acc + x)
    return docs.select(
        "doc_id",
        F.size(pre).cast("long").alias("n_pretokens"),
        n_bpe.alias("n_bpe_tokens"),
        (n_chars - n_bpe).alias("n_merges_applied"))


def _bpe_merges_sql() -> str:
    cnt = _bpe_sql_count_expr()
    return f"""
WITH pre AS (
  SELECT doc_id,
         regexp_extract_all(text, '{_BPE_SQL_PAT}', 0) AS toks
  FROM documents
)
SELECT doc_id,
       CAST(len(toks) AS BIGINT) AS n_pretokens,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> {cnt})),
            (a, b) -> a + b) AS BIGINT) AS n_bpe_tokens,
       CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> CAST(length(x) AS BIGINT))),
            (a, b) -> a + b)
        - list_reduce(list_prepend(CAST(0 AS BIGINT),
              list_transform(toks, x -> {cnt})),
            (a, b) -> a + b) AS BIGINT) AS n_merges_applied
FROM pre
"""


FERTILITY_ROUND = 4


def docs_tokenizer_fertility(spark: SparkSession,
                             sf_dir: str) -> DataFrame:
    """Per-language tokenizer fertility — the multilingual-fairness
    metric (tokens per whitespace word; e.g. Rust et al. 2021, "How
    Good is Your Tokenizer?"): languages whose text fragments into
    more subword tokens pay more compute and context per word, so a
    training mixture is audited with exactly this table. Counts BPE
    tokens with the artifact merge table (the
    docs_bpe_merges_token_count kernel), aggregates per language:
    fertility = Σ bpe_tokens / Σ ws_words and chars_per_token =
    Σ chars / Σ bpe_tokens — exact integer sums divided once at the
    end, so the result is order-independent under any partitioning.

    Scale shape: narrow per-doc JVM map (the whole tokenizer is plan
    literals), then ONE partial-aggregated groupBy keyed lang (a
    handful of keys; map-side combine collapses nearly everything)."""
    docs = t(spark, sf_dir, "documents")
    pre = F.regexp_extract_all("text", F.lit(_BPE_PAT), 0)
    n_bpe = F.aggregate(F.transform(pre, _bpe_count_one_col),
                        F.lit(0).cast("bigint"),
                        lambda acc, x: acc + x)
    ws = F.split(F.trim("text"), r"\s+")
    n_words = F.when((F.size(ws) == 1) & (ws[0] == ""), F.lit(0)) \
               .otherwise(F.size(ws)).cast("bigint")
    per_doc = docs.select(
        "lang", n_bpe.alias("nb"), n_words.alias("nw"),
        F.length("text").cast("bigint").alias("nc"))
    return (per_doc.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("nw").alias("n_words"),
                 F.sum("nb").alias("n_bpe_tokens"),
                 F.round(F.sum("nb") / F.sum("nw"), FERTILITY_ROUND)
                  .alias("fertility"),
                 F.round(F.sum("nc") / F.sum("nb"), FERTILITY_ROUND)
                  .alias("chars_per_token")))


def _tokenizer_fertility_sql() -> str:
    cnt = _bpe_sql_count_expr()
    return f"""
WITH per_doc AS (
  SELECT lang,
         CAST(list_reduce(list_prepend(CAST(0 AS BIGINT),
                list_transform(regexp_extract_all(text,
                                                  '{_BPE_SQL_PAT}', 0),
                               x -> {cnt})),
              (a, b) -> a + b) AS BIGINT) AS nb,
         CAST(CASE WHEN trim(text) = '' THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+'))
              END AS BIGINT) AS nw,
         CAST(length(text) AS BIGINT) AS nc
  FROM documents
)
SELECT lang,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       CAST(SUM(nw) AS BIGINT) AS n_words,
       CAST(SUM(nb) AS BIGINT) AS n_bpe_tokens,
       round(CAST(SUM(nb) AS DOUBLE) / SUM(nw), {FERTILITY_ROUND})
           AS fertility,
       round(CAST(SUM(nc) AS DOUBLE) / SUM(nb), {FERTILITY_ROUND})
           AS chars_per_token
FROM per_doc GROUP BY lang
"""


BPE_TRAIN_ROUNDS = 6     # learned merge rules per training run
_BPE_SPACE = "Ġ"         # GPT-2 space symbol (== the artifact's
                         # space_symbol; training must produce rules in
                         # the alphabet the apply op consumes)


def docs_bpe_train_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge TRAINING (Sennrich, Haddow & Birch 2016) — the step
    that PRODUCES the ranked merge table docs_bpe_merges_token_count
    consumes from its artifact: pre-tokenize the corpus with the
    GPT-2-style regex, build the pre-token frequency table, then for
    BPE_TRAIN_ROUNDS rounds (a) count adjacent symbol pairs weighted
    by pre-token frequency (overlapping pairs counted, as in the
    reference implementation's zip(symbols, symbols[1:])), (b) pick
    the most frequent pair (ties: lexicographically smallest), (c)
    merge it everywhere. Merge application is byte-identical to the
    apply op's sequential padded-replace variant (_BPE_RULE_PASSES
    passes of boundary-padded replace), so a merge table trained here
    tokenizes identically when fed back through the artifact seam.

    Scale shape (100 TB): the ONLY corpus-sized work is the one
    pre-token groupBy that builds the frequency table — from there on
    every round runs over the VOCABULARY (pair explode + one
    vocab-bounded groupBy keyed (lhs, rhs)), which is why BPE training
    is tractable at all (SentencePiece/HF train single-node over
    exactly this table; this form keeps the counting distributed).
    The per-round argmax is a 1-row driver collect (the
    near_dup_clusters convergence discipline) whose value becomes a
    plan literal for the next round's narrow merge map;
    localCheckpoint truncates per-round lineage."""
    docs = t(spark, sf_dir, "documents")
    words = (docs.select(
                 F.explode(F.regexp_extract_all(
                     "text", F.lit(_BPE_PAT), 0)).alias("w"))
             .select(F.replace(F.col("w"), F.lit(" "),
                               F.lit(_BPE_SPACE)).alias("w"))
             .groupBy("w").agg(F.count(F.lit(1)).alias("freq")))
    syms0 = F.concat(F.lit(" "),
                     F.array_join(F.split("w", ""), " "),
                     F.lit(" "))
    cur = words.select("freq", syms0.alias("syms")) \
        .localCheckpoint(eager=False)
    merges = []
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        sy = F.split(F.trim("syms"), " ")
        pair_arr = F.when(
            F.size(sy) >= 2,
            F.transform(F.sequence(F.lit(0), F.size(sy) - 2),
                        lambda i: F.struct(
                            F.element_at(sy, i + 1).alias("lhs"),
                            F.element_at(sy, i + 2).alias("rhs"))),
        ).otherwise(F.array().cast(
            "array<struct<lhs:string,rhs:string>>"))
        best = (cur.select("freq", F.explode(pair_arr).alias("p"))
                .groupBy(F.col("p.lhs").alias("lhs"),
                         F.col("p.rhs").alias("rhs"))
                .agg(F.sum("freq").alias("cnt"))
                .orderBy(F.desc("cnt"), "lhs", "rhs")
                .limit(1).collect()[0])
        merges.append((r, best.lhs, best.rhs, int(best.cnt)))
        s = F.col("syms")
        for _ in range(_BPE_RULE_PASSES):
            s = F.replace(s, F.lit(f" {best.lhs} {best.rhs} "),
                          F.lit(f" {best.lhs}{best.rhs} "))
        cur = cur.select("freq", s.alias("syms")) \
            .localCheckpoint(eager=False)
    return spark.createDataFrame(
        merges, "merge_rank int, lhs string, rhs string, pair_count long")


def _bpe_train_sql() -> str:
    parts = [
        f"pre AS (SELECT unnest(regexp_extract_all(text, "
        f"'{_BPE_SQL_PAT}', 0)) AS w FROM documents)",
        f"words AS (SELECT replace(w, ' ', '{_BPE_SPACE}') AS w, "
        f"COUNT(*) AS freq FROM pre GROUP BY 1)",
        "w0 AS (SELECT freq, ' ' || array_to_string("
        "string_split(w, ''), ' ') || ' ' AS syms FROM words)",
    ]
    for r in range(1, BPE_TRAIN_ROUNDS + 1):
        parts.append(
            f"p{r} AS (\n"
            f"  SELECT sy[i] AS lhs, sy[i+1] AS rhs, SUM(freq) AS cnt\n"
            f"  FROM (SELECT freq, string_split(trim(syms), ' ') AS sy\n"
            f"        FROM w{r - 1}),\n"
            f"       LATERAL unnest(range(1, len(sy))) AS u(i)\n"
            f"  GROUP BY lhs, rhs)")
        parts.append(
            f"b{r} AS (SELECT {r} AS merge_rank, lhs, rhs, cnt\n"
            f"  FROM p{r} ORDER BY cnt DESC, lhs, rhs LIMIT 1)")
        repl = "syms"
        for _ in range(_BPE_RULE_PASSES):
            repl = (f"replace({repl}, ' ' || b.lhs || ' ' || b.rhs || ' ',"
                    f" ' ' || b.lhs || b.rhs || ' ')")
        parts.append(
            f"w{r} AS (SELECT freq, {repl} AS syms\n"
            f"  FROM w{r - 1} CROSS JOIN b{r} b)")
    union = " UNION ALL ".join(
        f"SELECT merge_rank, lhs, rhs, CAST(cnt AS BIGINT) AS pair_count"
        f" FROM b{r}" for r in range(1, BPE_TRAIN_ROUNDS + 1))
    return "WITH " + ",\n".join(parts) + "\n" + union


_RH_BASE = 31
_RH_MOD = 1_000_000_007


def docs_rolling_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Polynomial rolling-hash fingerprint (Rabin-Karp family) of the
    whitespace-normalized text: acc = acc*31 + ascii(c) mod 1e9+7.
    A single left fold — order-fixed, engine-agnostic, zero shuffle."""
    docs = t(spark, sf_dir, "documents")
    norm = F.regexp_replace(F.lower(F.trim("text")), r"\s+", " ")
    chars = F.split(norm, "")
    rh = F.aggregate(
        chars, F.lit(0).cast("bigint"),
        lambda acc, c: (acc * _RH_BASE + F.ascii(c)) % _RH_MOD)
    return docs.select("doc_id", rh.alias("rolling_hash"),
                       F.length(norm).alias("n_chars_norm"))


_ROLLING_HASH_SQL = f"""
WITH n AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
)
SELECT doc_id,
       CASE WHEN length(norm) = 0 THEN 0
            ELSE list_reduce(
                   list_prepend(CAST(0 AS BIGINT),
                     list_transform(string_split(norm, ''),
                                    c -> CAST(ascii(c) AS BIGINT))),
                   (a, b) -> (a * {_RH_BASE} + b) % {_RH_MOD})
       END AS rolling_hash,
       length(norm) AS n_chars_norm
FROM n
"""


CDC_W = 8      # rolling-window width (chars) for the boundary test
CDC_D = 32     # boundary divisor → expected chunk length ≈ CDC_D chars


def cdc_chunks_py(text: str | None) -> list[str]:
    """Content-defined chunks of the whitespace-normalized text —
    the single kernel behind docs_cdc_chunks' pandas UDF and the
    test mirror. Boundary after position p (1-based) iff the rolling
    hash of the trailing CDC_W chars ≡ 0 (mod CDC_D); the window
    hash comes from one O(n) prefix-hash pass:
    h(p) = (P_p − P_{p−W}·B^W) mod M with P_i = P_{i−1}·B + c_i."""
    import re as _re

    norm = _re.sub(r"\s+", " ", (text or "").lower().strip())
    n = len(norm)
    if n == 0:
        return []
    if n < CDC_W:
        return [norm]
    bw = pow(_RH_BASE, CDC_W, _RH_MOD)
    pref = [0] * (n + 1)
    for i, ch in enumerate(norm):
        pref[i + 1] = (pref[i] * _RH_BASE + ord(ch)) % _RH_MOD
    bnd = [p for p in range(CDC_W, n + 1)
           if (pref[p] - pref[p - CDC_W] * bw) % _RH_MOD % CDC_D == 0]
    starts = [0] + bnd
    ends = bnd + [n]
    return [norm[s:e] for s, e in zip(starts, ends) if s < e]


def docs_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking dedup (the Rabin/gear-CDC family of
    LBFS / rsync / storage dedup, applied to corpus text): chunk
    boundaries are placed where the rolling hash of the trailing
    CDC_W-char window ≡ 0 (mod CDC_D), so boundaries move WITH the
    content — an insertion near the head of a document shifts only
    the chunks it touches, and every identical run downstream still
    cuts at the identical positions and hashes to the identical
    chunks. That insertion-robustness is exactly what byte-offset
    (fixed-size-block) dedup lacks, and it is a different axis from
    the doc/paragraph/span dedup families above: CDC sees REUSE of
    content regions across otherwise-different documents. Per doc:
    chunk count, mean chunk length, and the fraction of its chunks
    whose content also appears in ANOTHER document (dup_chunk_frac —
    the transfer/storage saving a chunk-store would realize).

    Scale shape: boundary detection and chunk slicing are a per-row
    Arrow-batched kernel (zero shuffle); the only exchanges are the
    chunk-hash groupBy (distinct-chunk cardinality, partial-
    aggregated) and the doc_id rollup — the same two-exchange shape
    as pages_para_dedup, one level finer.

    Why a pandas UDF when this file preaches JVM expressions: the
    expression formulation (per-position slice + aggregate fold over
    a HigherOrderFunction chain) is CodegenFallback — measured 133 s
    for this query alone at sf0.1/local[32]; the kernel below
    computes the identical boundaries with an O(n) incremental
    prefix-hash pass per document (h(window p) = P_p − P_{p−W}·B^W
    mod M) — the same justification, and the same parity discipline,
    as _minhash_vec's hashlib loop. Semantics are pinned by the
    DuckDB oracle value-for-value and by the pure-Python mirror in
    tests."""
    docs = t(spark, sf_dir, "documents")

    @F.pandas_udf("array<string>")
    def cdc_udf(texts: pd.Series) -> pd.Series:
        return texts.map(cdc_chunks_py)

    exploded = (docs.select("doc_id", cdc_udf("text").alias("cts"))
                .select("doc_id", F.explode("cts").alias("chunk"))
                .select("doc_id", F.md5("chunk").alias("ch"),
                        F.length("chunk").alias("clen")))
    shared = (exploded.groupBy("ch")
              .agg(F.countDistinct("doc_id").alias("ndocs")))
    j = exploded.join(shared, "ch")
    agg = j.groupBy("doc_id").agg(
        F.count("*").alias("n_chunks"),
        F.round(F.avg("clen"), 4).alias("mean_chunk_len"),
        F.sum((F.col("ndocs") >= 2).cast("long")).alias("n_dup_chunks"))
    return agg.select(
        "doc_id", "n_chunks", "mean_chunk_len", "n_dup_chunks",
        F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 6)
         .alias("dup_chunk_frac"))


_CDC_SQL = f"""
WITH nrm AS (
  SELECT doc_id,
         regexp_replace(lower(trim(text)), '\\s+', ' ', 'g') AS norm
  FROM documents
), base AS (
  SELECT doc_id, norm, length(norm) AS n,
         string_split(norm, '') AS chars
  FROM nrm
), bnds AS (
  SELECT doc_id, norm, n,
         list_filter(range(CAST({CDC_W} AS BIGINT), CAST(n + 1 AS BIGINT)),
           p -> list_reduce(
                  list_prepend(CAST(0 AS BIGINT),
                    list_transform(
                      list_slice(chars, CAST(p AS INT) - {CDC_W - 1},
                                 CAST(p AS INT)),
                      c -> CAST(ascii(c) AS BIGINT))),
                  (a, x) -> (a * {_RH_BASE} + x) % {_RH_MOD})
                % {CDC_D} = 0) AS bnd
  FROM base
), spans AS (
  SELECT doc_id, norm,
         list_zip(
           list_prepend(CAST(1 AS BIGINT),
                        list_transform(bnd, p -> p + 1)),
           list_append(bnd, CAST(n AS BIGINT))) AS se
  FROM bnds
), chunks AS (
  SELECT doc_id,
         md5(substring(norm, CAST(u.c[1] AS INT),
             CAST(u.c[2] - u.c[1] + 1 AS INT))) AS ch,
         CAST(u.c[2] - u.c[1] + 1 AS BIGINT) AS clen
  FROM spans, unnest(se) AS u(c)
  WHERE u.c[1] <= u.c[2]
), shared AS (
  SELECT ch, COUNT(DISTINCT doc_id) AS ndocs FROM chunks GROUP BY ch
), agg AS (
  SELECT c.doc_id,
         CAST(COUNT(*) AS BIGINT) AS n_chunks,
         round(AVG(clen), 4) AS mean_chunk_len,
         CAST(SUM(CASE WHEN s.ndocs >= 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_dup_chunks
  FROM chunks c JOIN shared s USING (ch)
  GROUP BY c.doc_id
)
SELECT doc_id, n_chunks, mean_chunk_len, n_dup_chunks,
       round(n_dup_chunks / CAST(n_chunks AS DOUBLE), 6)
         AS dup_chunk_frac
FROM agg
"""


# --------------------------------------------------------------------------
# Python UDTF: sentence explosion
# --------------------------------------------------------------------------

_SENT_PAT = r"[^.]+(?:\.|$)"


def docs_sentences_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence explosion via a Python UDTF (the generator-shaped UDF
    surface): one doc row → N (sent_idx, sentence) rows through a
    LATERAL join. The per-row regex is identical to the DuckDB oracle's
    so values match exactly."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="sent_idx int, sentence string")
    class SplitSentences:
        def eval(self, text: str):
            import re as _re
            i = 0
            for s in _re.findall(_SENT_PAT, text or ""):
                s = s.strip()
                if s:
                    yield i, s
                    i += 1

    spark.udtf.register("split_sentences", SplitSentences)
    docs = t(spark, sf_dir, "documents")
    docs.createOrReplaceTempView("_docs_for_udtf")
    return spark.sql(
        "SELECT doc_id, s.sent_idx, s.sentence "
        "FROM _docs_for_udtf, LATERAL split_sentences(text) s")


_SENTENCES_SQL = r"""
WITH s AS (
  SELECT doc_id,
         list_filter(list_transform(
             regexp_extract_all(text, '[^.]+(\.|$)', 0), x -> trim(x)),
           x -> x <> '') AS sents
  FROM documents
), idx AS (
  SELECT doc_id, sents, unnest(range(1, len(sents) + 1)) AS i FROM s
)
SELECT doc_id, CAST(i - 1 AS INT) AS sent_idx, sents[i] AS sentence
FROM idx
"""


# --------------------------------------------------------------------------
# corpus-level boilerplate-phrase mining (top n-grams per language)
# --------------------------------------------------------------------------

TOP_NGRAMS_K = 10


def docs_top_ngrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K word bigrams per language — the phrase table
    behind boilerplate-blocklist construction (the C4/RefinedWeb recipe
    mines the corpus's most frequent n-grams, reviews the head, and
    filters docs dominated by them; docs_repetition_metrics is the
    per-doc consumer of exactly these phrases).

    Scale shape: the explode is narrow; the groupBy(lang, gram) partial
    aggregation combines map-side so the shuffle carries distinct-gram
    volume, not token volume; n_docs rides the same key via a
    (doc-level distinct first) two-step; the final top-K window
    partitions by lang over an already-aggregated table whose size is
    the distinct-gram count."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    exploded = docs.select("doc_id", "lang", F.explode(grams).alias("gram"))
    # per-(doc, gram) first: n_in_doc partial-aggregates map-side, and
    # the doc-distinct count then needs no expensive count_distinct
    per_doc = (exploded.groupBy("lang", "gram", "doc_id")
               .agg(F.count(F.lit(1)).alias("n_in_doc")))
    agg = (per_doc.groupBy("lang", "gram")
           .agg(F.sum("n_in_doc").alias("n_occurrences"),
                F.count(F.lit(1)).alias("n_docs")))
    w = Window.partitionBy("lang").orderBy(
        F.desc("n_occurrences"), F.asc("gram"))
    return (agg.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TOP_NGRAMS_K)
            .select("lang", "gram", "n_occurrences", "n_docs", "rank"))


_TOP_NGRAMS_SQL = f"""
WITH toks AS (
  SELECT doc_id, lang, {_SQL_TOKENS} AS tk FROM documents
), grams AS (
  SELECT doc_id, lang, tk[i] || ' ' || tk[i+1] AS gram
  FROM toks, LATERAL unnest(range(1, len(tk))) AS g(i)
  WHERE len(tk) >= 2
), per_doc AS (
  SELECT lang, gram, doc_id, COUNT(*) AS n_in_doc
  FROM grams GROUP BY lang, gram, doc_id
), agg AS (
  SELECT lang, gram,
         CAST(SUM(n_in_doc) AS BIGINT) AS n_occurrences,
         CAST(COUNT(*) AS BIGINT) AS n_docs
  FROM per_doc GROUP BY lang, gram
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY n_occurrences DESC, gram ASC) AS rank
  FROM agg
)
SELECT lang, gram, n_occurrences, n_docs, rank
FROM ranked WHERE rank <= {TOP_NGRAMS_K}
"""


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

PMI_MIN_COUNT = 3   # bigram support floor (PMI is degenerate at count 1)
PMI_TOP_K = 30


def docs_collocations_pmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-wide top-K collocations per language by pointwise mutual
    information — the association-scored complement of
    ``docs_top_ngrams``: raw frequency surfaces boilerplate stopword
    pairs ("of the"), PMI surfaces the genuinely bound phrases
    (pmi = log2(p(w1,w2) / (p(w1)·p(w2))), Church & Hanks 1990), the
    signal phrase-table builders and tokenizer-merge audits actually
    want. A support floor (count ≥ {PMI_MIN_COUNT}) excludes the
    classic hapax-pair degeneracy where PMI is maximal for anything
    seen once.

    The score is published as integer ``pmi_micro`` (round(pmi·1e6))
    and ranked on that plus the word pair, so both engines rank and
    hash exact integers — cross-engine libm drift in log2 is ~1 ulp,
    far below the micro quantum (same convention as docs_tfidf_topk).

    Scale shape: both count tables partial-aggregate map-side, so the
    two shuffles carry distinct-unigram / distinct-bigram volume, not
    token volume; per-language totals are lang-cardinality aggregates
    broadcast to the join; the unigram table joins the bigram table
    keyed (lang, word) twice — aggregate-vs-aggregate, hot stopword
    keys carry counts, not rows; the final top-K window partitions by
    lang over the support-filtered aggregate."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    uni = (docs.select("lang", F.explode(toks).alias("w"))
           .groupBy("lang", "w").agg(F.count(F.lit(1)).alias("cu")))
    nu = uni.groupBy("lang").agg(F.sum("cu").alias("nu"))
    pairs = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.struct(F.get(toks, i).alias("w1"),
                                       F.get(toks, i + 1).alias("w2"))),
    ).otherwise(F.array().cast("array<struct<w1:string,w2:string>>"))
    bi = (docs.select("lang", F.explode(pairs).alias("p"))
          .select("lang", "p.w1", "p.w2")
          .groupBy("lang", "w1", "w2").agg(F.count(F.lit(1)).alias("cb")))
    nb = bi.groupBy("lang").agg(F.sum("cb").alias("nb"))
    u1 = uni.select("lang", F.col("w").alias("w1"), F.col("cu").alias("cu1"))
    u2 = uni.select("lang", F.col("w").alias("w2"), F.col("cu").alias("cu2"))
    scored = (bi.filter(F.col("cb") >= PMI_MIN_COUNT)
              .join(F.broadcast(nb), "lang")
              .join(F.broadcast(nu), "lang")
              .join(u1, ["lang", "w1"])
              .join(u2, ["lang", "w2"]))
    pmi = F.log2((F.col("cb") / F.col("nb"))
                 / ((F.col("cu1") / F.col("nu"))
                    * (F.col("cu2") / F.col("nu"))))
    scored = scored.select(
        "lang", "w1", "w2", F.col("cb").alias("n_occurrences"),
        F.round(pmi * 1e6).cast("long").alias("pmi_micro"))
    w = Window.partitionBy("lang").orderBy(
        F.desc("pmi_micro"), F.asc("w1"), F.asc("w2"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= PMI_TOP_K))


_COLLOCATIONS_PMI_SQL = f"""
WITH toks AS (
  SELECT lang, {_SQL_TOKENS} AS tk FROM documents
), uni AS (
  SELECT lang, u.w AS w, COUNT(*) AS cu
  FROM toks, LATERAL unnest(tk) AS u(w) GROUP BY lang, u.w
), nu AS (
  SELECT lang, SUM(cu) AS nu FROM uni GROUP BY lang
), bi AS (
  SELECT lang, tk[i] AS w1, tk[i+1] AS w2, COUNT(*) AS cb
  FROM toks, LATERAL unnest(range(1, len(tk))) AS g(i)
  WHERE len(tk) >= 2 GROUP BY lang, tk[i], tk[i+1]
), nb AS (
  SELECT lang, SUM(cb) AS nb FROM bi GROUP BY lang
), scored AS (
  SELECT b.lang, b.w1, b.w2, b.cb AS n_occurrences,
         CAST(round(log2((CAST(b.cb AS DOUBLE) / nb.nb) /
              ((CAST(u1.cu AS DOUBLE) / nu.nu) *
               (CAST(u2.cu AS DOUBLE) / nu.nu))) * 1e6) AS BIGINT)
             AS pmi_micro
  FROM bi b
  JOIN nb ON nb.lang = b.lang
  JOIN nu ON nu.lang = b.lang
  JOIN uni u1 ON u1.lang = b.lang AND u1.w = b.w1
  JOIN uni u2 ON u2.lang = b.lang AND u2.w = b.w2
  WHERE b.cb >= {PMI_MIN_COUNT}
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY pmi_micro DESC, w1 ASC, w2 ASC) AS rank
  FROM scored
)
SELECT lang, w1, w2, n_occurrences, pmi_micro, rank
FROM ranked WHERE rank <= {PMI_TOP_K}
"""


# ---------------------------------------------------------------------------
# TF-IDF keyword extraction
# ---------------------------------------------------------------------------

TFIDF_TOP_K = 3


def _tfidf_per_doc(docs: DataFrame) -> DataFrame:
    """(doc_id, term, tf): the corpus's per-document term profile —
    one token-volume explode partial-aggregated map-side into per-doc
    distinct terms before the shuffle."""
    return (docs.select("doc_id", F.explode(_tokens()).alias("term"))
            .groupBy("doc_id", "term")
            .agg(F.count(F.lit(1)).alias("tf")))


def docs_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-K keywords by TF-IDF — the classic corpus
    statistic behind keyword/topic summaries and per-domain descriptors
    in corpus data cards (Dodge et al. 2021 document C4 this way).

    score = tf * ln(N / df) with tf = term count in the doc, df = number
    of docs containing the term, N = corpus size. The score is published
    as an integer ``score_micro`` (round(score * 1e6)) so both engines
    rank and hash on exact integers — cross-engine libm drift in ``ln``
    is ~1 ulp, far below the micro quantum.

    Scale shape: explode is narrow; groupBy(doc_id, term) partial-
    aggregates map-side so the shuffle carries per-doc distinct terms,
    not token volume; df rides a second groupBy over that (distinct-term
    sized); the df table joins back on term (hot terms are counts, not
    rows — AQE handles residual skew); N broadcasts as a 1-row frame;
    the top-K window partitions by doc_id, which is already the join
    output's key.

    The per-doc term profile feeds BOTH the probe side and the df
    rollup; without materialization Spark would tokenize the corpus
    twice (column pruning makes the two subtrees non-identical, so
    exchange reuse cannot kick in — verified on the physical plan).
    localCheckpoint materializes it once, the same pattern
    docs_near_dup_clusters uses for its iteration state. The window-
    by-term alternative would be single-pass without a checkpoint but
    puts every row of a stopword term in one partition — a skew
    killer at corpus scale, rejected."""
    docs = t(spark, sf_dir, "documents")
    per_doc = _tfidf_per_doc(docs).localCheckpoint()
    df_tbl = per_doc.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    n_docs = docs.select(F.count(F.lit(1)).alias("n_corpus"))
    scored = (per_doc.join(df_tbl, "term")
              .crossJoin(F.broadcast(n_docs))
              .withColumn(
                  "score_micro",
                  F.round(F.col("tf") * F.log(F.col("n_corpus")
                                              / F.col("df")) * 1e6)
                  .cast("long")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("term"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= TFIDF_TOP_K)
            .select("doc_id", "term", "tf", "df", "score_micro", "rank"))


_TFIDF_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
), per_doc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
), df_tbl AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM per_doc GROUP BY term
), n AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM documents
), scored AS (
  SELECT p.doc_id, p.term, p.tf, d.df,
         CAST(ROUND(p.tf * ln(n.n_corpus / d.df) * 1e6) AS BIGINT)
             AS score_micro
  FROM per_doc p JOIN df_tbl d USING (term), n
), ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY score_micro DESC, term ASC) AS rank
  FROM scored
)
SELECT doc_id, term, tf, df, score_micro, rank
FROM ranked WHERE rank <= {TFIDF_TOP_K}
"""


# --------------------------------------------------------------------------
# Inverted-index export (posting lists)
# --------------------------------------------------------------------------

POSTINGS_HEAD = 20   # posting-list head length in the export


def docs_inverted_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-side inverted-index export: per term, document frequency
    df, corpus frequency cf, and the HEAD of the doc_id-sorted posting
    list encoded ``doc:tf,doc:tf,…`` (a deterministic string on both
    engines — struct-array hashing is engine-specific), with
    n_overflow counting postings beyond the head. This is the artifact
    a crawl pipeline hands to the index-serving tier (CC's columnar
    index plays this role for URLs; this is the term-level analogue).

    Scale shape: the token-volume explode partial-aggregates map-side
    into per-doc DISTINCT terms before any exchange (shared
    _tfidf_per_doc frame); the term rollup is ONE exchange keyed term.
    Stopword skew is real at corpus scale — one term's postings all
    meet in one task — which is why the export caps the inline head at
    {POSTINGS_HEAD} and production shards full posting lists into
    (term, doc_id-range) bucket files instead of one row per term; the
    head+overflow form here is the oracle-checkable fixture shape."""
    per_doc = _tfidf_per_doc(t(spark, sf_dir, "documents"))
    head = F.concat_ws(",", F.transform(
        F.slice(F.sort_array(F.collect_list(F.struct("doc_id", "tf"))),
                1, POSTINGS_HEAD),
        lambda s: F.concat(s["doc_id"].cast("string"), F.lit(":"),
                           s["tf"].cast("string"))))
    return (per_doc.groupBy("term")
            .agg(F.count(F.lit(1)).cast("long").alias("df"),
                 F.sum("tf").cast("long").alias("cf"),
                 head.alias("postings_head"))
            .withColumn("n_overflow",
                        F.greatest(F.col("df") - POSTINGS_HEAD,
                                   F.lit(0)).cast("long")))


_INVERTED_INDEX_SQL = f"""
WITH toks AS (
  SELECT doc_id, unnest({_SQL_TOKENS}) AS term FROM documents
), per_doc AS (
  SELECT doc_id, term, CAST(COUNT(*) AS BIGINT) AS tf
  FROM toks GROUP BY doc_id, term
)
SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
       CAST(SUM(tf) AS BIGINT) AS cf,
       array_to_string(list_slice(
         list(CAST(doc_id AS VARCHAR) || ':' || CAST(tf AS VARCHAR)
              ORDER BY doc_id), 1, {POSTINGS_HEAD}), ',')
         AS postings_head,
       CAST(greatest(COUNT(*) - {POSTINGS_HEAD}, 0) AS BIGINT)
         AS n_overflow
FROM per_doc GROUP BY term
"""


# --------------------------------------------------------------------------
# winnowing fingerprints (Schleimer et al. 2003 / MOSS)
# --------------------------------------------------------------------------

WINNOW_W = 4         # window over consecutive k-gram hashes
WINNOW_HEAD = 5      # fingerprints published inline per doc


def docs_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer, Wilkerson & Aiken
    2003 — the MOSS algorithm): hash every word {SHINGLE_W}-gram, then
    keep the MINIMUM hash of each window of {WINNOW_W} consecutive
    k-gram hashes. The selection guarantee — any shared run of at
    least {WINNOW_W + SHINGLE_W - 1} words produces a shared
    fingerprint — is what distinguishes winnowing from random
    sampling (docs_fingerprint's rolling hash samples with no match
    guarantee), at an expected density of 2/(w+1).

    Hashes stay HEX STRINGS end to end (lexicographic min) — no
    base-16 integer conversion, the same portability rule as the
    sketch family. Per doc: k-gram count, selected-fingerprint count,
    observed density (expectation ≈ {2 / (WINNOW_W + 1):.2f}), and
    the first {WINNOW_HEAD} fingerprints in sort order.

    Scale shape: entirely narrow — per-row array ops, zero shuffle
    (plan-gated); the fingerprint-index join this feeds is the
    containment/substring families' capped-bucket shape."""
    toks = _tokens()
    hashes = F.transform(_shingles(toks), lambda s: F.md5(s))
    n = F.size(hashes)
    mins = F.when(
        n >= WINNOW_W,
        F.transform(F.sequence(F.lit(1), n - WINNOW_W + 1),
                    lambda i: F.array_min(F.slice(hashes, i, WINNOW_W)))
    ).otherwise(F.array().cast("array<string>"))
    sel = F.array_sort(F.array_distinct(mins))
    return (t(spark, sf_dir, "documents")
            .select("doc_id",
                    n.cast("long").alias("n_kgrams"),
                    F.size(sel).cast("long").alias("n_selected"),
                    F.when(n >= WINNOW_W,
                           F.round(F.size(sel) / n, 4)).alias("density"),
                    F.concat_ws(",", F.slice(sel, 1, WINNOW_HEAD))
                    .alias("fp_head")))


_WINNOWING_SQL = f"""
WITH g AS (
  SELECT doc_id,
         list_transform({_SQL_SHINGLES}, s -> md5(s)) AS h
  FROM documents
), sel AS (
  SELECT doc_id, len(h) AS n_kgrams,
         CASE WHEN len(h) >= {WINNOW_W}
              THEN list_sort(list_distinct(list_transform(
                     range(1, len(h) - {WINNOW_W} + 2),
                     i -> list_min(list_slice(h, i,
                                              i + {WINNOW_W} - 1)))))
              ELSE [] END AS fps
  FROM g
)
SELECT doc_id, CAST(n_kgrams AS BIGINT) AS n_kgrams,
       CAST(len(fps) AS BIGINT) AS n_selected,
       CASE WHEN n_kgrams >= {WINNOW_W}
            THEN ROUND(len(fps) / CAST(n_kgrams AS DOUBLE), 4)
            END AS density,
       array_to_string(list_slice(fps, 1, {WINNOW_HEAD}), ',')
         AS fp_head
FROM sel
"""


# --------------------------------------------------------------------------
# shingle containment (quote / partial-inclusion detection)
# --------------------------------------------------------------------------

CONTAIN_MIN = 0.8    # report pairs where the smaller side is ≥80% inside
CONTAIN_CAP = 20     # shingles shared by more docs are boilerplate: drop
_QUOTE_TOKENS = 17   # quote fixture: first 17 tokens → 15 shingles


def docs_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment detection (Broder 1997's SECOND measure): a short
    document quoted inside a long one has near-zero resemblance
    (Jaccard over the union) but containment |A∩B|/|A| ≈ 1 — the
    near-dup family's MinHash/Jaccard path is blind to exactly this
    case, which is why quote/excerpt detection needs its own operator.
    Candidates come from a shared-shingle equi-join (a shingle shared
    by more than {CONTAIN_CAP} docs is boilerplate and dropped BEFORE
    the self-join — the same cap discipline as the LSH buckets), then
    exact containment is computed on the candidates' distinct shingle
    sets, reporting pairs where either side is ≥{CONTAIN_MIN}
    contained.

    Fixture: docs with ``doc_id % 10 == 4`` additionally publish a
    QUOTE doc (id + 100000) holding their own first {_QUOTE_TOKENS}
    tokens — containment 1.0 at Jaccard ≈ 15/n, closed-form for the
    oracle. Random cross-doc shingle overlap sits far below the
    threshold, so the report is exactly the quote pairs.

    Scale shape: explode → one window keyed shingle hash (cap) → the
    bucket self-join is bounded by CAP² per shingle → distinct pairs
    → two linear gram joins keyed doc id. Candidate-driven exactly
    like docs_jaccard_verify_candidates."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    quotes = (docs.filter(F.col("doc_id") % 10 == 4)
              .select((F.col("doc_id") + 100000).alias("doc_id"),
                      F.concat_ws(" ", F.slice(_tokens(), 1,
                                               _QUOTE_TOKENS))
                      .alias("text")))
    corpus = docs.unionByName(quotes)
    grams = (corpus.select(
        "doc_id", F.array_distinct(_shingles(_tokens())).alias("grams"))
        .filter(F.size("grams") > 0))
    sh = grams.select("doc_id", F.explode("grams").alias("s")) \
        .select("doc_id", F.md5("s").alias("h"))
    wcap = Window.partitionBy("h")
    capped = (sh.withColumn("n", F.count(F.lit(1)).over(wcap))
              .filter(F.col("n") <= CONTAIN_CAP).drop("n"))
    a, b = capped.alias("a"), capped.alias("b")
    cands = (a.join(b, "h")
             .filter(F.col("a.doc_id") < F.col("b.doc_id"))
             .select(F.col("a.doc_id").alias("doc_a"),
                     F.col("b.doc_id").alias("doc_b"))
             .distinct())
    ga = grams.select(F.col("doc_id").alias("doc_a"),
                      F.col("grams").alias("ga"))
    gb = grams.select(F.col("doc_id").alias("doc_b"),
                      F.col("grams").alias("gb"))
    j = cands.join(ga, "doc_a").join(gb, "doc_b")
    inter = F.size(F.array_intersect("ga", "gb"))
    union = F.size(F.array_union("ga", "gb"))
    contain = F.greatest(inter / F.size("ga"), inter / F.size("gb"))
    return (j.select("doc_a", "doc_b",
                     F.size("ga").cast("long").alias("n_a"),
                     F.size("gb").cast("long").alias("n_b"),
                     inter.cast("long").alias("n_shared"),
                     F.round(contain, 4).alias("containment"),
                     F.round(inter / union, 4).alias("jaccard"))
            .filter(F.col("containment") >= CONTAIN_MIN))


_CONTAINMENT_SQL = f"""
WITH base AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + 100000,
         array_to_string(list_slice({_SQL_TOKENS}, 1, {_QUOTE_TOKENS}),
                         ' ')
  FROM documents WHERE doc_id % 10 = 4
), grams AS (
  SELECT doc_id, list_distinct({_SQL_SHINGLES}) AS g
  FROM base WHERE len(list_distinct({_SQL_SHINGLES})) > 0
), sh AS (
  SELECT doc_id, md5(unnest(g)) AS h FROM grams
), capped AS (
  SELECT doc_id, h FROM (
    SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS n FROM sh
  ) WHERE n <= {CONTAIN_CAP}
), cands AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM capped a JOIN capped b ON a.h = b.h AND a.doc_id < b.doc_id
), j AS (
  SELECT c.doc_a, c.doc_b, ga.g AS ga, gb.g AS gb
  FROM cands c
  JOIN grams ga ON ga.doc_id = c.doc_a
  JOIN grams gb ON gb.doc_id = c.doc_b
)
SELECT doc_a, doc_b,
       CAST(len(ga) AS BIGINT) AS n_a, CAST(len(gb) AS BIGINT) AS n_b,
       CAST(len(list_intersect(ga, gb)) AS BIGINT) AS n_shared,
       ROUND(greatest(len(list_intersect(ga, gb))
                        / CAST(len(ga) AS DOUBLE),
                      len(list_intersect(ga, gb))
                        / CAST(len(gb) AS DOUBLE)), 4) AS containment,
       ROUND(len(list_intersect(ga, gb))
             / CAST(len(list_distinct(ga || gb)) AS DOUBLE), 4)
         AS jaccard
FROM j
WHERE greatest(len(list_intersect(ga, gb)) / CAST(len(ga) AS DOUBLE),
               len(list_intersect(ga, gb)) / CAST(len(gb) AS DOUBLE))
      >= {CONTAIN_MIN!r}
"""


# --------------------------------------------------------------------------
# character-entropy garble signal
# --------------------------------------------------------------------------

ENTROPY_PREFIX = 400     # chars analysed per doc (bounded per-row work)
ENTROPY_LOW_MICRO = 2_000_000    # < 2.0 nats: repeated-char junk
ENTROPY_HIGH_MICRO = 4_500_000   # > 4.5 nats: random-byte garble


def docs_char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-entropy garble detection: Shannon entropy (nats) of
    the character distribution over each document's first
    {ENTROPY_PREFIX} chars. Both tails are damage signals — near-zero
    entropy is repeated-character filler, abnormally high entropy is
    random-byte / failed-decode garble — and the prefix cap is the
    production form (a garbled doc is garbled in its first page;
    unbounded per-row work is what kills char-level signals at
    100 TB). Published as integer micro-nats from exact per-char
    integer counts (H = ln N − Σ n_c·ln n_c / N), the same
    cross-engine discipline as docs_unigram_logprob.

    Scale shape: the char explode is BOUNDED at {ENTROPY_PREFIX}
    rows/doc; the (doc, char) rollup partial-aggregates map-side into
    per-doc alphabet rows (≤ charset size) before the exchange, and
    the per-doc fold rides a second doc-keyed exchange. NULL/empty
    text is excluded (nothing to measure), mirrored in the oracle."""
    docs = (t(spark, sf_dir, "documents")
            .filter(F.length("text") > 0))
    chars = docs.select(
        "doc_id",
        F.explode(F.transform(
            F.sequence(F.lit(1),
                       F.least(F.length("text"), F.lit(ENTROPY_PREFIX))),
            lambda i: F.substr(F.col("text"), i, F.lit(1)))).alias("ch"))
    cc = (chars.groupBy("doc_id", "ch")
          .agg(F.count(F.lit(1)).cast("long").alias("n_c")))
    per = (cc.groupBy("doc_id")
           .agg(F.sum("n_c").cast("long").alias("n_chars"),
                F.count(F.lit(1)).cast("long").alias("n_distinct_chars"),
                F.sum(F.col("n_c") * F.log("n_c")).alias("s")))
    ent = F.round((F.log("n_chars") - F.col("s") / F.col("n_chars"))
                  * 1e6).cast("long")
    return per.select(
        "doc_id", "n_chars", "n_distinct_chars",
        ent.alias("entropy_micro"),
        F.when(ent < ENTROPY_LOW_MICRO, F.lit("low"))
         .when(ent > ENTROPY_HIGH_MICRO, F.lit("high"))
         .otherwise(F.lit("normal")).alias("entropy_band"))


_CHAR_ENTROPY_SQL = f"""
WITH chars AS (
  SELECT doc_id, substr(text, g.i, 1) AS ch
  FROM documents CROSS JOIN
       (SELECT unnest(range(1, {ENTROPY_PREFIX + 1})) AS i) g
  WHERE length(text) > 0 AND g.i <= least(length(text), {ENTROPY_PREFIX})
), cc AS (
  SELECT doc_id, ch, CAST(COUNT(*) AS BIGINT) AS n_c
  FROM chars GROUP BY 1, 2
), per AS (
  SELECT doc_id, CAST(SUM(n_c) AS BIGINT) AS n_chars,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_chars,
         SUM(n_c * ln(n_c)) AS s
  FROM cc GROUP BY doc_id
)
SELECT doc_id, n_chars, n_distinct_chars,
       CAST(ROUND((ln(n_chars) - s / n_chars) * 1e6) AS BIGINT)
         AS entropy_micro,
       CASE WHEN ROUND((ln(n_chars) - s / n_chars) * 1e6)
                 < {ENTROPY_LOW_MICRO} THEN 'low'
            WHEN ROUND((ln(n_chars) - s / n_chars) * 1e6)
                 > {ENTROPY_HIGH_MICRO} THEN 'high'
            ELSE 'normal' END AS entropy_band
FROM per
"""


# --------------------------------------------------------------------------
# Quality-aware keeper election within near-dup clusters
# --------------------------------------------------------------------------

def docs_near_dup_quality_keepers(spark: SparkSession,
                                  sf_dir: str) -> DataFrame:
    """Quality-aware keeper election — "keep the BEST copy, not the
    first": within each verified near-dup cluster
    (docs_near_dup_clusters), the survivor is the member with the
    highest model quality score (docs_classifier_score), ties broken
    to the lowest doc_id. Min-id election (the default in
    docs_dedup_keepers / near_dup_clusters) is arbitrary w.r.t.
    content; when near-dups differ — a clean copy vs one with
    residual boilerplate or truncation — electing by quality measurably
    improves the kept corpus (the Dolma/FineWeb dedup ablations keep
    the longest/highest-scored representative). ``keeper_changed``
    exposes exactly where the two policies disagree.

    Scale shape: the cluster table is bounded by the verified-pair doc
    set (LSH-capped), the score join is keyed doc_id, and the election
    window is keyed cluster_id — no corpus-sized work beyond what the
    two inputs already did."""
    from ocr_spark.plans.curation import docs_classifier_score

    clusters = docs_near_dup_clusters(spark, sf_dir) \
        .select("doc_id", "cluster_id")
    scores = docs_classifier_score(spark, sf_dir) \
        .select("doc_id", "score")
    m = clusters.join(scores, "doc_id")
    w = Window.partitionBy("cluster_id") \
        .orderBy(F.desc("score"), F.asc("doc_id"))
    elected = (m.withColumn("rn", F.row_number().over(w))
               .withColumn("quality_keeper_doc_id",
                           F.first("doc_id").over(
                               w.rowsBetween(Window.unboundedPreceding,
                                             Window.unboundedFollowing))))
    return elected.select(
        "doc_id", "cluster_id", "score",
        "quality_keeper_doc_id",
        (F.col("doc_id") == F.col("quality_keeper_doc_id"))
         .alias("is_quality_keeper"),
        (F.col("quality_keeper_doc_id") != F.col("cluster_id"))
         .alias("keeper_changed"),
    )


def _quality_keepers_sql() -> str:
    from ocr_spark.plans.curation import _classifier_sql

    return f"""
WITH clusters AS (
{_NEAR_DUP_CLUSTERS_SQL}
), scores AS (
{_classifier_sql()}
), m AS (
  SELECT c.doc_id, c.cluster_id, s.score
  FROM clusters c JOIN scores s USING (doc_id)
), elected AS (
  SELECT doc_id, cluster_id, score,
         FIRST_VALUE(doc_id) OVER (
             PARTITION BY cluster_id
             ORDER BY score DESC, doc_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
           AS quality_keeper_doc_id
  FROM m
)
SELECT doc_id, cluster_id, score, quality_keeper_doc_id,
       doc_id = quality_keeper_doc_id AS is_quality_keeper,
       quality_keeper_doc_id <> cluster_id AS keeper_changed
FROM elected
"""


# --------------------------------------------------------------------------
# Cross-snapshot NEAR-duplicate dedup (incremental-crawl LSH)
# --------------------------------------------------------------------------

SNAPSHOT_MOD = 3   # doc_id % 3 == 2 plays the newly-crawled arrivals


def docs_near_dup_vs_snapshot(spark: SparkSession,
                              sf_dir: str) -> DataFrame:
    """Incremental-crawl NEAR-dup dedup — the LSH counterpart of
    docs_new_vs_snapshot's exact-fingerprint anti-join: an arrival
    (doc_id % SNAPSHOT_MOD == 2) is a near-duplicate of the prior
    snapshot when it shares an LSH band-bucket with a prior document
    and the MinHash signature-overlap estimate (Broder 1997) clears
    NEAR_DUP_JACCARD. Re-crawled pages drift (timestamps, ads, minor
    edits), so exact fingerprints miss most revisits — production
    incremental dedup (the CommonCrawl/FineWeb cross-snapshot setting)
    needs the near-dup form. Output: every arrival with its candidate
    count, best estimated Jaccard, the prior doc it duplicates
    (highest estimate, lowest doc_id on ties), and the verdict.

    Scale shape: the new snapshot is a small fraction of the
    accumulated corpus, and the prior side's signatures/bands come
    straight from the PREVIOUS snapshot's stored signature column (the
    narrow signature map runs once per crawl, not once per query; here
    both sides recompute only because the fixture has no stored
    column). The one corpus-sized shuffle is the (band, bucket) join,
    capped at LSH_BUCKET_CAP BEFORE the join exactly as
    docs_minhash_lsh_pairs; estimation touches only the K-long
    signatures of surviving candidates (no gram recomputation); the
    best-match window is keyed by arrival doc_id."""
    docs = t(spark, sf_dir, "documents")
    bands = _lsh_bands(spark, sf_dir)
    w = Window.partitionBy("band", "bucket")
    capped = (bands.withColumn("bucket_n", F.count("*").over(w))
              .filter(F.col("bucket_n") <= LSH_BUCKET_CAP)
              .drop("bucket_n"))
    is_new = F.col("doc_id") % SNAPSHOT_MOD == 2
    new_b = capped.filter(is_new) \
        .select(F.col("doc_id").alias("new_id"), "band", "bucket")
    prior_b = capped.filter(~is_new) \
        .select(F.col("doc_id").alias("prior_id"), "band", "bucket")
    cand = (new_b.join(prior_b, ["band", "bucket"])
            .groupBy("new_id", "prior_id")
            .agg(F.count(F.lit(1)).alias("n_shared_bands")))
    sigs = (docs.select("doc_id", _minhash_vec_udf().alias("minvec"))
            .filter(F.col("minvec").isNotNull()))
    a = sigs.select(F.col("doc_id").alias("new_id"),
                    F.col("minvec").alias("va"))
    b = sigs.select(F.col("doc_id").alias("prior_id"),
                    F.col("minvec").alias("vb"))
    matches = F.aggregate(
        F.zip_with("va", "vb", lambda x, y: (x == y).cast("int")),
        F.lit(0), lambda acc, x: acc + x)
    est = (cand.join(a, "new_id").join(b, "prior_id")
           .select("new_id", "prior_id",
                   F.round(matches / MINHASH_K, 4).alias("jaccard_est")))
    wbest = Window.partitionBy("new_id") \
        .orderBy(F.col("jaccard_est").desc(), "prior_id")
    best = (est
            .withColumn("rn", F.row_number().over(wbest))
            .withColumn("n_candidates",
                        F.count(F.lit(1)).over(Window.partitionBy("new_id")))
            .filter(F.col("rn") == 1))
    arrivals = docs.filter(is_new).select("doc_id")
    return (arrivals
            .join(best, arrivals.doc_id == best.new_id, "left")
            .select(
                "doc_id",
                F.coalesce("n_candidates", F.lit(0)).cast("long")
                 .alias("n_candidates"),
                F.col("jaccard_est").alias("best_jaccard_est"),
                F.col("prior_id").alias("dup_of"),
                F.coalesce(F.col("jaccard_est") >= NEAR_DUP_JACCARD,
                           F.lit(False)).alias("is_near_dup")))


def _near_dup_vs_snapshot_sql() -> str:
    cmp_terms = " + ".join(
        f"(CASE WHEN ma.minvec[{i + 1}] = mb.minvec[{i + 1}]"
        f" THEN 1 ELSE 0 END)" for i in range(MINHASH_K))
    bands_union = " UNION ALL ".join(
        "SELECT doc_id, " + str(b) + " AS band, md5("
        + " || '|' || ".join(
            f"CAST(minvec[{b * _ROWS_PER_BAND + r + 1}] AS VARCHAR)"
            for r in range(_ROWS_PER_BAND))
        + ") AS bucket FROM mh"
        for b in range(LSH_BANDS))
    return f"""
WITH sh AS (
  SELECT doc_id, {_SQL_SHINGLES} AS shingles FROM documents
), nz AS (
  SELECT * FROM sh WHERE len(shingles) > 0
), per AS (
  SELECT doc_id, {_SQL_PER_SHINGLE} AS per_sh FROM nz
), mh AS (
  SELECT doc_id, {_SQL_MINVEC} AS minvec FROM per
), bands AS (
  {bands_union}
), capped AS (
  SELECT * FROM (
    SELECT doc_id, band, bucket,
           COUNT(*) OVER (PARTITION BY band, bucket) AS bucket_n
    FROM bands
  ) WHERE bucket_n <= {LSH_BUCKET_CAP}
), cand AS (
  SELECT a.doc_id AS new_id, b.doc_id AS prior_id,
         COUNT(*) AS n_shared_bands
  FROM capped a JOIN capped b USING (band, bucket)
  WHERE a.doc_id % {SNAPSHOT_MOD} = 2 AND b.doc_id % {SNAPSHOT_MOD} <> 2
  GROUP BY a.doc_id, b.doc_id
), est AS (
  SELECT c.new_id, c.prior_id,
         round(({cmp_terms}) / {MINHASH_K}.0, 4) AS jaccard_est
  FROM cand c
  JOIN mh ma ON ma.doc_id = c.new_id
  JOIN mh mb ON mb.doc_id = c.prior_id
), ranked AS (
  SELECT new_id, prior_id, jaccard_est,
         ROW_NUMBER() OVER (PARTITION BY new_id
                            ORDER BY jaccard_est DESC, prior_id) AS rn,
         COUNT(*) OVER (PARTITION BY new_id) AS n_candidates
  FROM est
)
SELECT d.doc_id,
       COALESCE(r.n_candidates, 0) AS n_candidates,
       r.jaccard_est AS best_jaccard_est,
       r.prior_id AS dup_of,
       COALESCE(r.jaccard_est >= {NEAR_DUP_JACCARD}, FALSE) AS is_near_dup
FROM documents d
LEFT JOIN (SELECT * FROM ranked WHERE rn = 1) r ON r.new_id = d.doc_id
WHERE d.doc_id % {SNAPSHOT_MOD} = 2
"""


# --------------------------------------------------------------------------
# corpus lexical diversity (distinct-n / TTR / hapax)
# --------------------------------------------------------------------------

DIVERSITY_ROUND = 6


def docs_lexical_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language corpus diversity report: type-token ratio,
    distinct-bigram ratio (the distinct-1/distinct-2 metrics of Li et
    al. 2016), and the hapax-legomenon share of the vocabulary — the
    monitoring panel that catches template-flooded or generator-looped
    corpora (diversity collapses) and OCR-noise floods (hapax share
    explodes) before they reach training. Complements
    docs_zipf_profile (rank-frequency shape) with the scalar
    per-language summary a data card quotes.

    Scale shape: two explode→groupBy chains keyed (lang, term) — the
    honest token-volume shuffle of any exact distinct count, fully
    partial-aggregated — each collapsing to |langs| rows, then a
    |langs|-row join. For 100 TB dashboards the same report runs on
    sketches (docs_hll_by_lang is the approximate unigram half)."""
    docs = t(spark, sf_dir, "documents").select("lang", "text")
    toks = _tokens()
    base = (docs.select("lang", toks.alias("toks"))
            .filter((F.size("toks") > 0) & (F.col("toks")[0] != "")))
    uni = (base.select("lang", F.explode("toks").alias("tok"))
           .groupBy("lang", "tok").agg(F.count(F.lit(1)).alias("n"))
           .groupBy("lang")
           .agg(F.sum("n").alias("n_tokens"),
                F.count(F.lit(1)).alias("n_types"),
                F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
                 .alias("n_hapax")))
    bigrams = F.zip_with(
        F.slice("toks", 1, F.size("toks") - 1),
        F.slice("toks", 2, F.size("toks") - 1),
        lambda a, b: F.concat(a, F.lit(" "), b))
    bi = (base.filter(F.size("toks") >= 2)
          .select("lang", F.explode(bigrams).alias("bg"))
          .groupBy("lang", "bg").agg(F.count(F.lit(1)).alias("n"))
          .groupBy("lang")
          .agg(F.sum("n").alias("n_bigrams"),
               F.count(F.lit(1)).alias("n_distinct_bigrams")))
    j = uni.join(bi, "lang")
    return j.select(
        "lang", "n_tokens", "n_types", "n_hapax",
        "n_bigrams", "n_distinct_bigrams",
        F.round(F.col("n_types") / F.col("n_tokens"),
                DIVERSITY_ROUND).alias("ttr"),
        F.round(F.col("n_distinct_bigrams") / F.col("n_bigrams"),
                DIVERSITY_ROUND).alias("distinct2"),
        F.round(F.col("n_hapax") / F.col("n_types"),
                DIVERSITY_ROUND).alias("hapax_frac"))


_LEXICAL_DIVERSITY_SQL = f"""
WITH base AS (
  SELECT lang, {_SQL_TOKENS} AS toks FROM documents
), nz AS (
  SELECT lang, toks FROM base WHERE len(toks) > 0 AND toks[1] <> ''
), uc AS (
  SELECT lang, tok, COUNT(*) AS n
  FROM (SELECT lang, unnest(toks) AS tok FROM nz) GROUP BY lang, tok
), uni AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_tokens,
         CAST(COUNT(*) AS BIGINT) AS n_types,
         CAST(SUM(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS n_hapax
  FROM uc GROUP BY lang
), bc AS (
  SELECT lang, bg, COUNT(*) AS n
  FROM (SELECT lang,
               unnest(list_transform(range(1, len(toks)),
                      j -> toks[j] || ' ' || toks[j + 1])) AS bg
        FROM nz WHERE len(toks) >= 2)
  GROUP BY lang, bg
), bi AS (
  SELECT lang, CAST(SUM(n) AS BIGINT) AS n_bigrams,
         CAST(COUNT(*) AS BIGINT) AS n_distinct_bigrams
  FROM bc GROUP BY lang
)
SELECT lang, n_tokens, n_types, n_hapax, n_bigrams, n_distinct_bigrams,
       round(n_types / CAST(n_tokens AS DOUBLE), {DIVERSITY_ROUND}) AS ttr,
       round(n_distinct_bigrams / CAST(n_bigrams AS DOUBLE),
             {DIVERSITY_ROUND}) AS distinct2,
       round(n_hapax / CAST(n_types AS DOUBLE), {DIVERSITY_ROUND})
         AS hapax_frac
FROM uni JOIN bi USING (lang)
"""


# --------------------------------------------------------------------------
# Unicode script profile (mixed-script / homoglyph spam signal)
# --------------------------------------------------------------------------

# BMP ranges only: Spark's length() and DuckDB's len() both count code
# points, and BMP literals keep the two engines' regex char classes
# byte-compatible (no dialect-specific \p{script=...} syntax).
_SCRIPT_RANGES: tuple[tuple[str, str], ...] = (
    ("latin", "A-Za-z"),
    ("cyrillic", "Ѐ-ӿ"),
    ("greek", "Ͱ-Ͽ"),
    ("han", "一-鿿"),
)
_SCRIPT_MOD = 17          # doc_id % 17 picks the synthetic body class
_MIXED_SCRIPT_FRAC = 0.05  # >5% of letters outside the dominant script


def _script_body() -> Column:
    """Deterministic page bodies: ids ≡ 3/6/9 (mod 17) are genuinely
    Cyrillic / Greek / Han documents, ids ≡ 12 are the homoglyph-spam
    class (Latin prose salted with Cyrillic lookalikes), everything
    else keeps its English text — so every dominant class, the mixed
    flag, and true negatives all exist and the oracle regenerates the
    corpus closed-form (the pages_soft404 protocol)."""
    sid = F.col("doc_id").cast("string")
    m = F.col("doc_id") % _SCRIPT_MOD
    return (
        F.when(m == 3, F.concat(
            F.lit("Статья номер "), sid,
            F.lit(" содержит текст на русском языке")))
        .when(m == 6, F.concat(
            F.lit("Άρθρο "), sid, F.lit(" κείμενο δοκιμής στα ελληνικά")))
        .when(m == 9, F.concat(F.lit("文章"), sid, F.lit("中文测试文本内容")))
        .when(m == 12, F.concat(
            F.lit("Купить cheap offer "), sid, F.lit(" now дешево")))
        .otherwise(F.col("text")))


def docs_script_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Unicode script profile: letter mass per script
    (Latin / Cyrillic / Greek / Han), the dominant script, and a
    mixed-script flag — the standard homoglyph-spam and
    wrong-script-for-declared-language signal (Cyrillic 'а'/'е'/'о'
    inside Latin prose is the classic phishing/SEO-cloaking tell;
    corpus pipelines gate on it because langid models mis-route such
    pages). Script mass = length(body) − length(regexp_replace(body,
    '[range]', '')) per class, all four in one projection.

    Scale shape: pure narrow map — four regex strips and arithmetic
    per row, zero shuffles at any corpus size. The reference has no
    corpus-level stages (SURVEY §2 absent lists)."""
    docs = t(spark, sf_dir, "documents").select("doc_id", "text")
    body = _script_body()
    rows = docs.select("doc_id", body.alias("body"))
    counts = [
        (name,
         (F.length("body")
          - F.length(F.regexp_replace("body", f"[{rng}]", ""))))
        for name, rng in _SCRIPT_RANGES]
    letters = counts[0][1] + counts[1][1] + counts[2][1] + counts[3][1]
    top = F.greatest(*[c for _, c in counts])
    proj = rows.select(
        "doc_id", F.length("body").alias("n_chars"),
        *[c.alias(f"n_{name}") for name, c in counts],
        letters.alias("n_letters"), top.alias("top_n"))
    dom = F.when(F.col("n_letters") == 0, F.lit("none"))
    for name, _ in _SCRIPT_RANGES:  # tie precedence = ranges order
        dom = dom.when(F.col(f"n_{name}") == F.col("top_n"), F.lit(name))
    mixed = (F.col("n_letters") > 0) & \
        ((F.col("n_letters") - F.col("top_n"))
         > _MIXED_SCRIPT_FRAC * F.col("n_letters"))
    return proj.select(
        "doc_id", "n_chars",
        *[F.round(F.when(F.col("n_letters") == 0, F.lit(0.0))
                  .otherwise(F.col(f"n_{name}") / F.col("n_letters")), 4)
          .alias(f"{name}_frac") for name, _ in _SCRIPT_RANGES],
        dom.alias("dominant_script"),
        mixed.alias("is_mixed_script"))


def _script_profile_sql() -> str:
    body = f"""CASE CAST(doc_id % {_SCRIPT_MOD} AS INT)
           WHEN 3 THEN 'Статья номер ' || CAST(doc_id AS VARCHAR)
                       || ' содержит текст на русском языке'
           WHEN 6 THEN 'Άρθρο ' || CAST(doc_id AS VARCHAR)
                       || ' κείμενο δοκιμής στα ελληνικά'
           WHEN 9 THEN '文章' || CAST(doc_id AS VARCHAR) || '中文测试文本内容'
           WHEN 12 THEN 'Купить cheap offer ' || CAST(doc_id AS VARCHAR)
                        || ' now дешево'
           ELSE text END"""
    n = {name: (f"len(body) - len(regexp_replace(body, '[{rng}]', '', 'g'))")
         for name, rng in _SCRIPT_RANGES}
    letters = " + ".join(f"n_{k}" for k, _ in _SCRIPT_RANGES)
    top = ("greatest(" + ", ".join(f"n_{k}" for k, _ in _SCRIPT_RANGES)
           + ")")
    dom = "CASE WHEN n_letters = 0 THEN 'none' " + " ".join(
        f"WHEN n_{k} = top_n THEN '{k}'" for k, _ in _SCRIPT_RANGES) \
        + " END"
    fracs = ", ".join(
        f"round(CASE WHEN n_letters = 0 THEN 0.0 "
        f"ELSE n_{k} / CAST(n_letters AS DOUBLE) END, 4) AS {k}_frac"
        for k, _ in _SCRIPT_RANGES)
    return f"""
WITH pagelog AS (
  SELECT doc_id, {body} AS body FROM documents
), c AS (
  SELECT doc_id, CAST(len(body) AS INT) AS n_chars,
         {", ".join(f"CAST({v} AS INT) AS n_{k}" for k, v in n.items())}
  FROM pagelog
), s AS (
  SELECT *, {letters} AS n_letters, {top} AS top_n FROM c
)
SELECT doc_id, n_chars, {fracs},
       {dom} AS dominant_script,
       n_letters > 0 AND (n_letters - top_n)
         > {_MIXED_SCRIPT_FRAC} * n_letters AS is_mixed_script
FROM s
"""


# --------------------------------------------------------------------------
# LSH candidate-set quality eval (precision / recall vs exact truth)
# --------------------------------------------------------------------------

def docs_lsh_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Precision/recall scorecard for the banded-LSH candidate
    generator against exact ground truth — the QA row a dedup pipeline
    publishes per crawl before trusting its near-dup removal:

      * precision: of the LSH candidate pairs, what fraction verify at
        exact Jaccard >= NEAR_DUP_JACCARD (candidates are verified
        exactly via the candidate-driven path, so this side is the
        production shape and scales);
      * recall: of the true near-dup pairs (the blocked all-pairs
        exact-Jaccard sweep at the same threshold), what fraction the
        LSH candidate list contains.

    The truth side reuses docs_ngram_jaccard_pairs, which is the
    SMALL-SF cross-check by design (O(n²) per block) — at 100 TB the
    same recall estimate runs over a fixed-size sampled block set (the
    standard recall-audit protocol; BENCH/recall.json plays this role
    for the embedding-LSH family), while the precision side's
    candidate-driven verification is already scale-safe. The eval
    collapses to THREE 1-row aggregates joined by broadcast — no wide
    result ever leaves the executors."""
    verified = docs_jaccard_verify_candidates(spark, sf_dir)
    truth = (docs_ngram_jaccard_pairs(spark, sf_dir)
             .filter(F.col("jaccard") >= NEAR_DUP_JACCARD)
             .select("doc_a", "doc_b"))
    is_tp = F.col("jaccard") >= NEAR_DUP_JACCARD
    cand_stats = verified.agg(
        F.count(F.lit(1)).alias("n_candidates"),
        F.coalesce(F.sum(is_tp.cast("long")), F.lit(0)).alias("n_tp"),
        F.coalesce(F.sum((~is_tp).cast("long")), F.lit(0)).alias("n_fp"))
    truth_stats = truth.agg(F.count(F.lit(1)).alias("n_truth"))
    found_stats = (truth
                   .join(verified.select("doc_a", "doc_b"),
                         ["doc_a", "doc_b"], "left_semi")
                   .agg(F.count(F.lit(1)).alias("n_truth_found")))
    row = (cand_stats.crossJoin(F.broadcast(truth_stats))
           .crossJoin(F.broadcast(found_stats)))
    precision = F.when(F.col("n_candidates") > 0,
                       F.round(F.col("n_tp") / F.col("n_candidates"), 4)) \
                 .otherwise(F.lit(0.0))
    recall = F.when(F.col("n_truth") > 0,
                    F.round(F.col("n_truth_found") / F.col("n_truth"), 4)) \
              .otherwise(F.lit(0.0))
    return row.select(
        "n_candidates", "n_tp", "n_fp", "n_truth", "n_truth_found",
        precision.alias("precision"), recall.alias("recall"))


_LSH_EVAL_SQL = f"""
WITH ver AS (
{_JACCARD_VERIFY_SQL}
), truth AS (
  SELECT doc_a, doc_b FROM (
{_JACCARD_SQL}
  ) WHERE jaccard >= {NEAR_DUP_JACCARD}
), cs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_candidates,
         CAST(COALESCE(SUM(CASE WHEN jaccard >= {NEAR_DUP_JACCARD}
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_tp,
         CAST(COALESCE(SUM(CASE WHEN jaccard < {NEAR_DUP_JACCARD}
                           THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_fp
  FROM ver
), ts AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth FROM truth
), fs AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_truth_found
  FROM truth t
  WHERE EXISTS (SELECT 1 FROM ver v
                WHERE v.doc_a = t.doc_a AND v.doc_b = t.doc_b)
)
SELECT n_candidates, n_tp, n_fp, n_truth, n_truth_found,
       CASE WHEN n_candidates > 0
            THEN round(n_tp / CAST(n_candidates AS DOUBLE), 4)
            ELSE 0.0 END AS precision,
       CASE WHEN n_truth > 0
            THEN round(n_truth_found / CAST(n_truth AS DOUBLE), 4)
            ELSE 0.0 END AS recall
FROM cs, ts, fs
"""


# --------------------------------------------------------------------------
# BM25 search scoring (Robertson et al. 1994, Okapi BM25)
# --------------------------------------------------------------------------

BM25_K1 = 1.2        # term-frequency saturation
BM25_B = 0.75        # length normalization strength
BM25_QUERY: tuple[str, ...] = ("spark", "window", "customer")
BM25_TOP_K = 15


def _eq_lit(q: str):
    """Single-parameter element predicate for F.filter — a two-param
    lambda (``lambda x, q=q``) would be read by PySpark's
    higher-order-function binding as an (element, index) callable and
    the closure default would be silently clobbered by the index."""
    return lambda x: x == F.lit(q)


def _in_set(ws: tuple[str, ...]):
    """Single-parameter membership predicate (same binding caveat)."""
    return lambda x: x.isin(*ws)


def docs_bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 top-K retrieval for a fixed query term set — the
    ranking function behind corpus search / eval-set mining over a
    crawl (e.g. pulling topical documents for a domain-specific
    training mix). score(D) = Σ_t idf(t) · tf·(k1+1) / (tf + k1·(1−b +
    b·|D|/avgdl)) with idf(t) = ln(1 + (N−df+0.5)/(df+0.5)). Published
    as integer ``score_micro`` (per-term micro-rounding, then exact
    integer sum) so both engines rank and hash on exact integers —
    the docs_tfidf_topk cross-engine device.

    Scale shape: because the query set is FIXED and tiny, per-doc term
    frequencies are narrow array ops (no explode, no token-volume
    shuffle); the corpus statistics (N, Σ|D|, per-term df) collapse in
    ONE partial-aggregated 1-row reduce that is re-broadcast; scoring
    is then a pure narrow map and the top-K is TakeOrdered (no global
    sort shuffle). For large query batches the explode + df-join form
    (docs_tfidf_topk's shape) replaces this; the fixed-query form is
    the search-serving shape."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", _tokens().alias("toks"))
    proj = base.select(
        "doc_id",
        F.size("toks").cast("long").alias("dl"),
        *[F.size(F.filter("toks", _eq_lit(q)))
           .cast("long").alias(f"tf_{i}")
          for i, q in enumerate(BM25_QUERY)])
    stats = proj.agg(
        F.count(F.lit(1)).cast("long").alias("n_corpus"),
        F.sum("dl").cast("long").alias("sum_dl"),
        *[F.sum((F.col(f"tf_{i}") > 0).cast("long")).alias(f"df_{i}")
          for i in range(len(BM25_QUERY))])
    j = proj.crossJoin(F.broadcast(stats))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_corpus")
    terms = []
    for i in range(len(BM25_QUERY)):
        tf, df = F.col(f"tf_{i}"), F.col(f"df_{i}")
        idf = F.log(F.lit(1.0) + (F.col("n_corpus") - df + 0.5)
                    / (df + 0.5))
        w = idf * tf * (BM25_K1 + 1) / (
            tf + BM25_K1 * (1 - BM25_B + BM25_B * F.col("dl") / avgdl))
        terms.append(F.when(tf > 0, F.round(w * 1e6).cast("long"))
                      .otherwise(F.lit(0)))
    score = sum(terms[1:], terms[0])
    n_hit = sum((F.col(f"tf_{i}") > 0).cast("int")
                for i in range(len(BM25_QUERY)))
    scored = (j.select("doc_id", n_hit.alias("n_terms_hit"),
                       score.alias("score_micro"))
              .filter(F.col("score_micro") > 0)
              .orderBy(F.desc("score_micro"), F.asc("doc_id"))
              .limit(BM25_TOP_K))
    # frame already cut to BM25_TOP_K rows by the limit above —
    # the unpartitioned rank window is constant-sized
    w_rank = Window.orderBy(F.desc("score_micro"), F.asc("doc_id"))
    return scored.withColumn("rank", F.row_number().over(w_rank))


def _bm25_sql() -> str:
    tf_cols = ", ".join(
        f"CAST(len(list_filter(toks, x -> x = '{q}')) AS BIGINT) AS tf_{i}"
        for i, q in enumerate(BM25_QUERY))
    df_cols = ", ".join(
        f"CAST(SUM(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END) AS BIGINT)"
        f" AS df_{i}" for i in range(len(BM25_QUERY)))
    terms = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN CAST(ROUND("
        f"ln(1.0 + (n_corpus - df_{i} + 0.5) / (df_{i} + 0.5))"
        f" * tf_{i} * ({BM25_K1} + 1) / (tf_{i} + {BM25_K1} * "
        f"(1 - {BM25_B} + {BM25_B} * dl / "
        f"(CAST(sum_dl AS DOUBLE) / n_corpus))) * 1e6) AS BIGINT)"
        f" ELSE 0 END)" for i in range(len(BM25_QUERY)))
    n_hit = " + ".join(
        f"(CASE WHEN tf_{i} > 0 THEN 1 ELSE 0 END)"
        for i in range(len(BM25_QUERY)))
    return f"""
WITH tk AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), p AS (
  SELECT doc_id, CAST(len(toks) AS BIGINT) AS dl, {tf_cols} FROM tk
), st AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
         CAST(SUM(dl) AS BIGINT) AS sum_dl, {df_cols}
  FROM p
), sc AS (
  SELECT doc_id, CAST({n_hit} AS INT) AS n_terms_hit,
         {terms} AS score_micro
  FROM p, st
)
SELECT doc_id, n_terms_hit, score_micro,
       CAST(ROW_NUMBER() OVER (ORDER BY score_micro DESC, doc_id ASC)
            AS INT) AS rank
FROM sc WHERE score_micro > 0
ORDER BY score_micro DESC, doc_id ASC
LIMIT {BM25_TOP_K}
"""


def docs_soft_dedup_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft deduplication — weight, don't drop: every near-dup
    CLUSTER contributes unit training mass, split evenly over its
    members (weight = 1/cluster-size; singletons keep 1.0). The
    alternative to hard keeper-election (docs_dedup_keepers /
    docs_near_dup_quality_keepers) when duplicates carry signal worth
    keeping at reduced influence — the down-weighting form of dedup
    several modern corpus recipes prefer for borderline tiers, and
    the natural input to a weighted loss or weighted sampler.

    Determinism: weights are exact integer micro-units
    (10⁶ DIV cluster-size), so any downstream weighted aggregate
    stays partition-order-proof; the cluster machinery is the same
    verified LSH → exact-Jaccard → connected-components tail every
    other dedup consumer uses.

    Scale shape: the near-dup cluster subplan (bounded by the capped
    candidate list), one cluster-keyed size window, and a doc_id
    equi-join back to the corpus — no new corpus-volume shuffle."""
    clusters = docs_near_dup_clusters(spark, sf_dir) \
        .select("doc_id", "cluster_id")
    w = Window.partitionBy("cluster_id")
    sized = clusters.withColumn(
        "cluster_size", F.count(F.lit(1)).over(w).cast("long"))
    docs = t(spark, sf_dir, "documents").select("doc_id")
    out = (docs.join(sized, "doc_id", "left")
           .withColumn("cluster_size",
                       F.coalesce("cluster_size", F.lit(1))
                       .cast("long"))
           .withColumn("in_cluster", F.col("cluster_id").isNotNull())
           .withColumn("weight_micro",
                       F.expr("1000000 DIV cluster_size")))
    return out.select(
        "doc_id", "in_cluster", "cluster_size",
        F.round(F.col("weight_micro") / 1e6, 6).alias("weight"))


_SOFT_DEDUP_SQL = f"""
WITH clusters AS (
  SELECT doc_id, cluster_id FROM ({_NEAR_DUP_CLUSTERS_SQL})
), sized AS (
  SELECT doc_id, cluster_id,
         CAST(COUNT(*) OVER (PARTITION BY cluster_id) AS BIGINT)
           AS cluster_size
  FROM clusters
)
SELECT d.doc_id,
       s.cluster_id IS NOT NULL AS in_cluster,
       COALESCE(s.cluster_size, 1) AS cluster_size,
       round((1000000 // COALESCE(s.cluster_size, 1)) / 1e6, 6)
         AS weight
FROM documents d LEFT JOIN sized s ON s.doc_id = d.doc_id
"""


# --------------------------------------------------------------------------
# BM25 retrieval evaluation (ad-hoc topic retrieval, modeled cohort)
# --------------------------------------------------------------------------

BM25_EVAL_TOPICS = 31   # modeled topics (~16 primaries each at
                        # sf0.01); primary = doc_id % 31, secondary =
                        # (doc_id + 1) % 31 at tf 2 vs the primary's 3
                        # — measured to put MAP@10 at 0.68 with real
                        # per-topic spread (7 topics / tf 1 scored a
                        # vacuous 1.0: the relevant sets swamped K)
BM25_EVAL_SEC_TF = 2
BM25_EVAL_K = 10        # precision / AP cutoff


def docs_bm25_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ad-hoc retrieval evaluation of the BM25 ranker — the IR
    scorecard that turns docs_bm25_search from "produces rankings"
    into "produces rankings that FIND the right things". Protocol
    note recorded honestly: known-item search was measured FIRST and
    is impossible on this corpus (MRR@10 ≤ 0.085 for rarest-token
    queries of any length — the synthetic docs draw from one tiny
    vocabulary, so no query discriminates), so the eval uses the
    modeled-cohort device every classifier op here uses: each doc
    carries a planted primary-topic phrase (tf 3) and an OVERLAPPING
    secondary topic (tf 2, the next topic over), each topic is a
    query, and only primary membership is relevant. BM25's length
    normalization then genuinely reorders: short secondary docs can
    outrank long primaries (k1-saturation vs b·dl/avgdl — verified
    non-trivial on the fixture), so precision@K and AP@K measure the
    ranker, not the plant.

    Determinism: every metric is EXACT INTEGER — P@i as
    (hits·10⁶) DIV i, AP@K as their sum DIV min(n_rel, K), MAP as
    the topic-sum DIV topic count; no float ever aggregates.

    Scale shape: planted tokens ride a narrow map (no change to the
    real token volume); per-(topic, doc) scores bound by docs ×
    topic-membership (each doc matches exactly 2 of the topic
    queries); ranking windows are keyed topic; the relevance rollup
    is topic-cardinality."""
    docs = t(spark, sf_dir, "documents")
    base = docs.select("doc_id", _tokens().alias("toks"))
    tmod = BM25_EVAL_TOPICS
    prim = F.concat(F.lit("topic"), (F.col("doc_id") % tmod))
    sec = F.concat(F.lit("topic"), ((F.col("doc_id") + 1) % tmod))
    lens = base.select(
        "doc_id", (F.size("toks") + 4).cast("long").alias("dl"),
        prim.alias("prim"), sec.alias("sec"))
    corpus = lens.agg(F.count(F.lit(1)).cast("long").alias("n_corpus"),
                      F.sum("dl").cast("long").alias("sum_dl"))
    # (term, doc, tf) for the planted vocabulary only — each doc
    # matches exactly two topic terms
    tf = (lens.select("doc_id", "dl", F.col("prim").alias("term"),
                      F.lit(3).cast("long").alias("tf"))
          .unionByName(
              lens.select("doc_id", "dl", F.col("sec").alias("term"),
                          F.lit(BM25_EVAL_SEC_TF).cast("long")
                          .alias("tf"))))
    df = tf.groupBy("term").agg(F.count("*").cast("long").alias("df"))
    avgdl = F.col("sum_dl").cast("double") / F.col("n_corpus")
    idf = F.log(F.lit(1.0) + (F.col("n_corpus") - F.col("df") + 0.5)
                / (F.col("df") + 0.5))
    w = (idf * F.col("tf") * (BM25_K1 + 1)
         / (F.col("tf") + BM25_K1
            * (1 - BM25_B + BM25_B * F.col("dl") / avgdl)))
    scored = (tf.join(F.broadcast(df), "term")
              .crossJoin(F.broadcast(corpus))
              .select("term", "doc_id",
                      F.round(w * 1e6).cast("long").alias("score_micro")))
    w_rank = Window.partitionBy("term").orderBy(
        F.desc("score_micro"), F.asc("doc_id"))
    topk = (scored.withColumn("rank", F.row_number().over(w_rank))
            .filter(F.col("rank") <= BM25_EVAL_K))
    rel = lens.select("doc_id", F.col("prim").alias("term"),
                      F.lit(1).alias("is_rel"))
    judged = (topk.join(rel, ["term", "doc_id"], "left")
              .withColumn("is_rel", F.coalesce("is_rel", F.lit(0))))
    w_run = (Window.partitionBy("term").orderBy("rank")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    judged = judged.withColumn(
        "hits_at_i", F.sum("is_rel").over(w_run).cast("long"))
    judged = judged.withColumn(
        "p_at_i_micro",
        F.expr("CASE WHEN is_rel = 1 THEN (hits_at_i * 1000000) "
               "DIV rank ELSE CAST(0 AS BIGINT) END"))
    n_rel = (rel.groupBy("term")
             .agg(F.count(F.lit(1)).cast("long").alias("n_rel")))
    per_q = (judged.groupBy("term")
             .agg(F.sum("is_rel").cast("long").alias("tp_at_k"),
                  F.sum("p_at_i_micro").cast("long").alias("sum_p")))
    per_q = (per_q.join(F.broadcast(n_rel), "term")
             .withColumn("ap_micro",
                         F.expr(f"sum_p DIV least(n_rel, "
                                f"{BM25_EVAL_K})")))
    # MAP divides by the OBSERVED distinct-topic count (mirrored in
    # the oracle), not the BM25_EVAL_TOPICS constant — on a corpus
    # whose doc_ids don't cover 0..30 the constant would silently
    # deflate MAP while per-topic AP stayed correct
    total = per_q.agg(
        F.expr("CAST(SUM(ap_micro) AS BIGINT) DIV COUNT(*)")
        .alias("map_micro"))
    return (per_q.crossJoin(F.broadcast(total))
            .select(F.col("term").alias("topic"), "n_rel", "tp_at_k",
                    F.round(F.col("tp_at_k") / BM25_EVAL_K, 6)
                    .alias("precision_at_k"),
                    F.round(F.col("ap_micro") / 1e6, 6)
                    .alias("ap_at_k"),
                    F.round(F.col("map_micro") / 1e6, 6)
                    .alias("map_at_k"))
            .orderBy("topic"))


def _bm25_eval_sql() -> str:
    tmod = BM25_EVAL_TOPICS
    return f"""
WITH base AS (
  SELECT doc_id, {_SQL_TOKENS} AS toks FROM documents
), lens AS (
  SELECT doc_id, CAST(len(toks) + 4 AS BIGINT) AS dl,
         'topic' || CAST(doc_id % {tmod} AS VARCHAR) AS prim,
         'topic' || CAST((doc_id + 1) % {tmod} AS VARCHAR) AS sec
  FROM base
), corpus AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus,
         CAST(SUM(dl) AS BIGINT) AS sum_dl
  FROM lens
), tf AS (
  SELECT doc_id, dl, prim AS term, CAST(3 AS BIGINT) AS tf FROM lens
  UNION ALL
  SELECT doc_id, dl, sec AS term, CAST({BM25_EVAL_SEC_TF} AS BIGINT)
    AS tf FROM lens
), df AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY term
), scored AS (
  SELECT tf.term, tf.doc_id,
         CAST(ROUND(
           ln(1.0 + (c.n_corpus - df.df + 0.5) / (df.df + 0.5))
           * tf.tf * ({BM25_K1} + 1)
           / (tf.tf + {BM25_K1} * (1 - {BM25_B} + {BM25_B} * tf.dl
              / (CAST(c.sum_dl AS DOUBLE) / c.n_corpus))) * 1e6)
           AS BIGINT) AS score_micro
  FROM tf JOIN df ON df.term = tf.term CROSS JOIN corpus c
), topk AS (
  SELECT term, doc_id, score_micro,
         row_number() OVER (PARTITION BY term
                            ORDER BY score_micro DESC, doc_id ASC)
           AS rank
  FROM scored
  QUALIFY rank <= {BM25_EVAL_K}
), rel AS (
  SELECT doc_id, prim AS term, 1 AS is_rel FROM lens
), judged AS (
  SELECT t.term, t.rank, COALESCE(r.is_rel, 0) AS is_rel
  FROM topk t LEFT JOIN rel r
    ON r.term = t.term AND r.doc_id = t.doc_id
), run AS (
  SELECT term, rank, is_rel,
         CAST(SUM(is_rel) OVER (PARTITION BY term ORDER BY rank
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS hits_at_i
  FROM judged
), contrib AS (
  SELECT term,
         CAST(SUM(is_rel) AS BIGINT) AS tp_at_k,
         CAST(SUM(CASE WHEN is_rel = 1
                       THEN (hits_at_i * 1000000) // rank
                       ELSE 0 END) AS BIGINT) AS sum_p
  FROM run GROUP BY term
), n_rel AS (
  SELECT term, CAST(COUNT(*) AS BIGINT) AS n_rel FROM rel GROUP BY term
), per_q AS (
  SELECT c.term, n.n_rel, c.tp_at_k,
         c.sum_p // least(n.n_rel, {BM25_EVAL_K}) AS ap_micro
  FROM contrib c JOIN n_rel n ON n.term = c.term
), total AS (
  -- observed topic count, mirroring the Spark plan (not the constant)
  SELECT CAST(SUM(ap_micro) AS BIGINT) // COUNT(*) AS map_micro
  FROM per_q
)
SELECT p.term AS topic, p.n_rel, p.tp_at_k,
       round(p.tp_at_k / {BM25_EVAL_K}.0, 6) AS precision_at_k,
       round(p.ap_micro / 1e6, 6) AS ap_at_k,
       round(t.map_micro / 1e6, 6) AS map_at_k
FROM per_q p CROSS JOIN total t
ORDER BY topic
"""




# --------------------------------------------------------------------------
# Per-segment language segmentation (multilingual-document detection)
# --------------------------------------------------------------------------

SEG_TOKENS = 25      # tokens per language-ID segment
_MULTI_MOD = 5       # every _MULTI_MOD-th doc gets the modeled
                     # non-English tail (role-split device, see
                     # docs_encoding_repair)
_DE_TAIL = " ".join(("der die das und ist nicht von mit auf ein "
                     * 3).split())  # 30 German stopwords: > 1 segment
_SEG_LANG_ORDER = _LANG_ORDER + ("und",)


def _seg_pred(seg: Column) -> Column:
    """Per-segment argmax stopword vote — the docs_langid kernel
    applied to a token SLICE instead of the whole document."""
    return _precedence_argmax(
        {lg: F.size(F.filter(seg, _in_set(tuple(ws))))
         for lg, ws in _LANG_STOPWORDS.items()}, _LANG_ORDER)


def docs_lang_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-document language segmentation: language-ID every
    SEG_TOKENS-token window and report the per-doc segment label
    sequence, majority language, number of language switches, and a
    mixed-language flag. Multilingual pages (nav chrome in one
    language around prose in another, quote blocks, code-switching
    forums) are the documents whole-doc language ID silently mislabels
    — CCNet and FineWeb both split or drop them, which requires first
    DETECTING them, which is this operator.

    The synthetic corpus is monolingual-English by construction, so
    the multilingual case is MODELED in-plan (the role-split device of
    docs_encoding_repair): every ``_MULTI_MOD``-th document carries a
    deterministic 30-token German-stopword tail, which must surface as
    a trailing 'de' segment, >= 1 language switch, and a mixed flag —
    on a real crawl the text column is the input unchanged.

    Scale shape: ZERO shuffle — segmentation, per-segment stopword
    votes, the switch count, and the majority election are all nested
    array expressions over each row (the segment count is
    tokens/SEG_TOKENS, so per-row work stays linear in doc length)."""
    docs = t(spark, sf_dir, "documents")
    wild = F.when(F.col("doc_id") % _MULTI_MOD == 1,
                  F.concat(F.col("text"), F.lit(" " + _DE_TAIL))) \
            .otherwise(F.col("text"))
    toks = F.split(F.lower(F.trim(wild)), r"\s+")
    n_segs = F.floor((F.size(toks) + SEG_TOKENS - 1) / SEG_TOKENS) \
              .cast("int")
    segments = F.transform(
        F.sequence(F.lit(0), n_segs - 1),
        lambda i: F.slice(toks, i * SEG_TOKENS + 1, SEG_TOKENS))
    base = docs.select(
        "doc_id", "lang",
        F.transform(segments, _seg_pred).alias("langs"))
    counts = {lg: F.size(F.filter("langs", _eq_lit(lg)))
              for lg in _SEG_LANG_ORDER}
    maj = _precedence_argmax(counts, _SEG_LANG_ORDER)
    n = F.size("langs")
    switches = F.when(
        n >= 2,
        F.size(F.filter(
            F.zip_with(F.slice("langs", 1, n - 1),
                       F.slice("langs", 2, n - 1),
                       lambda a, b: a != b),
            lambda x: x))).otherwise(F.lit(0)).cast("int")
    return base.select(
        "doc_id", "lang",
        (F.col("doc_id") % _MULTI_MOD == 1).alias("modeled_multilingual"),
        n.cast("int").alias("n_segments"),
        maj.alias("majority_lang"),
        switches.alias("n_switches"),
        (F.size(F.array_distinct("langs")) > 1).alias("is_mixed"),
        F.array_join("langs", ",").alias("langs_str"))


def _seg_pred_sql(seg: str) -> str:
    def hits(lg: str) -> str:
        ws = ", ".join(f"'{w}'" for w in _LANG_STOPWORDS[lg])
        return f"len(list_filter({seg}, x -> x IN ({ws})))"
    expr = "'und'"
    for lg in reversed(_LANG_ORDER):
        conds = [f"{hits(lg)} > 0"]
        for o in _LANG_ORDER:
            if o == lg:
                continue
            op = (">" if _LANG_ORDER.index(o) < _LANG_ORDER.index(lg)
                  else ">=")
            conds.append(f"{hits(lg)} {op} {hits(o)}")
        expr = f"CASE WHEN {' AND '.join(conds)} THEN '{lg}' ELSE {expr} END"
    return expr


def _lang_segments_sql() -> str:
    def cnt(lg: str) -> str:
        return f"len(list_filter(langs, x -> x = '{lg}'))"
    maj = "'und'"
    for lg in reversed(_SEG_LANG_ORDER):
        conds = [f"{cnt(lg)} > 0"]
        for o in _SEG_LANG_ORDER:
            if o == lg:
                continue
            op = (">" if _SEG_LANG_ORDER.index(o)
                  < _SEG_LANG_ORDER.index(lg) else ">=")
            conds.append(f"{cnt(lg)} {op} {cnt(o)}")
        maj = f"CASE WHEN {' AND '.join(conds)} THEN '{lg}' ELSE {maj} END"
    return f"""
WITH wild AS (
  SELECT doc_id, lang,
         CASE WHEN doc_id % {_MULTI_MOD} = 1
              THEN text || ' {_DE_TAIL}' ELSE text END AS wtext
  FROM documents
), tk AS (
  SELECT doc_id, lang,
         string_split_regex(lower(trim(wtext)), '\\s+') AS toks
  FROM wild
), seg AS (
  SELECT doc_id, lang,
         list_transform(
           range(0, CAST(floor((len(toks) + {SEG_TOKENS - 1})
                                / {SEG_TOKENS}.0) AS BIGINT)),
           i -> list_slice(toks, i * {SEG_TOKENS} + 1,
                           i * {SEG_TOKENS} + {SEG_TOKENS})) AS segs
  FROM tk
), lg AS (
  SELECT doc_id, lang,
         list_transform(segs, s -> {_seg_pred_sql('s')}) AS langs
  FROM seg
)
SELECT doc_id, lang,
       doc_id % {_MULTI_MOD} = 1 AS modeled_multilingual,
       CAST(len(langs) AS INT) AS n_segments,
       {maj} AS majority_lang,
       CAST(CASE WHEN len(langs) >= 2
            THEN len(list_filter(range(1, len(langs)),
                                 i -> langs[i] <> langs[i + 1]))
            ELSE 0 END AS INT) AS n_switches,
       len(list_distinct(langs)) > 1 AS is_mixed,
       array_to_string(langs, ',') AS langs_str
FROM lg
"""


# --------------------------------------------------------------------------
# code-vs-prose routing (pretraining-mix triage)
# --------------------------------------------------------------------------

CODE_MOD = 9          # every CODE_MOD-th doc (% == 4) carries the
                      # modeled code block (role-split device)
CODE_SYM_MIN = 0.05   # symbol chars per char above this → code-ish
CODE_KW_MIN = 3       # language-keyword hits above this → code-ish
_CODE_BLOCK = ("def f0(x): return x * 2; "
               "def f1(y): return y + 1; "
               "for i in range(10): total += f0(i) "
               "if total > 0 else f1(i); "
               "while not done: queue.pop(); "
               "class C: pass; import os; return C()")
_CODE_KEYWORDS = ("def", "return", "import", "class", "for", "while",
                  "if", "else")


def docs_code_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose routing: the triage that decides whether a page
    goes to the code pipeline (different dedup granularity, different
    quality rules, its own mixture bucket) or the text pipeline —
    every pretraining corpus build runs this split before anything
    else touches the document. Signals: symbol-character density
    ({}();=<>[] per char), language-keyword hits, and the both-ways
    vote is_code = symbols above CODE_SYM_MIN AND keywords above
    CODE_KW_MIN (either alone misfires: math-heavy prose has symbols,
    a tutorial MENTIONS 'if' and 'class').

    The prose fixture models the code cohort in-plan (the
    docs_encoding_repair role-split device): every CODE_MOD-th doc's
    payload is REPLACED by a deterministic code block (a code page's
    content IS code) that must flip both signals; on a real crawl the
    text column is the input unchanged.

    Scale shape: zero shuffle — regexp counts and a token filter per
    row, no explode, no join."""
    docs = t(spark, sf_dir, "documents")
    wild = F.when(F.col("doc_id") % CODE_MOD == 4,
                  F.lit(_CODE_BLOCK)).otherwise(F.col("text"))
    n_chars = F.length(wild)
    n_sym = (n_chars - F.length(F.regexp_replace(
        wild, r"[{}();=<>\[\]]", "")))
    toks = F.split(F.lower(F.trim(wild)), r"\s+")
    kw = F.size(F.filter(toks, lambda x: x.isin(*_CODE_KEYWORDS)))
    sym_frac = F.round(n_sym / n_chars, 4)
    return docs.select(
        "doc_id",
        (F.col("doc_id") % CODE_MOD == 4).alias("modeled_code"),
        n_chars.cast("long").alias("n_chars"),
        n_sym.cast("long").alias("n_symbol_chars"),
        sym_frac.alias("symbol_frac"),
        kw.cast("long").alias("n_keywords"),
        ((sym_frac > CODE_SYM_MIN) & (kw > CODE_KW_MIN))
         .alias("is_code"))


def _code_detect_sql() -> str:
    kws = ", ".join(f"'{k}'" for k in _CODE_KEYWORDS)
    return f"""
WITH wild AS (
  SELECT doc_id,
         CASE WHEN doc_id % {CODE_MOD} = 4
              THEN '{_CODE_BLOCK}' ELSE text END AS wtext
  FROM documents
), m AS (
  SELECT doc_id,
         CAST(length(wtext) AS BIGINT) AS n_chars,
         CAST(length(wtext)
              - length(regexp_replace(wtext, '[{{}}();=<>\\[\\]]',
                                      '', 'g')) AS BIGINT)
             AS n_symbol_chars,
         CAST(len(list_filter(
             string_split_regex(lower(trim(wtext)), '\\s+'),
             x -> x IN ({kws}))) AS BIGINT) AS n_keywords
  FROM wild
)
SELECT doc_id,
       doc_id % {CODE_MOD} = 4 AS modeled_code,
       n_chars, n_symbol_chars,
       round(n_symbol_chars / CAST(n_chars AS DOUBLE), 4)
           AS symbol_frac,
       n_keywords,
       round(n_symbol_chars / CAST(n_chars AS DOUBLE), 4)
           > {CODE_SYM_MIN}
         AND n_keywords > {CODE_KW_MIN} AS is_code
FROM m
"""


# ---------------------------------------------------------------------------
# license detection over the code cohort
# ---------------------------------------------------------------------------

# (SPDX id, phrase-form name, family): the marker table the modeled
# headers draw from AND the detector maps back to. Policy literal:
# permissive licenses are admitted to the training mix, copyleft and
# unmarked code are held for review — the split every code-corpus
# build (The Stack, StarCoder) applies before anything else.
LICENSES = (
    ("MIT", "MIT", "permissive"),
    ("Apache-2.0", "Apache License, Version 2.0", "permissive"),
    ("GPL-3.0-only", "GNU General Public License v3", "copyleft"),
    ("BSD-3-Clause", "BSD 3-Clause", "permissive"),
)


def _license_modeled_expr(div: str) -> str:
    """Shared SQL string synthesizing the modeled code-cohort text:
    every CODE_MOD-th doc carries the code block (docs_code_detect's
    device), and within that cohort doc_id % 3 picks the marker form
    — 0: an SPDX tag line, 1: a license phrase, 2: unmarked (the
    unlicensed-code case the gate must hold). The license itself
    cycles with doc_id % 4. Pure integer/string ops, integer-div
    token parameterized (Spark DIV, DuckDB //) → bit-identical on
    both engines."""
    lic_case = " ".join(
        f"WHEN doc_id % 4 = {i} THEN '{lid}'"
        for i, (lid, _, _) in enumerate(LICENSES))
    phr_case = " ".join(
        f"WHEN doc_id % 4 = {i} THEN '{name}'"
        for i, (_, name, _) in enumerate(LICENSES))
    block = _CODE_BLOCK
    return (
        f"CASE WHEN (doc_id {div} {CODE_MOD}) % 3 = 0 THEN "
        f"'// SPDX-License-Identifier: ' || (CASE {lic_case} END) "
        f"|| chr(10) || '{block}' "
        f"WHEN (doc_id {div} {CODE_MOD}) % 3 = 1 THEN "
        f"'// Licensed under the ' || (CASE {phr_case} END) "
        f"|| '.' || chr(10) || '{block}' "
        f"ELSE '{block}' END")


def docs_license_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License detection + training-admission gate over the code
    cohort — the compliance stage every code-corpus build runs before
    dedup or quality (The Stack's license filter): detect an SPDX tag
    (authoritative) or, failing that, a license phrase; map to the
    SPDX id and its family; admit permissive code to the mix and hold
    copyleft/unknown. The fixture corpus carries no license text, so
    the code cohort models its headers in-plan (docs_code_detect's
    role-split device) with all three marker forms present — tag,
    phrase, unmarked — which makes the precedence order and the
    unknown-branch behavior observable instead of vacuous.

    Scale shape: zero-shuffle regexp scan per code doc, then one
    partial-agg rollup on the (detector, license) vocabulary — at
    10^12 docs the scan is the cost and it rides the code-routing
    pass the pipeline already pays for."""
    docs = t(spark, sf_dir, "documents")
    code = docs.filter(F.col("doc_id") % CODE_MOD == 4)
    wild = F.expr(_license_modeled_expr("DIV"))
    spdx = F.regexp_extract(
        wild, r"SPDX-License-Identifier:\s*([A-Za-z0-9.\-]+)", 1)
    phrase = F.lower(F.regexp_extract(
        wild, r"(?i)licensed under the ([A-Za-z0-9 ,.\-]+)\.", 1))
    phr_map = None
    for lid, name, _ in LICENSES:
        cond = phrase == name.lower()
        phr_map = (F.when(cond, lid) if phr_map is None
                   else phr_map.when(cond, lid))
    phr_map = phr_map.otherwise(F.lit("unknown"))
    license_col = (F.when(spdx != "", spdx)
                   .when(phrase != "", phr_map)
                   .otherwise(F.lit("none")))
    detector = (F.when(spdx != "", F.lit("spdx"))
                .when(phrase != "", F.lit("phrase"))
                .otherwise(F.lit("none")))
    fam = None
    for lid, _, family in LICENSES:
        cond = license_col == lid
        fam = (F.when(cond, family) if fam is None
               else fam.when(cond, family))
    fam = fam.otherwise(F.lit("unknown"))
    return (code.select(detector.alias("detector"),
                        license_col.alias("license"),
                        fam.alias("family"))
            .groupBy("detector", "license", "family")
            .agg(F.count(F.lit(1)).alias("n_docs"))
            .withColumn("allowed_for_training",
                        F.col("family") == "permissive")
            .orderBy("detector", "license"))


def _license_detect_sql() -> str:
    phr_case = " ".join(
        f"WHEN phrase = '{name.lower()}' THEN '{lid}'"
        for lid, name, _ in LICENSES)
    fam_case = " ".join(
        f"WHEN license = '{lid}' THEN '{family}'"
        for lid, _, family in LICENSES)
    return f"""
WITH code AS (
  SELECT doc_id, {_license_modeled_expr("//")} AS wtext
  FROM documents WHERE doc_id % {CODE_MOD} = 4
), det AS (
  SELECT doc_id,
         regexp_extract(wtext,
             'SPDX-License-Identifier:\\s*([A-Za-z0-9.\\-]+)', 1)
           AS spdx,
         lower(regexp_extract(wtext,
             '(?i)licensed under the ([A-Za-z0-9 ,.\\-]+)\\.', 1))
           AS phrase
  FROM code
), mapped AS (
  SELECT doc_id,
         CASE WHEN spdx <> '' THEN 'spdx'
              WHEN phrase <> '' THEN 'phrase'
              ELSE 'none' END AS detector,
         CASE WHEN spdx <> '' THEN spdx
              WHEN phrase <> '' THEN (CASE {phr_case}
                                      ELSE 'unknown' END)
              ELSE 'none' END AS license
  FROM det
), fam AS (
  SELECT detector, license,
         CASE {fam_case} ELSE 'unknown' END AS family
  FROM mapped
)
SELECT detector, license, family,
       CAST(COUNT(*) AS BIGINT) AS n_docs,
       family = 'permissive' AS allowed_for_training
FROM fam GROUP BY detector, license, family
ORDER BY detector, license
"""


# ---------------------------------------------------------------------------
# fill-in-the-middle (FIM) training transform
# ---------------------------------------------------------------------------

FIM_PRE = "<|fim_pre|>"
FIM_SUF = "<|fim_suf|>"
FIM_MID = "<|fim_mid|>"


def docs_fim_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform (Bavarian et al. 2022 —
    the code-model pretraining op): split each document into
    prefix/middle/suffix at a HASH-derived boundary and re-emit in PSM
    order (prefix, suffix, middle) with sentinel tokens, so the model
    learns infilling from an autoregressive objective.  The middle
    span is the center third with its start jittered by the document's
    own md5 (13 hex chars → exact 52-bit integer in both engines) —
    deterministic, so the oracle recomputes the identical split; a
    production run swaps the md5 jitter for a seeded RNG per epoch.
    Uses the same modeled-code cohort device as docs_code_detect
    (every CODE_MOD-th doc % == 4 carries a code payload): FIM is
    gated onto the code route in a real pipeline, and the transform
    must be exercised on genuinely code-shaped text.

    Scale shape: zero shuffle — md5, modular arithmetic, three
    substrings, and one concat per row; emits the reassembled text's
    md5 (not the text) so the check pins bytes without hauling them."""
    docs = t(spark, sf_dir, "documents")
    wild = F.when(F.col("doc_id") % CODE_MOD == 4,
                  F.lit(_CODE_BLOCK)).otherwise(F.col("text"))
    n = F.length(wild)
    third = F.floor(n / 3).cast("long")
    h = F.conv(F.substring(F.md5(wild), 1, 13), 16, 10).cast("long")
    s = (third + 1 + (h % third)).cast("int")     # split ∈ [third+1, 2·third]
    applied = n >= 3
    prefix = F.substring(wild, F.lit(1), s - 1)
    middle = F.substring(wild, s, third.cast("int"))
    suffix = F.substring(wild, (s + third).cast("int"),
                         (n - s - third + 1).cast("int"))
    fim = F.concat(F.lit(FIM_PRE), prefix, F.lit(FIM_SUF), suffix,
                   F.lit(FIM_MID), middle)
    return docs.select(
        "doc_id",
        (F.col("doc_id") % CODE_MOD == 4).alias("modeled_code"),
        n.cast("long").alias("n_chars"),
        applied.alias("fim_applied"),
        F.when(applied, s.cast("long")).otherwise(F.lit(0)).alias("split_start"),
        F.when(applied, (s - 1).cast("long")).otherwise(F.lit(0)).alias("prefix_len"),
        F.when(applied, third).otherwise(F.lit(0)).alias("middle_len"),
        F.when(applied, (n - s - third + 1).cast("long")).otherwise(F.lit(0))
         .alias("suffix_len"),
        F.when(applied, F.md5(fim)).otherwise(F.md5(wild))
         .alias("fim_digest"))


def _fim_split_sql() -> str:
    return f"""
WITH wild AS (
  SELECT doc_id, doc_id % {CODE_MOD} = 4 AS modeled_code,
         CASE WHEN doc_id % {CODE_MOD} = 4
              THEN '{_CODE_BLOCK}' ELSE text END AS wtext
  FROM documents
), m AS (
  SELECT doc_id, modeled_code, wtext,
         CAST(length(wtext) AS BIGINT) AS n,
         CAST(FLOOR(length(wtext) / 3) AS BIGINT) AS third,
         CAST(('0x' || substr(md5(wtext), 1, 13)) AS BIGINT) AS h
  FROM wild
), sp AS (
  SELECT doc_id, modeled_code, wtext, n, third,
         third + 1 + (h % third) AS s
  FROM m WHERE n >= 3
)
SELECT doc_id, modeled_code, n AS n_chars,
       TRUE AS fim_applied, s AS split_start,
       s - 1 AS prefix_len, third AS middle_len,
       n - s - third + 1 AS suffix_len,
       md5('{FIM_PRE}' || substr(wtext, 1, CAST(s - 1 AS INT))
           || '{FIM_SUF}' || substr(wtext, CAST(s + third AS INT),
                                    CAST(n - s - third + 1 AS INT))
           || '{FIM_MID}' || substr(wtext, CAST(s AS INT),
                                    CAST(third AS INT))) AS fim_digest
FROM sp
UNION ALL
SELECT doc_id, modeled_code, n AS n_chars,
       FALSE AS fim_applied, 0, 0, 0, 0, md5(wtext)
FROM m WHERE n < 3
"""


def docs_dedup_method_agreement(spark: SparkSession,
                                sf_dir: str) -> DataFrame:
    """Dedup-method agreement matrix — the QA artifact that decides
    which dedup families a pipeline actually needs to RUN: per-doc
    drop flags under each family (exact md5, MinHash-LSH connected
    components, SimHash banded Hamming — each with its own documented
    keeper convention: exact/minhash drop non-keepers, simhash drops
    any doc with a smaller-id verified near-dup), then the pairwise
    Jaccard agreement of the drop SETS. High agreement between two
    families means the cheaper one subsumes the dearer; low agreement
    means they see different duplication classes (exact sees bytes,
    minhash sees token overlap, simhash sees weighted-term profiles)
    and both earn their cost.

    Scale shape: the three subplans are the audited dedup shapes;
    flags join on doc_id; everything after is ONE single-row
    aggregate unpivoted into 3 matrix rows."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    ex = docs_dedup_keepers(spark, sf_dir) \
        .select("doc_id", F.col("is_dup").alias("exf"))
    mh = (docs_near_dup_clusters(spark, sf_dir)
          .filter(~F.col("is_keeper"))
          .select("doc_id", F.lit(1).alias("mhf")))
    sh = (docs_simhash_near_dup(spark, sf_dir)
          .select(F.col("doc_b").alias("doc_id")).distinct()
          .withColumn("shf", F.lit(1)))
    flags = (docs.join(ex, "doc_id", "left")
             .join(mh, "doc_id", "left").join(sh, "doc_id", "left")
             .select(F.coalesce("exf", F.lit(0)).alias("ex"),
                     F.coalesce("mhf", F.lit(0)).alias("mh"),
                     F.coalesce("shf", F.lit(0)).alias("sh")))
    s = flags.agg(
        F.sum("ex").alias("ne"), F.sum("mh").alias("nm"),
        F.sum("sh").alias("ns"),
        F.sum(F.col("ex") * F.col("mh")).alias("nem"),
        F.sum(F.col("ex") * F.col("sh")).alias("nes"),
        F.sum(F.col("mh") * F.col("sh")).alias("nms"))

    def row(ma, mb, na, nb, nboth):
        either = F.col(na) + F.col(nb) - F.col(nboth)
        agree = F.when(either == 0, F.lit(None).cast("double")) \
            .otherwise(F.round(F.col(nboth) / either, 6))
        return F.struct(
            F.lit(ma).alias("method_a"), F.lit(mb).alias("method_b"),
            F.col(na).cast("long").alias("n_drop_a"),
            F.col(nb).cast("long").alias("n_drop_b"),
            F.col(nboth).cast("long").alias("n_both"),
            either.cast("long").alias("n_either"),
            agree.alias("agreement"))

    rows = F.array(row("exact", "minhash", "ne", "nm", "nem"),
                   row("exact", "simhash", "ne", "ns", "nes"),
                   row("minhash", "simhash", "nm", "ns", "nms"))
    return (s.select(F.explode(rows).alias("r")).select("r.*"))


def _dedup_agreement_sql() -> str:
    def row(ma, mb, na, nb, nboth):
        either = f"({na} + {nb} - {nboth})"
        return (f"SELECT '{ma}' AS method_a, '{mb}' AS method_b, "
                f"{na} AS n_drop_a, {nb} AS n_drop_b, "
                f"{nboth} AS n_both, {either} AS n_either, "
                f"CASE WHEN {either} = 0 THEN NULL "
                f"ELSE round({nboth} / CAST({either} AS DOUBLE), 6) "
                f"END AS agreement FROM s")

    return f"""
WITH ex AS (
  SELECT doc_id, is_dup AS d FROM ({_DEDUP_KEEPERS_SQL})
), mh AS (
  SELECT doc_id, 1 AS d FROM ({_NEAR_DUP_CLUSTERS_SQL})
  WHERE NOT is_keeper
), sh AS (
  SELECT DISTINCT doc_b AS doc_id, 1 AS d
  FROM ({_SIMHASH_NEAR_DUP_SQL})
), flags AS (
  SELECT COALESCE(ex.d, 0) AS ex, COALESCE(mh.d, 0) AS mh,
         COALESCE(sh.d, 0) AS sh
  FROM documents d
  LEFT JOIN ex ON ex.doc_id = d.doc_id
  LEFT JOIN mh ON mh.doc_id = d.doc_id
  LEFT JOIN sh ON sh.doc_id = d.doc_id
), s AS (
  SELECT CAST(SUM(ex) AS BIGINT) AS ne, CAST(SUM(mh) AS BIGINT) AS nm,
         CAST(SUM(sh) AS BIGINT) AS ns,
         CAST(SUM(ex * mh) AS BIGINT) AS nem,
         CAST(SUM(ex * sh) AS BIGINT) AS nes,
         CAST(SUM(mh * sh) AS BIGINT) AS nms
  FROM flags
)
{row("exact", "minhash", "ne", "nm", "nem")}
UNION ALL
{row("exact", "simhash", "ne", "ns", "nes")}
UNION ALL
{row("minhash", "simhash", "nm", "ns", "nms")}
"""


EX_SUMMARY_K = 2    # segments kept per document
EX_SEG_W = 10       # tokens per summarization segment


def docs_extractive_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Centroid-method extractive summarization (Radev et al. 2004 —
    the MEAD family): score each candidate span by the mean
    document-level term frequency of its tokens (spans made of the
    document's dominant vocabulary are its centroid), keep the top
    EX_SUMMARY_K, and re-emit them in ORIGINAL order — the stage that
    manufactures (document → summary) pairs for summarization SFT
    from raw corpus text. Candidate spans are fixed EX_SEG_W-token
    windows because this corpus is single-sentence by construction
    (verified: every doc regex-splits to exactly 1 sentence), so
    sentence segmentation degenerates — the window device is the
    docs_lang_segments / docs_chunk_spans convention, and the scoring
    + deterministic selection (ties to the earlier span) is the
    operator. The summary is whitespace-normalized (tokens rejoined
    with single spaces).

    Scale shape: token explode → ONE (doc, token) tf groupBy →
    (doc, token)-keyed equi-join → per-segment rollup → per-doc top-K
    window; every exchange carries doc_id."""
    docs = t(spark, sf_dir, "documents")
    stoks = (docs.select(
        "doc_id",
        F.posexplode(_tokens()).alias("pos", "tok"))
        .filter(F.col("tok") != "")
        .withColumn("seg_idx",
                    F.floor(F.col("pos") / EX_SEG_W).cast("int")))
    tf = stoks.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    mass = (stoks.join(tf, ["doc_id", "tok"])
            .groupBy("doc_id", "seg_idx")
            .agg(F.sum("tf").alias("tf_mass"),
                 F.count("*").alias("seg_len")))
    score = F.round(F.col("tf_mass") / F.col("seg_len"), 6)
    w = Window.partitionBy("doc_id").orderBy(F.desc("score"),
                                             F.asc("seg_idx"))
    chosen = (mass.select("doc_id", "seg_idx", score.alias("score"))
              .withColumn("rk", F.row_number().over(w))
              .filter(F.col("rk") <= EX_SUMMARY_K))
    seg_text = (stoks.groupBy("doc_id", "seg_idx")
                .agg(F.array_join(F.transform(
                    F.sort_array(F.collect_list(
                        F.struct("pos", "tok"))),
                    lambda x: x["tok"]), " ").alias("seg")))
    sel = chosen.join(seg_text, ["doc_id", "seg_idx"])
    return (sel.groupBy("doc_id")
            .agg(F.count("*").alias("n_selected"),
                 F.array_join(F.transform(
                     F.sort_array(F.collect_list(
                         F.struct("seg_idx", "seg"))),
                     lambda x: x["seg"]), " ").alias("summary")))


_EXTRACTIVE_SUMMARY_SQL = rf"""
WITH stoks AS (
  SELECT doc_id, CAST(u.i - 1 AS INT) AS pos, tk[u.i] AS tok,
         CAST((u.i - 1) // {EX_SEG_W} AS INT) AS seg_idx
  FROM (SELECT doc_id, {_SQL_TOKENS} AS tk FROM documents),
       LATERAL unnest(range(1, len(tk) + 1)) AS u(i)
  WHERE tk[u.i] <> ''
), tf AS (
  SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
  FROM stoks GROUP BY doc_id, tok
), mass AS (
  SELECT s.doc_id, s.seg_idx,
         round(SUM(tf.tf) / CAST(COUNT(*) AS DOUBLE), 6) AS score
  FROM stoks s JOIN tf ON tf.doc_id = s.doc_id AND tf.tok = s.tok
  GROUP BY s.doc_id, s.seg_idx
), chosen AS (
  SELECT doc_id, seg_idx FROM (
    SELECT doc_id, seg_idx, ROW_NUMBER() OVER (
        PARTITION BY doc_id ORDER BY score DESC, seg_idx) AS rk
    FROM mass
  ) WHERE rk <= {EX_SUMMARY_K}
), seg_text AS (
  SELECT doc_id, seg_idx,
         string_agg(tok, ' ' ORDER BY pos) AS seg
  FROM stoks GROUP BY doc_id, seg_idx
)
SELECT s.doc_id, CAST(COUNT(*) AS BIGINT) AS n_selected,
       string_agg(s.seg, ' ' ORDER BY s.seg_idx) AS summary
FROM chosen c JOIN seg_text s
  ON s.doc_id = c.doc_id AND s.seg_idx = c.seg_idx
GROUP BY s.doc_id
"""


def docs_summary_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-style n-gram coverage scorecard for the extractive
    summarizer (Lin 2004's recall formulation, scored against the
    SOURCE document — the standard reference-free content-coverage
    proxy for manufactured (doc → summary) SFT pairs): per document,
    the fraction of the source's unigram and bigram MULTISET mass the
    summary covers (Σ min(count_sum, count_doc) / Σ count_doc) plus
    the token compression ratio — the knob that trades coverage
    against length.

    Everything is exact integer clipped counts; the only divisions are
    the final readout. Scale shape: the summary subplan re-derives
    (doc-keyed exchanges, see docs_extractive_summary); both gram
    tallies and the clipped-overlap join are keyed (doc_id, gram), so
    nothing is corpus-global."""
    docs = t(spark, sf_dir, "documents")
    summ = docs_extractive_summary(spark, sf_dir).select(
        "doc_id", "summary")

    def grams(frame: DataFrame, col: str, prefix: str) -> DataFrame:
        toks = F.split(F.lower(F.trim(F.col(col))), r"\s+")
        uni = frame.select("doc_id", F.explode(toks).alias("g")) \
            .filter(F.col("g") != "") \
            .groupBy("doc_id", "g").agg(F.count("*").alias("c")) \
            .withColumn("n", F.lit(1))
        bi_arr = F.filter(
            F.zip_with(toks, F.slice(toks, 2, F.greatest(
                F.size(toks) - 1, F.lit(0))),
                lambda x, y: F.concat_ws(" ", x, y)),
            # exactly two non-empty tokens: drops zip_with's padded
            # tail and any empty-token pair
            lambda s: s.rlike(r"^\S+ \S+$"))
        bi = frame.select("doc_id", F.explode(bi_arr).alias("g")) \
            .groupBy("doc_id", "g").agg(F.count("*").alias("c")) \
            .withColumn("n", F.lit(2))
        return uni.unionByName(bi).withColumnRenamed("c", prefix + "_c")

    ref = grams(docs.select("doc_id", "text"), "text", "ref")
    hyp = grams(summ.select("doc_id", "summary"), "summary", "hyp")
    overl = (ref.join(hyp, ["doc_id", "g", "n"], "left")
             .groupBy("doc_id", "n")
             .agg(F.sum("ref_c").alias("ref_total"),
                  F.sum(F.least(F.coalesce("hyp_c", F.lit(0)),
                                F.col("ref_c"))).alias("clipped")))
    wide = (overl.groupBy("doc_id")
            .pivot("n", [1, 2])
            .agg(F.first("ref_total").alias("ref"),
                 F.first("clipped").alias("hit")))
    lens = docs.select(
        "doc_id",
        F.size(F.filter(F.split(F.lower(F.trim(F.col("text"))), r"\s+"),
                        lambda s: s != "")).alias("n_doc_tokens"))
    slens = summ.select(
        "doc_id",
        F.size(F.split("summary", " ")).alias("n_sum_tokens"))
    return (wide.join(lens, "doc_id").join(slens, "doc_id")
            .select(
                "doc_id",
                F.col("n_doc_tokens").cast("long").alias("n_doc_tokens"),
                F.col("n_sum_tokens").cast("long").alias("n_sum_tokens"),
                F.round(F.col("1_hit") / F.col("1_ref"), 6)
                .alias("rouge1_recall"),
                F.round(F.coalesce(F.col("2_hit") / F.col("2_ref"),
                                   F.lit(0.0)), 6)
                .alias("rouge2_recall"),
                F.round(F.col("n_sum_tokens") / F.col("n_doc_tokens"), 6)
                .alias("compression"))
            .orderBy("doc_id"))


def _summary_coverage_sql() -> str:
    return f"""
WITH summ AS (
  SELECT doc_id, summary FROM ({_EXTRACTIVE_SUMMARY_SQL})
), rtok AS (
  SELECT doc_id, tk FROM (SELECT doc_id, {_SQL_TOKENS} AS tk
                          FROM documents)
), stok AS (
  SELECT doc_id, string_split(summary, ' ') AS tk FROM summ
), ref AS (
  SELECT doc_id, tk[u.i] AS g, 1 AS n, CAST(COUNT(*) AS BIGINT) AS c
  FROM rtok, LATERAL unnest(range(1, len(tk) + 1)) AS u(i)
  WHERE tk[u.i] <> '' GROUP BY 1, 2, 3
  UNION ALL
  SELECT doc_id, tk[u.i] || ' ' || tk[u.i + 1], 2, COUNT(*)
  FROM rtok, LATERAL unnest(range(1, len(tk))) AS u(i)
  WHERE tk[u.i] <> '' AND tk[u.i + 1] <> '' GROUP BY 1, 2, 3
), hyp AS (
  SELECT doc_id, tk[u.i] AS g, 1 AS n, CAST(COUNT(*) AS BIGINT) AS c
  FROM stok, LATERAL unnest(range(1, len(tk) + 1)) AS u(i)
  WHERE tk[u.i] <> '' GROUP BY 1, 2, 3
  UNION ALL
  SELECT doc_id, tk[u.i] || ' ' || tk[u.i + 1], 2, COUNT(*)
  FROM stok, LATERAL unnest(range(1, len(tk))) AS u(i)
  WHERE tk[u.i] <> '' AND tk[u.i + 1] <> '' GROUP BY 1, 2, 3
), overl AS (
  SELECT r.doc_id, r.n,
         CAST(SUM(r.c) AS BIGINT) AS ref_total,
         CAST(SUM(LEAST(COALESCE(h.c, 0), r.c)) AS BIGINT) AS clipped
  FROM ref r LEFT JOIN hyp h
    ON h.doc_id = r.doc_id AND h.g = r.g AND h.n = r.n
  GROUP BY r.doc_id, r.n
), wide AS (
  SELECT doc_id,
         MAX(CASE WHEN n = 1 THEN ref_total END) AS r1,
         MAX(CASE WHEN n = 1 THEN clipped END) AS h1,
         MAX(CASE WHEN n = 2 THEN ref_total END) AS r2,
         MAX(CASE WHEN n = 2 THEN clipped END) AS h2
  FROM overl GROUP BY doc_id
), lens AS (
  SELECT doc_id, CAST(len(list_filter(tk, x -> x <> '')) AS BIGINT)
           AS n_doc_tokens
  FROM rtok
), slens AS (
  SELECT doc_id, CAST(len(string_split(summary, ' ')) AS BIGINT)
           AS n_sum_tokens
  FROM summ
)
SELECT w.doc_id, lens.n_doc_tokens, slens.n_sum_tokens,
       round(h1 / CAST(r1 AS DOUBLE), 6) AS rouge1_recall,
       round(COALESCE(h2 / CAST(r2 AS DOUBLE), 0.0), 6)
         AS rouge2_recall,
       round(slens.n_sum_tokens / CAST(lens.n_doc_tokens AS DOUBLE), 6)
         AS compression
FROM wide w
JOIN lens USING (doc_id) JOIN slens USING (doc_id)
ORDER BY doc_id
"""


PFX_JACCARD_T = 0.6   # similarity threshold the prefix filter serves


ROUGE_L_SRC_CAP = 64   # source tokens entering the LCS (literal cap —
ROUGE_L_SUM_CAP = 20   # the quadratic DP needs a stated budget; both
                       # engines cap identically so scores stay pinned)


def rouge_l_py(text: str | None,
               summary: str | None) -> tuple[int, int, int]:
    """Pure-Python ROUGE-L kernel: (n_src, n_sum, lcs_len) over the
    capped token sequences, with the LCS row recurrence written in
    the masked-prefix-max form cur[j] = max(prev[j],
    max_{k≤j, T_k=S_i}(prev[k−1]+1)) — the same formulation the
    oracle's recursive CTE evaluates, so both engines walk the
    identical DP (the classic three-way recurrence computes the same
    integer; this form needs no within-row dependency, which is what
    makes it SQL-expressible)."""
    import re as _re

    src = [w for w in _re.split(r"\s+", (text or "").lower().strip())
           if w != ""][:ROUGE_L_SRC_CAP]
    summ = [w for w in _re.split(r"\s+", (summary or "").strip())
            if w != ""][:ROUGE_L_SUM_CAP]
    n, m = len(src), len(summ)
    prev = [0] * (n + 1)
    for i in range(m):
        cur = [0] * (n + 1)
        best = 0
        for j in range(1, n + 1):
            if src[j - 1] == summ[i]:
                if prev[j - 1] + 1 > best:
                    best = prev[j - 1] + 1
            cur[j] = prev[j] if prev[j] > best else best
        prev = cur
    return n, m, prev[n]


def docs_rouge_l(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROUGE-L scorecard for the extractive summarizer (Lin 2004 §3):
    longest-common-subsequence recall/precision/F1 of the summary
    against its source — the ORDER-sensitive companion to
    docs_summary_coverage's n-gram multisets (a bag-of-grams score
    cannot see a summary that shuffles the document's clauses; LCS
    can, because only in-order tokens count). Sequences are capped at
    literal budgets (the DP is quadratic; at 10^12 docs the cap IS
    the cost model) and the summary side reuses the SAME
    docs_extractive_summary subplan the SFT-pair exporter ships.

    Scale shape: the summarizer's doc_id-keyed subplan, one
    doc_id-keyed join back to the source text, then a narrow
    Arrow-batched kernel (bounded 64×20 integer DP per row — pure
    CPU, zero shuffle). Floats appear only in the final P/R/F1
    readout, with the expression tree mirrored in the oracle."""
    docs = t(spark, sf_dir, "documents")
    summ = docs_extractive_summary(spark, sf_dir) \
        .select("doc_id", "summary")

    @F.pandas_udf("struct<n_src: int, n_sum: int, lcs: int>")
    def lcs_udf(texts: pd.Series, summaries: pd.Series) -> pd.DataFrame:
        vals = [rouge_l_py(a, b) for a, b in zip(texts, summaries)]
        return pd.DataFrame(vals, columns=["n_src", "n_sum", "lcs"])

    joined = docs.select("doc_id", "text").join(summ, "doc_id")
    scored = joined.select(
        "doc_id", lcs_udf("text", "summary").alias("s")) \
        .select("doc_id",
                F.col("s.n_src").cast("long").alias("n_src_tokens"),
                F.col("s.n_sum").cast("long").alias("n_sum_tokens"),
                F.col("s.lcs").cast("long").alias("lcs_len"))
    r = F.col("lcs_len") / F.col("n_src_tokens")
    p = F.col("lcs_len") / F.col("n_sum_tokens")
    f1 = F.when(F.col("lcs_len") > 0,
                2 * p * r / (p + r)).otherwise(F.lit(0.0))
    return (scored.select(
        "doc_id", "n_src_tokens", "n_sum_tokens", "lcs_len",
        F.round(r, 6).alias("rouge_l_recall"),
        F.round(p, 6).alias("rouge_l_precision"),
        F.round(f1, 6).alias("rouge_l_f1"))
        .orderBy("doc_id"))


def _rouge_l_sql() -> str:
    return f"""
WITH RECURSIVE summ AS (
  SELECT doc_id, summary FROM ({_EXTRACTIVE_SUMMARY_SQL})
), src AS (
  SELECT doc_id,
         list_slice(list_filter({_SQL_TOKENS}, w -> w <> ''),
                    1, {ROUGE_L_SRC_CAP}) AS s
  FROM documents
), hyp AS (
  SELECT summ.doc_id,
         list_slice(list_filter(string_split(summary, ' '),
                                w -> w <> ''),
                    1, {ROUGE_L_SUM_CAP}) AS h
  FROM summ
), pair AS (
  SELECT src.doc_id, src.s, hyp.h, len(src.s) AS n, len(hyp.h) AS m
  FROM src JOIN hyp ON hyp.doc_id = src.doc_id
), step(doc_id, s, h, n, m, i, row) AS (
  SELECT doc_id, s, h, n, m, 0,
         list_transform(range(0, n + 1), x -> 0)
  FROM pair
  UNION ALL
  SELECT doc_id, s, h, n, m, i + 1,
         list_transform(range(1, n + 2), j -> CASE WHEN j = 1 THEN 0
           ELSE greatest(
             row[j],
             COALESCE(list_max(list_transform(range(1, j),
               k -> CASE WHEN s[k] = h[i + 1]
                         THEN row[k] + 1 ELSE 0 END)), 0))
           END)
  FROM step WHERE i < m
), final AS (
  SELECT doc_id, n, m, row[n + 1] AS lcs FROM step WHERE i = m
)
SELECT doc_id, CAST(n AS BIGINT) AS n_src_tokens,
       CAST(m AS BIGINT) AS n_sum_tokens,
       CAST(lcs AS BIGINT) AS lcs_len,
       round(lcs / CAST(n AS DOUBLE), 6) AS rouge_l_recall,
       round(lcs / CAST(m AS DOUBLE), 6) AS rouge_l_precision,
       round(CASE WHEN lcs > 0 THEN
               2 * (lcs / CAST(m AS DOUBLE)) * (lcs / CAST(n AS DOUBLE))
               / ((lcs / CAST(m AS DOUBLE)) + (lcs / CAST(n AS DOUBLE)))
             ELSE 0.0 END, 6) AS rouge_l_f1
FROM final ORDER BY doc_id
"""


def docs_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prefix-filtered exact set-similarity join (SSJoin /
    AllPairs / PPJoin family — Chaudhuri et al. 2006, Bayardo et al.
    2007, Xiao et al. 2008): the COMPLETE near-dup candidate
    generator the LSH tier cannot be — for token-set Jaccard ≥ t,
    any qualifying pair MUST share a token within each side's prefix
    of its ⌊(1−t)·|x|⌋+1 RAREST tokens, so equi-joining on prefix
    tokens yields every true pair (no-false-negative guarantee,
    pinned against a brute-force sweep in tests), and rarest-first
    ordering makes prefix tokens the least shared — the join's fanout
    control is the algorithm itself, not a cap. Candidates are then
    verified with the exact Jaccard and filtered at t. Set elements
    are distinct word 3-shingles — the SAME universe as the MinHash
    tier, so the complete join and the LSH approximation are directly
    comparable (tests pin candidates ⊇ the LSH-verified pairs AND ⊇ a
    brute-force sweep).

    Where it sits: LSH (docs_minhash_lsh_pairs) trades recall for a
    hard bucket bound — right at 10^12 docs; the prefix filter is
    exact and right when completeness is contractual (legal takedown
    scans, eval-set leak audits) at the price of a token-ordered
    prefix join whose volume depends on the df distribution.

    Scale shape: one df groupBy (vocabulary-sized), a broadcast df
    rank table onto the token explode, one window per doc for the
    rarity order, the prefix equi-join, and candidate-driven exact
    verification (pair-keyed partial-agg counts)."""
    docs = t(spark, sf_dir, "documents")
    toks = (docs.select("doc_id",
                        F.explode(F.array_distinct(
                            _shingles(_tokens()))).alias("tok")))
    df_rank = (toks.groupBy("tok").agg(F.count("*").alias("df"))
               .select("tok", F.struct("df", "tok").alias("rk")))
    ranked = toks.join(F.broadcast(df_rank), "tok")
    w = Window.partitionBy("doc_id").orderBy("rk")
    sized = (ranked.withColumn("pos", F.row_number().over(w))
             .withColumn("sz", F.count("*").over(
                 Window.partitionBy("doc_id"))))
    prefix_len = F.floor((1.0 - PFX_JACCARD_T) * F.col("sz")) + 1
    prefix = sized.filter(F.col("pos") <= prefix_len) \
        .select("doc_id", "tok", "sz")
    a = prefix.select(F.col("doc_id").alias("doc_a"),
                      F.col("sz").alias("sz_a"), "tok")
    b = prefix.select(F.col("doc_id").alias("doc_b"),
                      F.col("sz").alias("sz_b"), "tok")
    # AllPairs length filter (completeness-preserving: J(A,B) >= t
    # forces t <= |A|/|B| <= 1/t, since J <= min/max) — prunes
    # size-incompatible candidates before verification
    compat = (F.least("sz_a", "sz_b")
              >= PFX_JACCARD_T * F.greatest("sz_a", "sz_b"))
    cand = (a.join(b, "tok")
            .filter(F.col("doc_a") < F.col("doc_b"))
            .filter(compat)
            .select("doc_a", "doc_b", "sz_a", "sz_b").distinct())
    ta = toks.select(F.col("doc_id").alias("doc_a"), "tok")
    tb = toks.select(F.col("doc_id").alias("doc_b"), "tok")
    # candidate-DRIVEN verification: intersect only candidate pairs'
    # token lists (Σ_cand |A| rows), never the all-pairs co-token join
    # the prefix filter exists to avoid
    inter = (cand.join(ta, "doc_a")
             .join(tb, ["doc_b", "tok"])
             .groupBy("doc_a", "doc_b", "sz_a", "sz_b")
             .agg(F.count("*").alias("n_inter")))
    jac = F.round(
        F.col("n_inter")
        / (F.col("sz_a") + F.col("sz_b") - F.col("n_inter")), 6)
    return (inter.select("doc_a", "doc_b",
                         F.col("n_inter").cast("long").alias("n_inter"),
                         jac.alias("jaccard"))
            .filter(F.col("jaccard") >= PFX_JACCARD_T))


_PREFIX_JOIN_SQL = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, tok
  FROM (SELECT doc_id, unnest({_SQL_SHINGLES}) AS tok FROM documents)
), dfr AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM toks GROUP BY tok
), sized AS (
  SELECT t.doc_id, t.tok,
         ROW_NUMBER() OVER (PARTITION BY t.doc_id
                            ORDER BY d.df, t.tok) AS pos,
         COUNT(*) OVER (PARTITION BY t.doc_id) AS sz
  FROM toks t JOIN dfr d ON d.tok = t.tok
), prefix AS (
  SELECT doc_id, tok, sz FROM sized
  WHERE pos <= FLOOR((1.0 - {PFX_JACCARD_T}) * sz) + 1
), cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.sz AS sz_a, b.sz AS sz_b
  FROM prefix a JOIN prefix b ON a.tok = b.tok
  WHERE a.doc_id < b.doc_id
    AND LEAST(a.sz, b.sz) >= {PFX_JACCARD_T} * GREATEST(a.sz, b.sz)
), inter AS (
  SELECT c.doc_a, c.doc_b, c.sz_a, c.sz_b,
         CAST(COUNT(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN toks a ON a.doc_id = c.doc_a
  JOIN toks b ON b.doc_id = c.doc_b AND b.tok = a.tok
  GROUP BY c.doc_a, c.doc_b, c.sz_a, c.sz_b
)
SELECT doc_a, doc_b, n_inter,
       round(n_inter / CAST(sz_a + sz_b - n_inter AS DOUBLE), 6)
         AS jaccard
FROM inter
WHERE round(n_inter / CAST(sz_a + sz_b - n_inter AS DOUBLE), 6)
      >= {PFX_JACCARD_T}
"""


CT_NGRAM = 3        # char n-gram width
CT_PROFILE = 64     # profile depth P (ranks 1..P per profile)

# Modeled language-marker cohorts (the docs_lang_segments device): the
# fixture's ``lang`` column is a pure LABEL — the text vocabulary is
# identical English tech terms in every language (verified: top-8
# tokens per lang are the same shared words), so no content-based
# classifier can have signal on the raw text. Real multilingual text
# is modeled by appending each language's actual function words
# in-plan; the synthesis is the fixture, the rank-order classification
# is the operator.
CT_MARKERS: dict[str, str] = {
    "en": "the of and to in is it that was for",
    "de": "der die das und ist nicht von mit sich auf",
    "es": "el la los las que de en una por con",
    "fr": "le la les des et est dans une pour que",
    "zh": "de shi bu le zai you wo ta men zhe",
}


def docs_ct_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cavnar–Trenkle rank-order language ID (1994, "N-Gram-Based
    Text Categorization") — the SECOND langid algorithm beside the
    stopword voter (docs_langid), because production pipelines
    arbitrate language with independent signals (the
    docs_lang_confusion pattern needs a second opinion): per-language
    char-trigram profiles are TRAINED on the even-doc_id half (top
    CT_PROFILE trigrams by frequency, rank-ordered), each odd-half
    document builds its own profile the same way, and the document is
    assigned the language minimizing the out-of-place distance
    Σ |rank_doc − rank_lang| with a CT_PROFILE penalty for trigrams
    missing from the language profile. Ties break to the
    lexicographically first language. Text carries the CT_MARKERS
    modeled multilingual cohort (see above) — measured: accuracy is
    chance (0.22) on the raw label-only fixture and must be ≥0.95
    with the markers (pinned in tests).

    Scale shape: profile training is one (lang, gram) partial-agg
    groupBy + a per-lang top-P window over a vocabulary-sized frame —
    the result is a ≤|langs|·P-row table that BROADCASTS; scoring is
    the doc-profile groupBy (distinct-gram volume), a broadcast left
    join, and a per-(doc, lang) rollup over ≤P rows each."""
    docs = t(spark, sf_dir, "documents")
    marker = F.col("lang")
    for lg, words in CT_MARKERS.items():
        marker = F.when(F.col("lang") == lg,
                        F.lit((" " + words) * 3)).otherwise(marker)
    wild = F.concat(F.col("text"), marker)
    norm = F.regexp_replace(F.lower(F.trim(wild)), r"\s+", " ")
    n = F.length(norm)
    grams = F.when(
        n >= CT_NGRAM,
        F.transform(F.sequence(F.lit(1), n - (CT_NGRAM - 1)),
                    lambda i: F.substring(norm, i, CT_NGRAM))
    ).otherwise(F.array().cast("array<string>"))
    base = docs.select("doc_id", "lang", F.explode(grams).alias("g"))
    train = base.filter(F.col("doc_id") % 2 == 0)
    test = base.filter(F.col("doc_id") % 2 == 1)

    w_lang = Window.partitionBy("lang").orderBy(F.desc("cnt"), "g")
    lang_prof = (train.groupBy("lang", "g")
                 .agg(F.count("*").alias("cnt"))
                 .withColumn("lrank", F.row_number().over(w_lang))
                 .filter(F.col("lrank") <= CT_PROFILE)
                 .select(F.col("lang").alias("plang"), "g", "lrank"))
    w_doc = Window.partitionBy("doc_id").orderBy(F.desc("cnt"), "g")
    doc_prof = (test.groupBy("doc_id", "lang", "g")
                .agg(F.count("*").alias("cnt"))
                .withColumn("drank", F.row_number().over(w_doc))
                .filter(F.col("drank") <= CT_PROFILE)
                .select("doc_id", F.col("lang").alias("true_lang"),
                        "g", "drank"))
    langs = lang_prof.select("plang").distinct()
    pairs = doc_prof.crossJoin(F.broadcast(langs))
    scored = (pairs.join(F.broadcast(lang_prof), ["plang", "g"], "left")
              .select("doc_id", "true_lang", "plang",
                      F.coalesce(F.abs(F.col("drank") - F.col("lrank")),
                                 F.lit(CT_PROFILE)).alias("oop")))
    dist = scored.groupBy("doc_id", "true_lang", "plang").agg(
        F.sum("oop").alias("distance"))
    w_best = Window.partitionBy("doc_id").orderBy("distance", "plang")
    return (dist.withColumn("rn", F.row_number().over(w_best))
            .filter(F.col("rn") == 1)
            .select("doc_id", "true_lang",
                    F.col("plang").alias("pred_lang"),
                    F.col("distance").cast("long").alias("distance"),
                    (F.col("plang") == F.col("true_lang"))
                    .alias("correct")))


def _ct_marker_case() -> str:
    whens = " ".join(
        f"WHEN '{lg}' THEN '{(' ' + words) * 3}'"
        for lg, words in CT_MARKERS.items())
    return f"CASE lang {whens} ELSE lang END"


_CT_LANGID_SQL = f"""
WITH nrm AS (
  SELECT doc_id, lang,
         regexp_replace(lower(trim(text || {_ct_marker_case()})),
                        '\\s+', ' ', 'g') AS norm
  FROM documents
), base AS (
  SELECT doc_id, lang, substring(norm, CAST(u.i AS INT), {CT_NGRAM}) AS g
  FROM nrm, LATERAL unnest(range(1, length(norm) - {CT_NGRAM - 2}))
       AS u(i)
  WHERE length(norm) >= {CT_NGRAM}
), lang_prof AS (
  SELECT lang AS plang, g, lrank FROM (
    SELECT lang, g, ROW_NUMBER() OVER (PARTITION BY lang
             ORDER BY COUNT(*) DESC, g) AS lrank
    FROM base WHERE doc_id % 2 = 0 GROUP BY lang, g
  ) WHERE lrank <= {CT_PROFILE}
), doc_prof AS (
  SELECT doc_id, true_lang, g, drank FROM (
    SELECT doc_id, lang AS true_lang, g,
           ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY COUNT(*) DESC, g) AS drank
    FROM base WHERE doc_id % 2 = 1 GROUP BY doc_id, lang, g
  ) WHERE drank <= {CT_PROFILE}
), pairs AS (
  SELECT d.doc_id, d.true_lang, l.plang, d.g, d.drank
  FROM doc_prof d CROSS JOIN (SELECT DISTINCT plang FROM lang_prof) l
), dist AS (
  SELECT p.doc_id, p.true_lang, p.plang,
         CAST(SUM(COALESCE(ABS(p.drank - lp.lrank), {CT_PROFILE}))
              AS BIGINT) AS distance
  FROM pairs p LEFT JOIN lang_prof lp
    ON lp.plang = p.plang AND lp.g = p.g
  GROUP BY p.doc_id, p.true_lang, p.plang
)
SELECT doc_id, true_lang, plang AS pred_lang, distance,
       plang = true_lang AS correct
FROM (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY distance, plang) AS rn
  FROM dist
) WHERE rn = 1
"""


STOPW_K = 10   # induced stopwords reported per language


def docs_stopword_induction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-driven stopword-table induction — the bootstrap behind
    the fixed stopword lists the langid / quality / lexical operators
    consume: per language, rank tokens by DOCUMENT frequency (the
    fraction of that language's docs containing the token at least
    once — df, not tf, so one spammy doc can't promote its own
    vocabulary) and keep the top STOPW_K with deterministic
    (df desc, token) tie-breaks. On a new language or domain this
    table IS how the list gets built; the fixed lists elsewhere are
    then a reviewed artifact swap of this output.

    Scale shape: per-doc DISTINCT tokens first (array_distinct — a
    narrow map, so the groupBy ships one row per (doc, distinct tok)),
    one partial-agg groupBy keyed (lang, token) at distinct-token
    volume, a tiny per-lang count, and a per-lang top-K window over
    the (lang, token) frame."""
    docs = t(spark, sf_dir, "documents")
    toks = _tokens()
    per_doc = (docs.select("doc_id", "lang",
                           F.explode(F.array_distinct(toks)).alias("tok"))
               .filter(F.col("tok") != ""))
    df_counts = per_doc.groupBy("lang", "tok").agg(
        F.count("*").alias("n_docs_with"))
    lang_n = docs.groupBy("lang").agg(F.count("*").alias("n_docs_lang"))
    w = Window.partitionBy("lang").orderBy(F.desc("n_docs_with"), "tok")
    ranked = (df_counts.withColumn("rank", F.row_number().over(w))
              .filter(F.col("rank") <= STOPW_K)
              .join(F.broadcast(lang_n), "lang"))
    return ranked.select(
        "lang", "rank", F.col("tok").alias("token"), "n_docs_with",
        F.round(F.col("n_docs_with") / F.col("n_docs_lang"), 6)
         .alias("df_frac"))


def _stopword_induction_sql() -> str:
    return f"""
WITH per_doc AS (
  SELECT DISTINCT doc_id, lang, tok
  FROM (SELECT doc_id, lang, unnest({_SQL_TOKENS}) AS tok
        FROM documents)
  WHERE tok <> ''
), dfc AS (
  SELECT lang, tok, CAST(COUNT(*) AS BIGINT) AS n_docs_with
  FROM per_doc GROUP BY lang, tok
), ln AS (
  SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs_lang
  FROM documents GROUP BY lang
), ranked AS (
  SELECT lang, tok, n_docs_with,
         CAST(ROW_NUMBER() OVER (PARTITION BY lang
              ORDER BY n_docs_with DESC, tok) AS INT) AS rank
  FROM dfc
)
SELECT r.lang, r.rank, r.tok AS token, r.n_docs_with,
       round(r.n_docs_with / CAST(ln.n_docs_lang AS DOUBLE), 6)
         AS df_frac
FROM ranked r JOIN ln ON ln.lang = r.lang
WHERE r.rank <= {STOPW_K}
"""


CB_MIN_BATCHES = 16   # floor on the batch count (≈ corpus / batch size)


def docs_contrastive_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE training-batch construction — the contrastive-
    learning guard the near-dup pipeline feeds: with in-batch
    negatives (CLIP/DPR-style training), two near-duplicates landing
    in the same batch become a FALSE negative (the loss pushes apart
    two views of the same content), so batch assignment must separate
    every near-dup cluster across batches. Deterministic scheme with
    a hard guarantee: batch_id = (within-cluster rank + md5(cluster)
    offset) mod n_batches, where n_batches = max(CB_MIN_BATCHES,
    largest cluster size) — ranks within a cluster are distinct mod
    n_batches, so NO batch ever holds two members of one cluster,
    while the per-cluster hash offset spreads cluster starts evenly
    so batch sizes stay balanced. Singleton docs (never paired) are
    their own cluster.

    Scale shape: the cluster subplan is the audited near-dup tail;
    on top of it one doc_id equi-join, one cluster-keyed window for
    the rank (clusters are tiny — bounded by the LSH bucket cap),
    the batch count as a broadcast 1-row aggregate, and narrow
    modular arithmetic."""
    docs = t(spark, sf_dir, "documents")
    clusters = docs_near_dup_clusters(spark, sf_dir) \
        .select("doc_id", "cluster_id")
    assigned = (docs.select("doc_id").join(clusters, "doc_id", "left")
                .select("doc_id",
                        F.coalesce("cluster_id", F.col("doc_id"))
                         .alias("cluster")))
    sizes = assigned.groupBy("cluster").agg(F.count("*").alias("csz"))
    nbrow = sizes.agg(
        F.greatest(F.max("csz"),
                   F.lit(CB_MIN_BATCHES).cast("long")).alias("nb"))
    w = Window.partitionBy("cluster").orderBy("doc_id")
    ranked = assigned.withColumn("r", F.row_number().over(w) - 1)
    off = F.conv(F.substring(F.md5(F.col("cluster").cast("string")),
                             1, 13), 16, 10).cast("long")
    return (ranked.crossJoin(F.broadcast(nbrow))
            .select("doc_id", "cluster",
                    ((F.col("r") + off % F.col("nb")) % F.col("nb"))
                    .cast("int").alias("batch_id")))


_CONTRASTIVE_BATCHES_SQL = f"""
WITH clusters AS (
{_NEAR_DUP_CLUSTERS_SQL}
), assigned AS (
  SELECT d.doc_id, COALESCE(c.cluster_id, d.doc_id) AS cluster
  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id
), sizes AS (
  SELECT cluster, CAST(COUNT(*) AS BIGINT) AS csz
  FROM assigned GROUP BY cluster
), nb AS (
  SELECT GREATEST(MAX(csz), {CB_MIN_BATCHES}) AS nb FROM sizes
), ranked AS (
  SELECT doc_id, cluster,
         ROW_NUMBER() OVER (PARTITION BY cluster ORDER BY doc_id) - 1
           AS r
  FROM assigned
)
SELECT doc_id, cluster,
       CAST((r + CAST(('0x' || substr(md5(CAST(cluster AS VARCHAR)),
                                      1, 13)) AS BIGINT) % nb.nb)
            % nb.nb AS INT) AS batch_id
FROM ranked, nb
"""


# ---------------------------------------------------------------------------
# RAKE keyphrase extraction
# ---------------------------------------------------------------------------

# Phrase-boundary stopwords (RAKE delimiters). Small fixed list shared
# verbatim by the Spark plan and the oracle; docs_stopword_induction is
# the data-driven bootstrap for extending it per language/domain.
_RAKE_STOPWORDS = ("the", "and", "of", "to", "in", "with", "that", "for",
                   "a", "an", "is", "are", "on", "by", "or", "as", "at")
_RAKE_SPLIT = r"\b(?:" + "|".join(_RAKE_STOPWORDS) + r")\b"
RAKE_TOP_K = 3


def docs_keyphrases_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (Rose et al. 2010, "Automatic Keyword
    Extraction from Individual Documents"): candidate phrases are the
    maximal runs of non-stopword tokens; each member word scores
    degree(w)/freq(w) over the document's candidates (degree = summed
    length of the phrases containing w — long-phrase co-occurrence
    boosts); a phrase scores the sum of its word scores, and the top
    RAKE_TOP_K phrases per document win (score desc, phrase asc).

    Cross-engine float discipline: the word ratio is materialized as
    exact integer micro-units (``degree * 1_000_000 DIV freq``) and
    SUMMED AS BIGINT, so partial-aggregation order can never perturb
    the hash; the exposed score divides once at the end.

    Scale shape (100 TB): phrase segmentation is one narrow JVM
    regexp split (no Python); everything downstream shuffles on
    doc_id-prefixed keys only — (doc_id, word) stats, (doc_id, phrase)
    occurrence counts, the score join, and the per-doc top-k window
    all co-partition by doc_id, and nothing is corpus-global."""
    docs = t(spark, sf_dir, "documents")
    clean = F.regexp_replace(F.lower("text"), "[^a-z0-9]+", " ")
    segs = F.transform(
        F.split(clean, _RAKE_SPLIT),
        lambda s: F.trim(F.regexp_replace(s, " +", " ")))
    ph = (docs.select(
            "doc_id",
            F.explode(F.filter(segs, lambda s: s != "")).alias("phrase"))
          .select("doc_id", "phrase",
                  F.split("phrase", " ").alias("words"),
                  F.size(F.split("phrase", " ")).alias("plen")))
    wstats = (ph.select("doc_id", "plen", F.explode("words").alias("word"))
              .groupBy("doc_id", "word")
              .agg(F.count(F.lit(1)).alias("freq"),
                   F.sum("plen").alias("degree")))
    phrases = (ph.groupBy("doc_id", "phrase")
               .agg(F.count(F.lit(1)).alias("n_occ")))
    member = phrases.select(
        "doc_id", "phrase", "n_occ",
        F.explode(F.split("phrase", " ")).alias("word"))
    scored = (member.join(wstats, ["doc_id", "word"])
              .groupBy("doc_id", "phrase", "n_occ")
              .agg(F.sum(F.expr("degree * 1000000 DIV freq"))
                   .alias("score_micro")))
    w = Window.partitionBy("doc_id").orderBy(
        F.desc("score_micro"), F.asc("phrase"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= RAKE_TOP_K)
            .select("doc_id", F.col("rank").cast("int").alias("rank"),
                    "phrase", F.col("n_occ").cast("long").alias("n_occ"),
                    F.round(F.col("score_micro") / 1e6, 6).alias("score")))


def _rake_sql() -> str:
    stop = _RAKE_SPLIT  # DuckDB string literals keep backslashes as-is
    return f"""
WITH segs AS (
  SELECT doc_id,
         trim(regexp_replace(s, ' +', ' ', 'g')) AS phrase
  FROM documents,
       LATERAL unnest(string_split_regex(
         regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'),
         '{stop}')) AS u(s)
), ph AS (
  SELECT doc_id, phrase,
         string_split(phrase, ' ') AS words,
         len(string_split(phrase, ' ')) AS plen
  FROM segs WHERE phrase <> ''
), wstats AS (
  SELECT doc_id, w.word,
         CAST(COUNT(*) AS BIGINT) AS freq,
         CAST(SUM(plen) AS BIGINT) AS degree
  FROM ph, LATERAL unnest(words) AS w(word)
  GROUP BY doc_id, w.word
), phrases AS (
  SELECT doc_id, phrase, CAST(COUNT(*) AS BIGINT) AS n_occ
  FROM ph GROUP BY doc_id, phrase
), member AS (
  SELECT p.doc_id, p.phrase, p.n_occ, w.word
  FROM phrases p, LATERAL unnest(string_split(p.phrase, ' ')) AS w(word)
), scored AS (
  SELECT m.doc_id, m.phrase, m.n_occ,
         CAST(SUM(ws.degree * 1000000 // ws.freq) AS BIGINT)
           AS score_micro
  FROM member m
  JOIN wstats ws ON ws.doc_id = m.doc_id AND ws.word = m.word
  GROUP BY m.doc_id, m.phrase, m.n_occ
), ranked AS (
  SELECT doc_id, phrase, n_occ, score_micro,
         CAST(row_number() OVER (PARTITION BY doc_id
              ORDER BY score_micro DESC, phrase) AS INT) AS rank
  FROM scored
)
SELECT doc_id, rank, phrase, n_occ,
       round(score_micro / 1000000.0, 6) AS score
FROM ranked WHERE rank <= {RAKE_TOP_K}
"""


SPARK_QUERIES = {
    "docs_keyphrases_rake": docs_keyphrases_rake,
    "docs_summary_coverage": docs_summary_coverage,
    "docs_rouge_l": docs_rouge_l,
    "docs_license_detect": docs_license_detect,
    "docs_bm25_eval": docs_bm25_eval,
    "docs_soft_dedup_weights": docs_soft_dedup_weights,
    "docs_fim_split": docs_fim_split,
    "docs_script_profile": docs_script_profile,
    "docs_lexical_diversity": docs_lexical_diversity,
    "docs_near_dup_vs_snapshot": docs_near_dup_vs_snapshot,
    "docs_near_dup_quality_keepers": docs_near_dup_quality_keepers,
    "docs_minhash_signature": docs_minhash_signature,
    "docs_minhash_oph": docs_minhash_oph,
    "docs_minhash_lsh_pairs": docs_minhash_lsh_pairs,
    "docs_minhash_jaccard_estimate": docs_minhash_jaccard_estimate,
    "docs_lsh_band_planner": docs_lsh_band_planner,
    "docs_simhash": docs_simhash,
    "docs_simhash_near_dup": docs_simhash_near_dup,
    "docs_simhash_dropped_buckets": docs_simhash_dropped_buckets,
    "docs_ngram_jaccard_pairs": docs_ngram_jaccard_pairs,
    "docs_jaccard_verify_candidates": docs_jaccard_verify_candidates,
    "docs_dedup_yield_curve": docs_dedup_yield_curve,
    "docs_near_dup_clusters": docs_near_dup_clusters,
    "docs_contrastive_batches": docs_contrastive_batches,
    "docs_stopword_induction": docs_stopword_induction,
    "docs_dedup_method_agreement": docs_dedup_method_agreement,
    "docs_ct_langid": docs_ct_langid,
    "docs_prefix_filter_join": docs_prefix_filter_join,
    "docs_extractive_summary": docs_extractive_summary,
    "docs_bbit_minhash": docs_bbit_minhash,
    "docs_cdc_chunks": docs_cdc_chunks,
    "docs_near_dup_clusters_logstar": docs_near_dup_clusters_logstar,
    "docs_gopher_filters": docs_gopher_filters,
    "docs_langid": docs_langid,
    "docs_lang_confusion": docs_lang_confusion,
    "docs_dedup_keepers": docs_dedup_keepers,
    "docs_bpe_token_count": docs_bpe_token_count,
    "docs_bpe_merges_token_count": docs_bpe_merges_token_count,
    "docs_bpe_train_merges": docs_bpe_train_merges,
    "docs_tokenizer_fertility": docs_tokenizer_fertility,
    "docs_rolling_hash": docs_rolling_hash,
    "docs_sentences_udtf": docs_sentences_udtf,
    "docs_top_ngrams": docs_top_ngrams,
    "docs_collocations_pmi": docs_collocations_pmi,
    "docs_tfidf_topk": docs_tfidf_topk,
    "docs_inverted_index": docs_inverted_index,
    "docs_char_entropy": docs_char_entropy,
    "docs_containment_pairs": docs_containment_pairs,
    "docs_winnowing": docs_winnowing,
    "docs_lsh_eval": docs_lsh_eval,
    "docs_bm25_search": docs_bm25_search,
    "docs_lang_segments": docs_lang_segments,
    "docs_code_detect": docs_code_detect,
}

ORACLE_SQL = {
    "docs_keyphrases_rake": _rake_sql(),
    "docs_summary_coverage": _summary_coverage_sql(),
    "docs_rouge_l": _rouge_l_sql(),
    "docs_license_detect": _license_detect_sql(),
    "docs_bm25_eval": _bm25_eval_sql(),
    "docs_soft_dedup_weights": _SOFT_DEDUP_SQL,
    "docs_fim_split": _fim_split_sql(),
    "docs_script_profile": _script_profile_sql(),
    "docs_lexical_diversity": _LEXICAL_DIVERSITY_SQL,
    "docs_near_dup_vs_snapshot": _near_dup_vs_snapshot_sql(),
    "docs_near_dup_quality_keepers": _quality_keepers_sql(),
    "docs_minhash_signature": _MINHASH_SIG_SQL,
    "docs_minhash_oph": _minhash_oph_sql(),
    "docs_minhash_lsh_pairs": _LSH_PAIRS_SQL,
    "docs_minhash_jaccard_estimate": _jaccard_estimate_sql(),
    "docs_lsh_band_planner": _lsh_band_planner_sql(),
    "docs_simhash": _SIMHASH_SQL,
    "docs_simhash_near_dup": _SIMHASH_NEAR_DUP_SQL,
    "docs_simhash_dropped_buckets": _SIMHASH_DROPPED_SQL,
    "docs_ngram_jaccard_pairs": _JACCARD_SQL,
    "docs_jaccard_verify_candidates": _JACCARD_VERIFY_SQL,
    "docs_dedup_yield_curve": _yield_curve_sql(),
    "docs_near_dup_clusters": _NEAR_DUP_CLUSTERS_SQL,
    "docs_contrastive_batches": _CONTRASTIVE_BATCHES_SQL,
    "docs_stopword_induction": _stopword_induction_sql(),
    "docs_dedup_method_agreement": _dedup_agreement_sql(),
    "docs_ct_langid": _CT_LANGID_SQL,
    "docs_prefix_filter_join": _PREFIX_JOIN_SQL,
    "docs_extractive_summary": _EXTRACTIVE_SUMMARY_SQL,
    "docs_bbit_minhash": _bbit_minhash_sql(),
    "docs_cdc_chunks": _CDC_SQL,
    "docs_near_dup_clusters_logstar": _NEAR_DUP_CLUSTERS_SQL,
    "docs_gopher_filters": _GOPHER_SQL,
    "docs_langid": _LANGID_SQL,
    "docs_lang_confusion": _LANG_CONFUSION_SQL,
    "docs_dedup_keepers": _DEDUP_KEEPERS_SQL,
    "docs_bpe_token_count": _BPE_COUNT_SQL,
    "docs_bpe_merges_token_count": _bpe_merges_sql(),
    "docs_bpe_train_merges": _bpe_train_sql(),
    "docs_tokenizer_fertility": _tokenizer_fertility_sql(),
    "docs_rolling_hash": _ROLLING_HASH_SQL,
    "docs_sentences_udtf": _SENTENCES_SQL,
    "docs_top_ngrams": _TOP_NGRAMS_SQL,
    "docs_collocations_pmi": _COLLOCATIONS_PMI_SQL,
    "docs_tfidf_topk": _TFIDF_SQL,
    "docs_inverted_index": _INVERTED_INDEX_SQL,
    "docs_char_entropy": _CHAR_ENTROPY_SQL,
    "docs_containment_pairs": _CONTAINMENT_SQL,
    "docs_winnowing": _WINNOWING_SQL,
    "docs_lsh_eval": _LSH_EVAL_SQL,
    "docs_bm25_search": _bm25_sql(),
    "docs_lang_segments": _lang_segments_sql(),
    "docs_code_detect": _code_detect_sql(),
}
