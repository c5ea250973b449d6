"""Mergeable-sketch family: deterministic HyperLogLog registers, a
count-min sketch, a log2-binned quantile histogram, and a KMV bottom-k
distinct sampler, built IN-PLAN from md5 so Spark and the DuckDB oracle
compute bit-identical sketches. Each sketch's combine is pinned
cell-exact by a snapshot-merge query or shares a pinned algebra
(HLL register max / CMS counter add / histogram counter add / KMV
bottom-k of union).

Why this family exists: at 10^12 documents the statistics a corpus
pipeline republishes every snapshot (vocabulary size, per-shard distinct
counts, heavy-hitter token lists) cannot afford an exact distinct or a
full token rollup per report — the production answer is a MERGEABLE
sketch: each partition builds a fixed-size summary, the combine is an
elementwise max (HLL) or sum (CMS), and incremental snapshots merge
yesterday's sketch with today's delta without rescanning history.
Spark's built-in approx_count_distinct is HLL++ but its estimate is
engine-private (relational_extra.li_approx_aggs gates it with a
tolerance band instead); the sketches HERE are hand-rolled from md5 so
the oracle pins the exact register/counter values AND the estimate,
not just an error bound. The one-document reference has no corpus
statistics at all (SURVEY.md §2).

Determinism notes baked into the shapes:
  * register index / bucket is a 2-hex-char md5 prefix kept as a
    STRING key (no base-16 integer conversion — DuckDB has no conv());
  * the HLL harmonic sum is computed in INTEGER micro-units
    (sum of 2^(37 - M) over 256 registers ≤ 2^45) so float summation
    order — which differs between engines — cannot perturb the value;
  * rho (leading-zero rank) is derived from the hex string with a
    regexp + per-digit CASE, never via log2 of a float.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, functions as F

HLL_P = 8                 # 2^8 = 256 registers
HLL_M = 1 << HLL_P
HLL_RHO_BITS = 36         # 9 hex chars of rho material; rho ∈ [1, 37]
HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)   # Flajolet et al. 2007, m≥128
CMS_DEPTH = 4             # independent hash rows
CMS_TOPK = 20


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def _tok_col() -> Column:
    return F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok")


_SQL_TOK_CTE = """
toks AS (
  SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
)
"""


def _rho_col(suffix: Column) -> Column:
    """Leading-zero rank of a 9-hex-char string: 4·(zero hex digits)
    plus the first non-zero digit's in-digit zeros, plus 1. All-zero
    suffix → HLL_RHO_BITS + 1."""
    nz = F.length(F.regexp_extract(suffix, "^(0*)", 1))
    d1 = F.substr(suffix, nz + 1, F.lit(1))
    within = (F.when(d1.isin("8", "9", "a", "b", "c", "d", "e", "f"), 0)
              .when(d1.isin("4", "5", "6", "7"), 1)
              .when(d1.isin("2", "3"), 2)
              .otherwise(3))
    return (F.when(d1 == "", F.lit(HLL_RHO_BITS + 1))
            .otherwise(nz * 4 + within + 1)).cast("int")


def _register_frame(docs: DataFrame) -> DataFrame:
    """(reg, m_reg): the 256-register HLL frame for a corpus slice —
    the mergeable artifact (combine = elementwise max on reg)."""
    h = F.md5("tok")
    return (docs.select(_tok_col())
            .select(F.substring(h, 1, 2).alias("reg"),
                    _rho_col(F.substring(h, 3, 9)).alias("rho"))
            .groupBy("reg").agg(F.max("rho").alias("m_reg")))


def hll_fold(frames: DataFrame) -> DataFrame:
    """Any number of stacked (reg, m_reg) register frames → one: the
    HLL combine, elementwise max on reg."""
    return frames.groupBy("reg").agg(F.max("m_reg").alias("m_reg"))


def _sql_rho(tok: str) -> str:
    """The rho CASE expression over ``tok`` as DuckDB SQL — mirrors
    _rho_col exactly."""
    sfx = f"substr(md5({tok}), 3, 9)"
    nz = f"length(regexp_extract({sfx}, '^(0*)', 1))"
    d1 = f"substr({sfx}, {nz} + 1, 1)"
    return (f"CASE WHEN {d1} = '' THEN {HLL_RHO_BITS + 1} "
            f"ELSE {nz} * 4 + (CASE {d1} "
            "WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2 "
            "WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1 "
            "WHEN '7' THEN 1 ELSE 0 END) + 1 END")


def docs_hll_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental corpus-stat maintenance with the HLL register frame
    as the persisted artifact: the PRIOR snapshot's registers combine
    with the new DELTA's registers by elementwise max, and the result
    must equal the registers computed from scratch over the union —
    per register, not just in the estimate. This is the delta job that
    lets a 10^12-doc pipeline republish vocabulary cardinality every
    crawl without rescanning history (each snapshot contributes a
    256-row frame; history is never touched again).

    Fixture: prior = docs with ``doc_id % 3 != 0``, delta = the
    ``% 3 == 0`` recrawl — union is the whole corpus, so ``m_full``
    (the from-scratch register) is computable in the same query and
    ``merge_exact`` pins max-merge == recompute for every register.

    Scale shape: three bounded register aggregates (each ≤256 rows
    out of a narrow explode) + joins ON the 256-value reg key — at
    production scale prior/delta frames are READ, not recomputed, and
    the merge is a 256-row join."""
    docs = _docs(spark, sf_dir)
    prior = _register_frame(docs.filter(F.col("doc_id") % 3 != 0))
    delta = _register_frame(docs.filter(F.col("doc_id") % 3 == 0))
    full = _register_frame(docs)
    merged = (prior.withColumnRenamed("m_reg", "mp")
              .join(delta.withColumnRenamed("m_reg", "md"), "reg", "full")
              .select("reg",
                      F.coalesce("mp", F.lit(0)).cast("long")
                      .alias("m_prior"),
                      F.coalesce("md", F.lit(0)).cast("long")
                      .alias("m_delta"))
              .withColumn("m_merged",
                          F.greatest("m_prior", "m_delta")))
    return (merged.join(full.withColumnRenamed("m_reg", "m_full"), "reg")
            .select("reg", "m_prior", "m_delta", "m_merged",
                    F.col("m_full").cast("long").alias("m_full"),
                    (F.col("m_merged") == F.col("m_full"))
                    .alias("merge_exact")))


def _sql_toks(where: str) -> str:
    return (f"SELECT unnest(string_split_regex(lower(trim(text)), "
            f"'\\s+')) AS tok FROM documents{where}")


DOCS_HLL_SNAPSHOT_MERGE_SQL = f"""
WITH tp AS ({_sql_toks(' WHERE doc_id % 3 <> 0')}),
td AS ({_sql_toks(' WHERE doc_id % 3 = 0')}),
tf AS ({_sql_toks('')}),
rp AS (SELECT substr(md5(tok), 1, 2) AS reg,
              MAX({_sql_rho('tok')}) AS m FROM tp GROUP BY 1),
rd AS (SELECT substr(md5(tok), 1, 2) AS reg,
              MAX({_sql_rho('tok')}) AS m FROM td GROUP BY 1),
rf AS (SELECT substr(md5(tok), 1, 2) AS reg,
              MAX({_sql_rho('tok')}) AS m FROM tf GROUP BY 1),
mg AS (
  SELECT coalesce(rp.reg, rd.reg) AS reg,
         CAST(coalesce(rp.m, 0) AS BIGINT) AS m_prior,
         CAST(coalesce(rd.m, 0) AS BIGINT) AS m_delta
  FROM rp FULL OUTER JOIN rd ON rp.reg = rd.reg
)
SELECT mg.reg, m_prior, m_delta,
       greatest(m_prior, m_delta) AS m_merged,
       CAST(rf.m AS BIGINT) AS m_full,
       greatest(m_prior, m_delta) = CAST(rf.m AS BIGINT) AS merge_exact
FROM mg JOIN rf ON rf.reg = mg.reg
"""


def docs_hll_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic HyperLogLog cardinality of the corpus vocabulary
    (distinct whitespace tokens), with the exact count carried through
    the SAME single pass for verification: register = first 2 md5 hex
    chars, rho from the next 9; per register keep max-rho M and an
    exact countDistinct — summing the latter over registers IS the
    exact vocabulary size (register is a function of the token), so no
    second scan. Estimate = α·m²/Σ2^(−M) with the standard
    small-range linear-counting correction (Flajolet et al. 2007).

    Scale shape: narrow explode + TWO tiny shuffles — token→register
    (256 keys, partial max/partial distinct map-side) and the 256→1
    fold. At 100 TB the per-partition partial aggregate is the whole
    story: each executor emits ≤256 rows regardless of input size, and
    the same register frame is the mergeable artifact an incremental
    snapshot combines by elementwise max."""
    h = F.md5("tok")
    regs = (_docs(spark, sf_dir).select(_tok_col())
            .select(F.substring(h, 1, 2).alias("reg"),
                    _rho_col(F.substring(h, 3, 9)).alias("rho"),
                    F.col("tok"))
            .groupBy("reg")
            .agg(F.max("rho").alias("m_reg"),
                 F.countDistinct("tok").alias("n_exact")))
    # integer micro-units: 2^(37 - M) per register, empty regs 2^37
    unit = F.round(F.pow(F.lit(2.0),
                         F.lit(HLL_RHO_BITS + 1) - F.col("m_reg"))) \
        .cast("long")
    one = regs.agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(unit).alias("sum_units"),
        F.sum("n_exact").cast("long").alias("exact_distinct"))
    zeros = F.lit(HLL_M) - F.col("n_hit")
    denom = (F.col("sum_units")
             + zeros * F.lit(float(2 ** (HLL_RHO_BITS + 1)))) \
        / F.lit(float(2 ** (HLL_RHO_BITS + 1)))
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / denom
    est = F.when((raw <= 2.5 * HLL_M) & (zeros > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)) \
        .otherwise(raw)
    return one.select(
        F.lit(HLL_M).alias("m"),
        zeros.cast("long").alias("n_zero_registers"),
        F.round(est, 4).alias("hll_estimate"),
        "exact_distinct",
        F.round(F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"), 6).alias("rel_error"))


DOCS_HLL_SKETCH_SQL = f"""
WITH {_SQL_TOK_CTE.strip()}, regs AS (
  SELECT substr(md5(tok), 1, 2) AS reg,
         MAX(CASE WHEN substr(substr(md5(tok), 3, 9),
                  length(regexp_extract(substr(md5(tok), 3, 9),
                                        '^(0*)', 1)) + 1, 1) = ''
                  THEN {HLL_RHO_BITS + 1}
                  ELSE length(regexp_extract(substr(md5(tok), 3, 9),
                                             '^(0*)', 1)) * 4
                   + (CASE substr(substr(md5(tok), 3, 9),
                        length(regexp_extract(substr(md5(tok), 3, 9),
                                              '^(0*)', 1)) + 1, 1)
                      WHEN '1' THEN 3 WHEN '2' THEN 2 WHEN '3' THEN 2
                      WHEN '4' THEN 1 WHEN '5' THEN 1 WHEN '6' THEN 1
                      WHEN '7' THEN 1 ELSE 0 END) + 1 END) AS m_reg,
         COUNT(DISTINCT tok) AS n_exact
  FROM toks GROUP BY 1
), one AS (
  SELECT COUNT(*) AS n_hit,
         SUM(CAST(round(pow(2.0, {HLL_RHO_BITS + 1} - m_reg)) AS BIGINT))
           AS sum_units,
         CAST(SUM(n_exact) AS BIGINT) AS exact_distinct
  FROM regs
), calc AS (
  -- all literals forced to DOUBLE: DuckDB parses bare decimal
  -- literals as DECIMAL and overflows multiplying by m^2
  SELECT CAST({HLL_M} - n_hit AS BIGINT) AS zeros, exact_distinct,
         CAST({HLL_ALPHA * HLL_M * HLL_M!r} AS DOUBLE)
           / ((sum_units + ({HLL_M} - n_hit)
               * CAST({float(2 ** (HLL_RHO_BITS + 1))!r} AS DOUBLE))
              / CAST({float(2 ** (HLL_RHO_BITS + 1))!r} AS DOUBLE)) AS raw
  FROM one
), fin AS (
  SELECT zeros, exact_distinct,
         CASE WHEN raw <= 2.5 * {HLL_M} AND zeros > 0
              THEN CAST({HLL_M} AS DOUBLE)
                   * ln(CAST({HLL_M} AS DOUBLE) / zeros)
              ELSE raw END AS est
  FROM calc
)
SELECT {HLL_M} AS m, zeros AS n_zero_registers,
       round(est, 4) AS hll_estimate, exact_distinct,
       round(abs(est - exact_distinct) / exact_distinct, 6) AS rel_error
FROM fin
"""


def _cms_rows() -> Column:
    """The CMS_DEPTH (row, bucket) pairs for the current ``tok``."""
    return F.array(*[
        F.struct(F.lit(r).alias("r"),
                 F.substring(F.md5(F.concat(F.lit(f"{r}:"), F.col("tok"))),
                             1, 2).alias("b"))
        for r in range(CMS_DEPTH)])


def _cms_frame(occ: DataFrame) -> DataFrame:
    """(r, b, counter): the depth×256 count-min counter table for a
    token stream — the mergeable artifact (combine = elementwise ADD)."""
    return (occ.select(F.explode(_cms_rows()).alias("rb"))
            .groupBy(F.col("rb.r").alias("r"), F.col("rb.b").alias("b"))
            .agg(F.count(F.lit(1)).cast("long").alias("counter")))


def cms_fold(frames: DataFrame) -> DataFrame:
    """Any number of stacked (r, b, counter) counter tables → one: the
    CMS combine, elementwise sum on (r, b)."""
    return (frames.groupBy("r", "b")
            .agg(F.sum("counter").cast("long").alias("counter")))


def docs_hll_by_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Grouped HLL: per-language vocabulary cardinality — the stratum
    form a corpus datasheet actually publishes (one sketch per
    language, not one global number). Same register/rho construction
    as docs_hll_sketch with ``lang`` added to both aggregate keys, the
    exact per-language distinct carried through the same pass, and the
    standard linear-counting correction applied per stratum.

    Scale shape: the register rollup keys on (lang, reg) — ≤256·L
    partial rows per executor for L languages — and the per-language
    fold is a second bounded aggregate keyed lang; no SinglePartition
    anywhere (the global form needs one 256→1 fold, the grouped form
    does not)."""
    h = F.md5("tok")
    docs = _docs(spark, sf_dir)
    toks = docs.select("lang", F.explode(
        F.split(F.lower(F.trim(F.col("text"))), r"\s+")).alias("tok"))
    regs = (toks.select("lang",
                        F.substring(h, 1, 2).alias("reg"),
                        _rho_col(F.substring(h, 3, 9)).alias("rho"),
                        F.col("tok"))
            .groupBy("lang", "reg")
            .agg(F.max("rho").alias("m_reg"),
                 F.countDistinct("tok").alias("n_exact")))
    unit = F.round(F.pow(F.lit(2.0),
                         F.lit(HLL_RHO_BITS + 1) - F.col("m_reg"))) \
        .cast("long")
    one = regs.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_hit"),
        F.sum(unit).alias("sum_units"),
        F.sum("n_exact").cast("long").alias("exact_distinct"))
    zeros = F.lit(HLL_M) - F.col("n_hit")
    denom = (F.col("sum_units")
             + zeros * F.lit(float(2 ** (HLL_RHO_BITS + 1)))) \
        / F.lit(float(2 ** (HLL_RHO_BITS + 1)))
    raw = F.lit(HLL_ALPHA * HLL_M * HLL_M) / denom
    est = F.when((raw <= 2.5 * HLL_M) & (zeros > 0),
                 F.lit(float(HLL_M)) * F.log(F.lit(float(HLL_M)) / zeros)) \
        .otherwise(raw)
    return one.select(
        "lang",
        zeros.cast("long").alias("n_zero_registers"),
        F.round(est, 4).alias("hll_estimate"),
        "exact_distinct",
        F.round(F.abs(est - F.col("exact_distinct"))
                / F.col("exact_distinct"), 6).alias("rel_error"))


DOCS_HLL_BY_LANG_SQL = f"""
WITH toks AS (
  SELECT lang, unnest(string_split_regex(lower(trim(text)), '\\s+')) AS tok
  FROM documents
), regs AS (
  SELECT lang, substr(md5(tok), 1, 2) AS reg,
         MAX({_sql_rho('tok')}) AS m_reg,
         COUNT(DISTINCT tok) AS n_exact
  FROM toks GROUP BY 1, 2
), one AS (
  SELECT lang, COUNT(*) AS n_hit,
         SUM(CAST(round(pow(2.0, {HLL_RHO_BITS + 1} - m_reg)) AS BIGINT))
           AS sum_units,
         CAST(SUM(n_exact) AS BIGINT) AS exact_distinct
  FROM regs GROUP BY lang
), calc AS (
  SELECT lang, CAST({HLL_M} - n_hit AS BIGINT) AS zeros, exact_distinct,
         CAST({HLL_ALPHA * HLL_M * HLL_M!r} AS DOUBLE)
           / ((sum_units + ({HLL_M} - n_hit)
               * CAST({float(2 ** (HLL_RHO_BITS + 1))!r} AS DOUBLE))
              / CAST({float(2 ** (HLL_RHO_BITS + 1))!r} AS DOUBLE)) AS raw
  FROM one
), fin AS (
  SELECT lang, zeros, exact_distinct,
         CASE WHEN raw <= 2.5 * {HLL_M} AND zeros > 0
              THEN CAST({HLL_M} AS DOUBLE)
                   * ln(CAST({HLL_M} AS DOUBLE) / zeros)
              ELSE raw END AS est
  FROM calc
)
SELECT lang, zeros AS n_zero_registers,
       round(est, 4) AS hll_estimate, exact_distinct,
       round(abs(est - exact_distinct) / exact_distinct, 6) AS rel_error
FROM fin
"""


def docs_cms_snapshot_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental heavy-hitter maintenance with the CMS counter table
    as the persisted artifact: the PRIOR snapshot's counters combine
    with the new DELTA's counters by elementwise ADD, and the result
    must equal the counters computed from scratch over the union — per
    (row, bucket) cell, exactly, because CMS counters are linear in
    the input (unlike the HLL max-merge, the add-merge has no
    information loss at all). This is the delta job that lets a
    10^12-doc pipeline republish token heavy-hitter reports every
    crawl without rescanning history: each snapshot contributes a
    ≤{CMS_DEPTH}·256-row counter frame, merge is a tiny keyed join,
    and any token's estimate from the merged table is min over its
    {CMS_DEPTH} merged cells.

    Fixture mirrors docs_hll_snapshot_merge: prior = docs with
    ``doc_id % 3 != 0``, delta = the ``% 3 == 0`` recrawl — union is
    the whole corpus, so ``c_full`` is computable in the same query
    and ``merge_exact`` pins add-merge == recompute for every cell.

    Scale shape: three bounded counter aggregates (each ≤1024 rows out
    of a narrow bounded explode) + joins ON the (r, b) key — at
    production scale prior/delta frames are READ, not recomputed, and
    the merge is a ≤1024-row join."""
    docs = _docs(spark, sf_dir)
    occ = docs.select(_tok_col())
    prior = _cms_frame(docs.filter(F.col("doc_id") % 3 != 0)
                       .select(_tok_col()))
    delta = _cms_frame(docs.filter(F.col("doc_id") % 3 == 0)
                       .select(_tok_col()))
    full = _cms_frame(occ)
    merged = (prior.withColumnRenamed("counter", "cp")
              .join(delta.withColumnRenamed("counter", "cd"),
                    ["r", "b"], "full")
              .select("r", "b",
                      F.coalesce("cp", F.lit(0)).cast("long")
                      .alias("c_prior"),
                      F.coalesce("cd", F.lit(0)).cast("long")
                      .alias("c_delta"))
              .withColumn("c_merged", F.col("c_prior") + F.col("c_delta")))
    return (merged.join(full.withColumnRenamed("counter", "c_full"),
                        ["r", "b"])
            .select("r", "b", "c_prior", "c_delta", "c_merged",
                    F.col("c_full").cast("long").alias("c_full"),
                    (F.col("c_merged") == F.col("c_full"))
                    .alias("merge_exact")))


def _sql_cms(src: str) -> str:
    """The (r, b, counter) CTE body over token CTE ``src``."""
    return (f"SELECT r, substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 2)"
            f" AS b, CAST(COUNT(*) AS BIGINT) AS counter "
            f"FROM {src} CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g "
            f"GROUP BY 1, 2")


DOCS_CMS_SNAPSHOT_MERGE_SQL = f"""
WITH tp AS ({_sql_toks(' WHERE doc_id % 3 <> 0')}),
td AS ({_sql_toks(' WHERE doc_id % 3 = 0')}),
tf AS ({_sql_toks('')}),
sp AS ({_sql_cms('tp')}),
sd AS ({_sql_cms('td')}),
sf AS ({_sql_cms('tf')}),
mg AS (
  SELECT coalesce(sp.r, sd.r) AS r, coalesce(sp.b, sd.b) AS b,
         CAST(coalesce(sp.counter, 0) AS BIGINT) AS c_prior,
         CAST(coalesce(sd.counter, 0) AS BIGINT) AS c_delta
  FROM sp FULL OUTER JOIN sd ON sp.r = sd.r AND sp.b = sd.b
)
SELECT mg.r, mg.b, c_prior, c_delta,
       c_prior + c_delta AS c_merged,
       CAST(sf.counter AS BIGINT) AS c_full,
       c_prior + c_delta = CAST(sf.counter AS BIGINT) AS merge_exact
FROM mg JOIN sf ON sf.r = mg.r AND sf.b = mg.b
"""


def docs_cms_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan 2005) over the token
    stream, verified on the exact top-{CMS_TOPK} heavy hitters: depth
    {CMS_DEPTH} hash rows of 256 hex-pair buckets, counter = count of
    occurrences landing in (row, bucket); a token's estimate is the
    MIN over its {CMS_DEPTH} counters and can only OVER-count
    (within_bound asserts the one-sided guarantee, and the estimate
    itself is oracle-pinned because the bucket hash is md5).

    Scale shape: the sketch is a narrow ×{CMS_DEPTH} posexplode +
    groupBy over ≤{CMS_DEPTH}·256 keys — every executor emits ≤1024
    partial rows no matter the input, and two sketches merge by
    elementwise counter ADD (unlike the top-k rollup itself, which
    needs the full token keyspace — that is exactly why CMS exists at
    100 TB). The verification side is fixture-scale: exact counts +
    TakeOrdered top-{CMS_TOPK}, then the 1024-row sketch broadcasts to
    the candidate join."""
    occ = _docs(spark, sf_dir).select(_tok_col())
    rows = _cms_rows()
    sketch = _cms_frame(occ)
    top = (occ.groupBy("tok")
           .agg(F.count(F.lit(1)).cast("long").alias("exact_count"))
           .orderBy(F.desc("exact_count"), F.asc("tok"))
           .limit(CMS_TOPK))
    cand = top.select(
        "tok", "exact_count", F.explode(rows).alias("rb"),
    ).select("tok", "exact_count", F.col("rb.r").alias("r"),
             F.col("rb.b").alias("b"))
    est = (cand.join(F.broadcast(sketch), ["r", "b"])
           .groupBy("tok", "exact_count")
           .agg(F.min("counter").alias("cms_estimate")))
    return est.select(
        F.col("tok").alias("token"), "exact_count", "cms_estimate",
        (F.col("cms_estimate") - F.col("exact_count")).alias("overcount"),
        (F.col("cms_estimate") >= F.col("exact_count")).alias("within_bound"))


DOCS_CMS_HEAVY_HITTERS_SQL = f"""
WITH {_SQL_TOK_CTE.strip()}, occ AS (
  SELECT tok FROM toks
), sketch AS (
  SELECT r, substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 2) AS b,
         CAST(COUNT(*) AS BIGINT) AS counter
  FROM occ CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g
  GROUP BY 1, 2
), top AS (
  SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_count
  FROM occ GROUP BY tok
  ORDER BY exact_count DESC, tok ASC LIMIT {CMS_TOPK}
), cand AS (
  SELECT tok, exact_count, r,
         substr(md5(CAST(r AS VARCHAR) || ':' || tok), 1, 2) AS b
  FROM top CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS r) g
), est AS (
  SELECT c.tok, c.exact_count, MIN(s.counter) AS cms_estimate
  FROM cand c JOIN sketch s ON s.r = c.r AND s.b = c.b
  GROUP BY 1, 2
)
SELECT tok AS token, exact_count, cms_estimate,
       cms_estimate - exact_count AS overcount,
       cms_estimate >= exact_count AS within_bound
FROM est
"""


KMV_K = 64


def _kmv_frame(occ: DataFrame, k: int) -> DataFrame:
    """(h): the k smallest md5 hashes over distinct tokens — the KMV
    sketch frame (combine = bottom-k of the union of frames)."""
    return (occ.select(F.md5("tok").alias("h")).distinct()
            .orderBy("h").limit(k))


def kmv_fold(frames: DataFrame) -> DataFrame:
    """Any number of stacked (h) KMV frames → one: the bottom-KMV_K of
    their union (distinct, since a hash can sit in several frames)."""
    return frames.select("h").distinct().orderBy("h").limit(KMV_K)


def docs_kmv_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values, Bar-Yossef et al. 2002) distinct-count
    sketch over the corpus vocabulary: keep the {KMV_K} smallest md5
    hashes of distinct tokens; with the k-th smallest hash mapped to a
    fraction u of the hash space, distinct ≈ (k−1)/u. Completes the
    mergeable quartet next to HLL (register max), CMS (counter add)
    and the length histogram: two snapshots' KMV frames combine by
    bottom-k of their union — pinned here exactly (``merge_exact``:
    the prior ∪ delta bottom-{KMV_K} equals the from-scratch frame,
    checked by intersection count). Unlike HLL the frame doubles as a
    uniform SAMPLE of distinct tokens, which is why pipelines carry
    both.

    The hash→fraction map uses the first 13 hex chars via base
    conversion (52 bits — exact in a double on both engines); the
    estimate is oracle-pinned, not just banded, because md5 and the
    conversion are deterministic. Fixture note: requires ≥{KMV_K}
    distinct tokens (the corpus vocabulary is thousands).

    Scale shape: sort+limit compiles to TakeOrdered — per-partition
    partial bottom-k, then a k-row fold on the driver side of the
    exchange; every executor emits ≤{KMV_K} rows regardless of input.
    The exact countDistinct is the fixture-scale verification side —
    at 10^12 docs it is what the sketch replaces."""
    docs = _docs(spark, sf_dir)
    occ = docs.select(_tok_col())
    full = _kmv_frame(occ, KMV_K)
    prior = _kmv_frame(
        docs.filter(F.col("doc_id") % 3 != 0).select(_tok_col()), KMV_K)
    delta = _kmv_frame(
        docs.filter(F.col("doc_id") % 3 == 0).select(_tok_col()), KMV_K)
    merged = kmv_fold(prior.union(delta))
    pin = (merged.join(full, "h")
           .agg(F.count(F.lit(1)).alias("n_inter")))
    one = full.agg(F.max("h").alias("kth"))
    ex = occ.agg(F.countDistinct("tok").cast("long")
                 .alias("exact_distinct"))
    u = (F.conv(F.substring("kth", 1, 13), 16, 10).cast("double")
         / F.lit(float(16 ** 13)))
    est = F.lit(float(KMV_K - 1)) / u
    return (one.join(F.broadcast(ex)).join(F.broadcast(pin))
            .select(F.lit(KMV_K).alias("k"),
                    F.col("kth").alias("kth_hash"),
                    F.round(est, 4).alias("est_distinct"),
                    "exact_distinct",
                    F.round(F.abs(est - F.col("exact_distinct"))
                            / F.col("exact_distinct"), 6)
                    .alias("rel_error"),
                    (F.col("n_inter") == KMV_K).alias("merge_exact")))


DOCS_KMV_DISTINCT_SQL = f"""
WITH tf AS ({_sql_toks('')}),
tp AS ({_sql_toks(' WHERE doc_id % 3 <> 0')}),
td AS ({_sql_toks(' WHERE doc_id % 3 = 0')}),
fk AS (SELECT DISTINCT md5(tok) AS h FROM tf ORDER BY h LIMIT {KMV_K}),
pk AS (SELECT DISTINCT md5(tok) AS h FROM tp ORDER BY h LIMIT {KMV_K}),
dk AS (SELECT DISTINCT md5(tok) AS h FROM td ORDER BY h LIMIT {KMV_K}),
mk AS (SELECT h FROM (SELECT h FROM pk UNION SELECT h FROM dk)
       ORDER BY h LIMIT {KMV_K}),
pin AS (SELECT COUNT(*) AS n_inter FROM mk JOIN fk USING (h)),
one AS (SELECT MAX(h) AS kth FROM fk),
ex AS (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) AS exact_distinct
       FROM tf),
calc AS (
  SELECT kth, exact_distinct, n_inter,
         CAST({KMV_K - 1} AS DOUBLE)
           / (CAST(('0x' || substr(kth, 1, 13)) AS BIGINT)
              / CAST({float(16 ** 13)!r} AS DOUBLE)) AS est
  FROM one CROSS JOIN ex CROSS JOIN pin
)
SELECT {KMV_K} AS k, kth AS kth_hash,
       round(est, 4) AS est_distinct, exact_distinct,
       round(abs(est - exact_distinct) / exact_distinct, 6) AS rel_error,
       n_inter = {KMV_K} AS merge_exact
FROM calc
"""


def docs_kmv_resemblance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set resemblance between two crawl snapshots' vocabularies from
    their KMV frames alone (Beyer et al. 2007): with M = bottom-k of
    the union of the prior and delta frames, Jaccard ≈ |M ∩ P ∩ D|/k
    — M is a uniform sample of the union, and membership in both
    frames identifies intersection elements within it. This is the
    drift monitor a 10^12-doc pipeline runs between crawls WITHOUT
    touching tokens again: both inputs are the ≤{KMV_K}-row frames
    docs_kmv_distinct already maintains. The exact Jaccard over the
    full vocabularies is computed in the same query as the
    fixture-scale verification side.

    Scale shape: estimate side is TakeOrdered frames + k-row joins;
    the exact side's one tok-keyed aggregate is what the estimator
    replaces at production scale."""
    docs = _docs(spark, sf_dir)
    tp = docs.filter(F.col("doc_id") % 3 != 0).select(_tok_col())
    td = docs.filter(F.col("doc_id") % 3 == 0).select(_tok_col())
    p = _kmv_frame(tp, KMV_K)
    d = _kmv_frame(td, KMV_K)
    merged = kmv_fold(p.union(d))
    n_both = (merged.join(p, "h").join(d, "h")
              .agg(F.count(F.lit(1)).alias("n_both")))
    flags = (tp.select("tok", F.lit(1).alias("in_p"),
                       F.lit(0).alias("in_d"))
             .union(td.select("tok", F.lit(0), F.lit(1)))
             .groupBy("tok")
             .agg(F.max("in_p").alias("p"), F.max("in_d").alias("d")))
    exact = flags.agg(
        F.sum((F.col("p") * F.col("d"))).cast("long").alias("n_inter"),
        F.count(F.lit(1)).cast("long").alias("n_union"))
    est = F.col("n_both").cast("double") / F.lit(float(KMV_K))
    exj = F.col("n_inter").cast("double") / F.col("n_union")
    return (n_both.join(F.broadcast(exact))
            .select(F.lit(KMV_K).alias("k"),
                    F.col("n_both").cast("long").alias("n_both"),
                    F.round(est, 6).alias("est_jaccard"),
                    "n_inter", "n_union",
                    F.round(exj, 6).alias("exact_jaccard"),
                    F.round(F.abs(est - exj), 6).alias("abs_error")))


DOCS_KMV_RESEMBLANCE_SQL = f"""
WITH tp AS ({_sql_toks(' WHERE doc_id % 3 <> 0')}),
td AS ({_sql_toks(' WHERE doc_id % 3 = 0')}),
pk AS (SELECT DISTINCT md5(tok) AS h FROM tp ORDER BY h LIMIT {KMV_K}),
dk AS (SELECT DISTINCT md5(tok) AS h FROM td ORDER BY h LIMIT {KMV_K}),
mk AS (SELECT h FROM (SELECT h FROM pk UNION SELECT h FROM dk)
       ORDER BY h LIMIT {KMV_K}),
nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_both
       FROM mk JOIN pk USING (h) JOIN dk USING (h)),
flags AS (
  SELECT tok, MAX(in_p) AS p, MAX(in_d) AS d
  FROM (SELECT tok, 1 AS in_p, 0 AS in_d FROM tp
        UNION ALL SELECT tok, 0, 1 FROM td) u
  GROUP BY tok
),
ex AS (SELECT CAST(SUM(p * d) AS BIGINT) AS n_inter,
              CAST(COUNT(*) AS BIGINT) AS n_union FROM flags)
SELECT {KMV_K} AS k, n_both,
       round(CAST(n_both AS DOUBLE) / {float(KMV_K)!r}, 6) AS est_jaccard,
       n_inter, n_union,
       round(CAST(n_inter AS DOUBLE) / n_union, 6) AS exact_jaccard,
       round(abs(CAST(n_both AS DOUBLE) / {float(KMV_K)!r}
                 - CAST(n_inter AS DOUBLE) / n_union), 6) AS abs_error
FROM nb CROSS JOIN ex
"""


def docs_kmv_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set-DIFFERENCE estimate between two snapshots' vocabularies
    from their KMV frames alone (the theta-sketch A-not-B operation,
    Dasgupta et al. 2016): within M = bottom-k of the union of the
    prior and delta frames, membership of each hash in either SIDE is
    exact — h ∈ M is in A iff h is in A's frame, because kth(M) ≤
    kth(A-frame) — so |A∖B| ≈ (|{h ∈ M: h∈A, h∉B}| / k) · N̂(union)
    with N̂ the KMV estimate from M's k-th hash. When the union has
    fewer than k distinct hashes the frames ARE the sets and the
    count is exact (the CASE both engines implement). Completes the
    KMV set algebra next to docs_kmv_distinct (cardinality) and
    docs_kmv_resemblance (Jaccard): new-vocabulary and
    lost-vocabulary sizes between crawls, without rescanning tokens.
    The exact |A∖B| and |B∖A| are computed in the same query as the
    fixture-scale verification side.

    Item domain: word 3-SHINGLES (dataops._shingles), not tokens —
    the fixture's token vocabulary is a 31-word pool every doc split
    covers completely (both true diffs would be 0 and the estimator
    would be pinned on a trivial fixture), while shingle vocabularies
    genuinely differ across the %3 split (thousands per side). A real
    crawl's cross-snapshot content diff runs on shingles anyway.

    Scale shape: TakeOrdered frames + k-row joins on the estimate
    side; the exact side's shingle-keyed aggregate is what the
    estimator replaces at 10^12 docs."""
    from ocr_spark.plans.dataops import _shingles, _tokens

    docs = _docs(spark, sf_dir)
    sh = F.explode(_shingles(_tokens())).alias("tok")
    tp = docs.filter(F.col("doc_id") % 3 != 0).select(sh)
    td = docs.filter(F.col("doc_id") % 3 == 0).select(sh)
    p = _kmv_frame(tp, KMV_K)
    d = _kmv_frame(td, KMV_K)
    merged = (kmv_fold(p.union(d))
              .join(p.select("h", F.lit(1).alias("ip")), "h", "left")
              .join(d.select("h", F.lit(1).alias("id_")), "h", "left"))
    m = merged.agg(
        F.count(F.lit(1)).alias("n_m"),
        F.max("h").alias("kth"),
        F.sum(F.when(F.col("ip").isNotNull()
                     & F.col("id_").isNull(), 1).otherwise(0))
        .cast("long").alias("n_anotb"),
        F.sum(F.when(F.col("id_").isNotNull()
                     & F.col("ip").isNull(), 1).otherwise(0))
        .cast("long").alias("n_bnota"))
    flags = (tp.select("tok", F.lit(1).alias("in_p"),
                       F.lit(0).alias("in_d"))
             .union(td.select("tok", F.lit(0), F.lit(1)))
             .groupBy("tok")
             .agg(F.max("in_p").alias("p"), F.max("in_d").alias("d")))
    exact = flags.agg(
        F.sum(F.col("p") * (1 - F.col("d"))).cast("long")
        .alias("exact_anotb"),
        F.sum(F.col("d") * (1 - F.col("p"))).cast("long")
        .alias("exact_bnota"))
    u = (F.conv(F.substring("kth", 1, 13), 16, 10).cast("double")
         / F.lit(float(16 ** 13)))
    n_hat = F.lit(float(KMV_K - 1)) / u

    def est(n_side: str) -> Column:
        return F.when(F.col("n_m") < KMV_K,
                      F.col(n_side).cast("double")) \
            .otherwise(F.col(n_side) / F.lit(float(KMV_K)) * n_hat)

    return (m.join(F.broadcast(exact))
            .select(F.lit(KMV_K).alias("k"),
                    "n_anotb", "n_bnota",
                    F.round(est("n_anotb"), 4).alias("est_anotb"),
                    "exact_anotb",
                    F.round(est("n_bnota"), 4).alias("est_bnota"),
                    "exact_bnota",
                    F.round(F.abs(est("n_anotb")
                                  - F.col("exact_anotb"))
                            / F.greatest(F.col("exact_anotb"),
                                         F.lit(1)), 6)
                    .alias("rel_error_anotb")))


def _sql_shingle_toks(where: str) -> str:
    from ocr_spark.plans.dataops import _SQL_SHINGLES
    return (f"SELECT unnest({_SQL_SHINGLES}) AS tok "
            f"FROM documents{where}")


DOCS_KMV_DIFF_SQL = f"""
WITH tp AS ({_sql_shingle_toks(' WHERE doc_id % 3 <> 0')}),
td AS ({_sql_shingle_toks(' WHERE doc_id % 3 = 0')}),
pk AS (SELECT DISTINCT md5(tok) AS h FROM tp ORDER BY h LIMIT {KMV_K}),
dk AS (SELECT DISTINCT md5(tok) AS h FROM td ORDER BY h LIMIT {KMV_K}),
mk AS (SELECT h FROM (SELECT h FROM pk UNION SELECT h FROM dk)
       ORDER BY h LIMIT {KMV_K}),
m AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n_m, MAX(mk.h) AS kth,
         CAST(SUM(CASE WHEN pk.h IS NOT NULL AND dk.h IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_anotb,
         CAST(SUM(CASE WHEN dk.h IS NOT NULL AND pk.h IS NULL
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_bnota
  FROM mk LEFT JOIN pk ON pk.h = mk.h LEFT JOIN dk ON dk.h = mk.h
),
flags AS (
  SELECT tok, MAX(in_p) AS p, MAX(in_d) AS d
  FROM (SELECT tok, 1 AS in_p, 0 AS in_d FROM tp
        UNION ALL SELECT tok, 0, 1 FROM td) u
  GROUP BY tok
),
ex AS (SELECT CAST(SUM(p * (1 - d)) AS BIGINT) AS exact_anotb,
              CAST(SUM(d * (1 - p)) AS BIGINT) AS exact_bnota
       FROM flags),
calc AS (
  SELECT n_m, n_anotb, n_bnota, exact_anotb, exact_bnota,
         CAST({KMV_K - 1} AS DOUBLE)
           / (CAST(('0x' || substr(kth, 1, 13)) AS BIGINT)
              / CAST({float(16 ** 13)!r} AS DOUBLE)) AS n_hat
  FROM m CROSS JOIN ex
)
SELECT {KMV_K} AS k, n_anotb, n_bnota,
       round(CASE WHEN n_m < {KMV_K} THEN CAST(n_anotb AS DOUBLE)
                  ELSE n_anotb / CAST({float(KMV_K)!r} AS DOUBLE) * n_hat
             END, 4) AS est_anotb,
       exact_anotb,
       round(CASE WHEN n_m < {KMV_K} THEN CAST(n_bnota AS DOUBLE)
                  ELSE n_bnota / CAST({float(KMV_K)!r} AS DOUBLE) * n_hat
             END, 4) AS est_bnota,
       exact_bnota,
       round(abs(CASE WHEN n_m < {KMV_K} THEN CAST(n_anotb AS DOUBLE)
                      ELSE n_anotb / CAST({float(KMV_K)!r} AS DOUBLE)
                           * n_hat END
                 - exact_anotb) / greatest(exact_anotb, 1), 6)
         AS rel_error_anotb
FROM calc
"""


WRS_K = 50


def docs_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sampling (Efraimidis & Spirakis 2006, A-Res):
    each document draws u ∈ (0,1) from md5 of its doc id and is ranked by key
    = u^(1/w) with w = its token count; the top-{WRS_K} keys are a
    without-replacement sample where inclusion probability tracks
    weight — the deterministic way to draw a token-mass-weighted
    corpus subsample (eval slices, human-audit panels, distillation
    seeds) without a global shuffle. Deterministic u (hash, not rng)
    makes the sample reproducible across runs AND oracle-pinnable.

    Mergeable like KMV: the reservoir of a union is the top-k-by-key
    of the per-snapshot reservoirs, so per-crawl {WRS_K}-row frames
    combine without revisiting history (same algebra docs_kmv_distinct
    pins via its intersection check).

    Scale shape: one narrow map (token count + hash key per doc) into
    TakeOrdered — per-partition partial top-k, each executor emits
    ≤{WRS_K} rows regardless of input. No shuffle, no window."""
    docs = _docs(spark, sf_dir)
    toks = F.split(F.lower(F.trim(F.col("text"))), r"\s+")
    w = F.greatest(F.size(toks), F.lit(1)).cast("double")
    u = ((F.conv(F.substring(F.md5(F.col("doc_id").cast("string")),
                             1, 13), 16, 10)
          .cast("double") + 1.0) / F.lit(float(16 ** 13 + 1)))
    key = F.pow(u, 1.0 / w)
    return (docs.select("doc_id", "source",
                        w.cast("long").alias("n_tokens"),
                        F.round(key, 10).alias("sample_key"))
            .orderBy(F.desc("sample_key"), F.asc("doc_id"))
            .limit(WRS_K))


DOCS_WEIGHTED_RESERVOIR_SQL = f"""
WITH base AS (
  SELECT doc_id, source,
         greatest(len(string_split_regex(lower(trim(text)), '\\s+')), 1)
           AS n_tokens,
         (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
               AS BIGINT) + CAST(1.0 AS DOUBLE))
           / CAST({float(16 ** 13 + 1)!r} AS DOUBLE) AS u
  FROM documents
)
SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens,
       round(pow(u, CAST(1.0 AS DOUBLE) / n_tokens), 10) AS sample_key
FROM base
ORDER BY sample_key DESC, doc_id ASC
LIMIT {WRS_K}
"""


QSK_QS = (0.25, 0.5, 0.75, 0.9, 0.99)


def docs_length_quantile_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable quantile sketch over document character lengths: a
    log2-binned histogram (bin b covers [2^b, 2^(b+1)), ≤64 bins for
    any 64-bit length) with within-bin linear interpolation, verified
    against the EXACT type-7 interpolated percentile computed in the
    same query. The third mergeable-sketch shape next to HLL (max) and
    CMS (add): histogram counters are linear, so two snapshots' frames
    combine by elementwise add (the property docs_cms_snapshot_merge
    pins for the identical counter algebra) — at 10^12 docs the length
    datasheet is republished per crawl from ≤64-row frames, never from
    a global sort.

    Bin index uses the binary-representation length (length(bin(len))
    − 1), NOT floor(log2(len)) — float log at exact powers of two can
    land on either side of the integer in a given engine, and the two
    engines must agree bit-for-bit.

    Scale shape: one bounded groupBy (≤64 keys, partial map-side agg —
    each executor emits ≤64 rows no matter the input) + two ≤64-row
    single-partition windows for the cumulative fold. The exact-
    percentile side is the fixture-scale verification harness — at
    production scale it is exactly what the sketch replaces."""
    lens = (_docs(spark, sf_dir)
            .select(F.length("text").cast("long").alias("len")))
    b = (F.length(F.bin(F.greatest(F.col("len"), F.lit(1)))) - 1) \
        .alias("b")
    hist = lens.groupBy(b).agg(F.count(F.lit(1)).cast("long").alias("cnt"))
    from pyspark.sql import Window
    cum = (hist
           .withColumn("cum", F.sum("cnt").over(
               # ≤64 log2-bucket rows: plan-bounded frame
               Window.orderBy("b")
               .rowsBetween(Window.unboundedPreceding, 0)))
           .withColumn("n", F.sum("cnt").over(
               Window.partitionBy())))
    qs = F.posexplode(F.array(*[F.lit(float(q)) for q in QSK_QS])) \
        .alias("qi", "q")
    pos = F.col("q") * (F.col("n") - 1).cast("double")
    lo = F.round(F.pow(F.lit(2.0), F.col("b"))).cast("long")
    hi = F.round(F.pow(F.lit(2.0), F.col("b") + 1)).cast("long")
    picked = (cum.select("b", "cnt", "cum", "n", qs)
              .withColumn("cum_before", F.col("cum") - F.col("cnt"))
              .filter((F.col("cum_before") <= pos) & (pos < F.col("cum"))))
    exact = lens.agg(
        F.percentile("len", F.lit(list(QSK_QS))).alias("exa"))
    est = (lo.cast("double")
           + (hi - lo).cast("double")
           * (pos - F.col("cum_before")) / F.col("cnt"))
    ex = F.element_at("exa", F.col("qi") + 1)
    return (picked.join(F.broadcast(exact))
            .select(F.col("q"),
                    F.col("n").alias("n_docs"),
                    lo.alias("bin_lo"), hi.alias("bin_hi"),
                    F.round(est, 4).alias("sketch_est"),
                    F.round(ex, 4).alias("exact_len"),
                    F.round(F.abs(est - ex)
                            / F.greatest(ex, F.lit(1.0)), 6)
                    .alias("rel_error")))


DOCS_LENGTH_QUANTILE_SKETCH_SQL = f"""
WITH lens AS (
  SELECT CAST(length(text) AS BIGINT) AS len FROM documents
), hist AS (
  SELECT length(bin(greatest(len, 1))) - 1 AS b,
         CAST(COUNT(*) AS BIGINT) AS cnt
  FROM lens GROUP BY 1
), cum AS (
  SELECT b, cnt, SUM(cnt) OVER (ORDER BY b) AS cum,
         SUM(cnt) OVER () AS n
  FROM hist
), qs AS (
  SELECT * FROM (VALUES {', '.join(
      f'({i}, CAST({q!r} AS DOUBLE))' for i, q in enumerate(QSK_QS))})
    AS t(qi, q)
), ex AS (
  SELECT quantile_cont(len, [{', '.join(repr(q) for q in QSK_QS)}]) AS exa
  FROM lens
), picked AS (
  SELECT q, qi, CAST(n AS BIGINT) AS n, b, cnt, cum - cnt AS cum_before,
         q * CAST(n - 1 AS DOUBLE) AS pos
  FROM cum CROSS JOIN qs
  WHERE cum - cnt <= q * CAST(n - 1 AS DOUBLE)
    AND q * CAST(n - 1 AS DOUBLE) < cum
), calc AS (
  SELECT q, qi, n,
         CAST(round(pow(2.0, b)) AS BIGINT) AS bin_lo,
         CAST(round(pow(2.0, b + 1)) AS BIGINT) AS bin_hi,
         CAST(round(pow(2.0, b)) AS BIGINT)
           + (CAST(round(pow(2.0, b + 1)) AS BIGINT)
              - CAST(round(pow(2.0, b)) AS BIGINT))
             * (pos - cum_before) / cnt AS est
  FROM picked
)
SELECT q, n AS n_docs, bin_lo, bin_hi,
       round(est, 4) AS sketch_est,
       round(exa[qi + 1], 4) AS exact_len,
       round(abs(est - exa[qi + 1]) / greatest(exa[qi + 1], 1.0), 6)
         AS rel_error
FROM calc CROSS JOIN ex
"""


SPARK_QUERIES = {
    "docs_hll_sketch": docs_hll_sketch,
    "docs_cms_heavy_hitters": docs_cms_heavy_hitters,
    "docs_hll_snapshot_merge": docs_hll_snapshot_merge,
    "docs_cms_snapshot_merge": docs_cms_snapshot_merge,
    "docs_length_quantile_sketch": docs_length_quantile_sketch,
    "docs_kmv_distinct": docs_kmv_distinct,
    "docs_weighted_reservoir": docs_weighted_reservoir,
    "docs_kmv_resemblance": docs_kmv_resemblance,
    "docs_hll_by_lang": docs_hll_by_lang,
    "docs_kmv_diff": docs_kmv_diff,
}

ORACLE_SQL = {
    "docs_hll_sketch": DOCS_HLL_SKETCH_SQL,
    "docs_cms_heavy_hitters": DOCS_CMS_HEAVY_HITTERS_SQL,
    "docs_hll_snapshot_merge": DOCS_HLL_SNAPSHOT_MERGE_SQL,
    "docs_cms_snapshot_merge": DOCS_CMS_SNAPSHOT_MERGE_SQL,
    "docs_length_quantile_sketch": DOCS_LENGTH_QUANTILE_SKETCH_SQL,
    "docs_kmv_distinct": DOCS_KMV_DISTINCT_SQL,
    "docs_weighted_reservoir": DOCS_WEIGHTED_RESERVOIR_SQL,
    "docs_kmv_resemblance": DOCS_KMV_RESEMBLANCE_SQL,
    "docs_hll_by_lang": DOCS_HLL_BY_LANG_SQL,
    "docs_kmv_diff": DOCS_KMV_DIFF_SQL,
}
