"""Corpus-wide curation job stage (job.py run_curation_job): extraction
output → paragraph dedup → quality/repetition verdict → shard packing,
committed as one snapshot with a metrics row."""

from __future__ import annotations

import pytest

from ocr_spark.job import (
    curation_root, run_curation_job, run_extraction_job,
)
from ocr_spark.sources import iceberg_shim as shim


@pytest.fixture(scope="module")
def curated(spark, tmp_path_factory):
    """Extraction job + curation job over the wrapped documents corpus
    (whose repeated section headings give paragraph dedup real work)."""
    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root = str(tmp_path_factory.mktemp("cur_in"))
    work = str(tmp_path_factory.mktemp("cur_work"))
    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    shim.write_snapshot(pages, input_root)
    run_extraction_job(spark, input_root, work, partitions=8,
                       big_partitions=1, waves=2)
    summary = run_curation_job(spark, work)
    return spark, work, summary


def test_curation_commits_one_snapshot_with_lineage(curated):
    spark, work, summary = curated
    sids = shim.history(curation_root(work))
    assert sids == [summary["snapshot"]]
    manifest = shim.read_manifest(curation_root(work), summary["snapshot"])
    assert manifest["curated_from"] == summary["input_snapshots"]
    assert len(summary["input_snapshots"]) >= 1


def test_paragraph_dedup_collapsed_boilerplate(curated):
    spark, work, summary = curated
    # only 7 distinct section headings exist corpus-wide → repeats die
    assert summary["paras_removed"] > 0
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    row = out.filter("n_kept < n_paras").limit(1).collect()
    assert row, "some document must have lost a duplicated paragraph"


def test_verdict_and_shards_consistent(curated):
    spark, work, summary = curated
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    assert out.count() == summary["docs"]
    # kept docs have a shard, dropped docs have a reason and no shard
    assert out.filter("keep AND shard_id IS NULL").count() == 0
    assert out.filter("NOT keep AND drop_reason IS NULL").count() == 0
    assert out.filter("NOT keep AND shard_id IS NOT NULL").count() == 0
    assert summary["docs_kept"] + summary["dropped_quality"] \
        + summary["dropped_repetition"] \
        + summary["dropped_line_format"] == summary["docs"]
    assert summary["docs_kept"] > 0 and summary["shards"] > 0
    # the line-format gate does real work on this corpus: bullet-list
    # docs (gen/wrap.py, every fifth doc) cross the bullet-ratio
    # threshold once paragraph dedup has removed their duplicated
    # heading lines
    assert summary["dropped_line_format"] > 0


def test_rerun_is_deterministic(curated):
    """A second run over the same immutable extraction output produces a
    new snapshot with identical content — the crash-recovery story."""
    spark, work, summary = curated
    again = run_curation_job(spark, work)
    assert again["snapshot"] != summary["snapshot"]
    a = shim.read_snapshot(spark, curation_root(work), summary["snapshot"])
    b = shim.read_snapshot(spark, curation_root(work), again["snapshot"])
    cols = ["url", "text_deduped", "keep", "drop_reason", "shard_id"]
    assert sorted(map(tuple, a.select(cols).collect())) \
        == sorted(map(tuple, b.select(cols).collect()))


def test_metrics_row_appended(curated):
    """One metrics row per curation run: after the rerun above, every
    published curated snapshot has exactly one row, keyed by its run."""
    spark, work, summary = curated
    import os

    m = spark.read.parquet(os.path.join(work, "curation_metrics"))
    rows = m.collect()
    assert len({r.run_id for r in rows}) == len(rows)
    assert sorted(r.snapshot for r in rows) \
        == sorted(shim.history(curation_root(work)))
    r = {r.run_id: r for r in rows}[summary["run_id"]]
    assert r.docs == summary["docs"]
    assert r.docs_kept == summary["docs_kept"]
    assert r.snapshot == summary["snapshot"]
    assert r.paras_total - r.paras_kept == summary["paras_removed"]
    assert r.shards == summary["shards"]


def test_span_mode_strips_duplicated_disclaimers(curated):
    """dedup='span': the same committed extraction output curated with
    C4's literal three-sentence rule — all but one occurrence of each
    disclaimer variant lose exactly its 3-sentence span, counts stay
    self-consistent in sentence units."""
    spark, work, _ = curated
    summary = run_curation_job(spark, work, dedup="span")
    assert summary["dedup"] == "span"
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    rows = out.select("url", "n_paras", "n_kept",
                      "text_deduped").collect()
    shrunk = [r for r in rows if r.n_kept < r.n_paras]
    assert shrunk and all(r.n_paras - r.n_kept == 3 for r in shrunk)
    assert all("prior written permission" not in r.text_deduped
               for r in shrunk)
    # exactly one keeper per disclaimer variant survives with its span
    keepers = [r for r in rows
               if "prior written permission" in r.text_deduped]
    assert len(keepers) == 3
    assert summary["paras_removed"] == 3 * len(shrunk)


def test_substr_mode_excises_duplicated_token_runs(curated):
    """dedup='substr': the same committed extraction output deduped at
    Lee-et-al. token-window granularity. Token windows are STRICTER
    than C4's sentence spans: the three disclaimer variants share
    their prefix/suffix 8-token windows ACROSS variants, so only the
    single GLOBAL first occurrence keeps "prior written permission" —
    every other disclaimer doc loses those shared windows (span mode
    kept one per variant; this mode keeps one, period). Surviving
    text keeps its original CASING (unlike the lowercased oracle
    query form), and sub-window boilerplate (5-token headings) is
    untouched."""
    spark, work, _ = curated
    summary = run_curation_job(spark, work, dedup="substr")
    assert summary["dedup"] == "substr"
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    rows = out.select("url", "n_paras", "n_kept", "text_deduped").collect()
    shrunk = [r for r in rows if r.n_kept < r.n_paras]
    assert shrunk
    # the shared disclaimer windows collapse to ONE global keeper
    keepers = [r for r in rows
               if "prior written permission" in r.text_deduped]
    assert len(keepers) == 1
    assert keepers[0].n_kept == keepers[0].n_paras  # global first: intact
    # every shrunk doc lost at least one full window
    assert all(r.n_paras - r.n_kept >= 8 for r in shrunk), shrunk
    assert len(shrunk) >= 10  # ~1 in 4 docs carries the disclaimer
    # case preserved in surviving text (titles are capitalized)
    assert any("Document" in r.text_deduped for r in rows)
    # 5-token headings are BELOW the window width: still duplicated
    heading_docs = [r for r in rows
                    if "overview and summary" in r.text_deduped]
    assert len(heading_docs) > 3


def test_dup_2gram_frac_matches_count_reference(curated):
    """The per-row repetition expression equals the count form it
    replaced — explode the 2-grams, count each per doc, then
    sum(c - 1) / sum(c), 0.0 for a doc without 2-grams — EXACTLY, on
    every curated doc plus hand rows at the edges (empty, one token, two
    tokens, one repeated token, no Gopher stopword). The snapshot's
    stored column is that value rounded to 4 dp, and so is the
    oracle-checked docs_repetition_metrics' ``dup_2gram_frac`` column on
    every documents row (a doc without 2-grams has no row there)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.dataops import _tokens, t
    from ocr_spark.plans.webops import dup_2gram_frac, docs_repetition_metrics
    from tests.test_webops import SF_TINY

    spark, work, summary = curated
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    hand = spark.createDataFrame(
        [("hand://empty", ""), ("hand://one", "word"),
         ("hand://two", "two words"),
         ("hand://same", "same same  same\nsame SAME"),
         ("hand://nostop", "alpha beta gamma alpha beta delta alpha beta")],
        "url string, text_deduped string")
    docs = (out.select("url", "text_deduped").unionByName(hand)
            .withColumn("toks", F.split(F.lower(F.trim("text_deduped")),
                                        r"\s+")))
    grams = F.when(
        F.size("toks") >= 2,
        F.transform(F.sequence(F.lit(0), F.size("toks") - 2),
                    lambda i: F.concat_ws(" ", F.slice("toks", i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    counts = (docs.select("url", F.explode(grams).alias("g"))
              .groupBy("url", "g").agg(F.count("*").alias("c"))
              .groupBy("url")
              .agg((F.sum(F.col("c") - 1) / F.sum("c")).alias("ref")))
    got = dict(docs.select("url", dup_2gram_frac(F.col("toks"))).collect())
    ref = {u: 0.0 for u in got}
    ref.update(dict(counts.collect()))
    assert got == ref
    assert got["hand://same"] == 3 / 4 and got["hand://one"] == 0.0
    assert got["hand://empty"] == 0.0 and got["hand://two"] == 0.0
    assert got["hand://nostop"] == 2 / 7
    assert 0 < sum(got.values())
    stored = out.select("url", "dup_2gram_frac").join(
        counts.select("url", F.round("ref", 4).alias("ref")), "url", "left")
    assert stored.filter(~F.col("dup_2gram_frac").eqNullSafe(
        F.coalesce("ref", F.lit(0.0)))).count() == 0

    kernel = t(spark, SF_TINY, "documents").select(
        "doc_id", F.round(dup_2gram_frac(_tokens()), 4).alias("k"))
    query = docs_repetition_metrics(spark, SF_TINY)
    both = kernel.join(query, "doc_id", "left").select(
        "k", F.coalesce("dup_2gram_frac", F.lit(0.0)).alias("q")).collect()
    assert both and all(r.k == r.q for r in both)
    assert query.count() > 0 and any(r.q > 0 for r in both)


def test_shard_packing_matches_kept_only_window(curated):
    """One packing window over every doc, dropped docs adding 0 tokens,
    gives each kept doc the shard the kept-only window + join gave: a
    reference built here that way agrees url by url, and dropped docs
    have no shard."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    spark, work, summary = curated
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    w = (Window.partitionBy("stratum").orderBy("url")
         .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum("n_words").over(w), F.lit(0))
    kept = (out.filter("keep")
            .withColumn("stratum", F.substring(F.md5("url"), 1, 1))
            .select("url", F.concat_ws(
                "-", "stratum", F.floor(prefix / 2000).cast("string"))
                .alias("ref")))
    both = out.join(kept, "url", "left")
    assert both.count() == summary["docs"]
    assert both.filter(~F.col("shard_id").eqNullSafe(F.col("ref"))) \
        .count() == 0
    assert both.filter("NOT keep AND shard_id IS NOT NULL").count() == 0
    shards = both.filter("ref IS NOT NULL").select("ref").distinct().count()
    assert shards == summary["shards"] and shards > 1


def test_default_curation_plan_is_one_scan_no_join(curated, monkeypatch):
    """Plan-shape gate for the default curation: the frame it commits
    scans the extraction output ONCE, shuffles at most three times
    (md5(para) first-occurrence window, url reassembly, stratum packing
    window) and joins nothing."""
    import re

    spark, work, _ = curated
    frames = []
    stage = shim.prepare_snapshot

    def capture(df, table_root, *args, **kwargs):
        if table_root == curation_root(work):
            frames.append(df)
        return stage(df, table_root, *args, **kwargs)

    monkeypatch.setattr(shim, "prepare_snapshot", capture)
    run_curation_job(spark, work)
    (df,) = frames
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert len(re.findall(r"FileScan parquet", plan)) == 1, plan
    assert len(re.findall(r"Exchange hashpartitioning", plan)) <= 3, plan
    assert "Join" not in plan, plan
    # no lambda higher-order function: those run interpreted, not codegen'd
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in optimized.lower(), optimized


def test_curation_does_not_read_back(curated, monkeypatch):
    """The metrics row is observed while the snapshot is written: the
    curation never reads a published snapshot back."""
    spark, work, _ = curated

    def refuse(*args, **kwargs):
        raise AssertionError("run_curation_job read a snapshot back")

    monkeypatch.setattr(shim, "read_snapshot", refuse)
    summary = run_curation_job(spark, work)
    assert summary["docs"] > 0 and summary["shards"] > 0


@pytest.mark.parametrize("budget", [50, 300, 2000])
def test_observed_shards_equal_distinct_shard_ids(curated, budget):
    """The observed ``shards`` (a sum of shard-opening flags) equals
    countDistinct(shard_id) of the published snapshot, at budgets where
    shards hold many docs and where nearly every doc opens its own (at 50
    a doc can skip shard numbers)."""
    from pyspark.sql import functions as F

    spark, work, _ = curated
    summary = run_curation_job(spark, work, shard_token_budget=budget)
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    agg = out.agg(F.countDistinct("shard_id").alias("shards"),
                  F.count("*").alias("docs"),
                  F.sum(F.col("keep").cast("long")).alias("kept")).first()
    assert summary["shards"] == agg.shards > 1
    assert (summary["docs"], summary["docs_kept"]) == (agg.docs, agg.kept)


# Edge rows for the verdict-expression identities: empty, one token, a
# leading newline, tokens ending in a Java line terminator, non-ASCII case
# folds, \t / \x0b / \x0c separators, CR and CRLF lines, bullet and
# ellipsis lines, trailing and repeated newlines, a brace-and-comma token
# pair that the 2-gram struct cast must keep apart.
HAND_TEXTS = [
    "", "word", "\nleading newline here", "\n\n\n",
    "abc\u0085 def\u2028 ghi\u2029 jk\u2028\u2028 l\u2028m \u2029 x",
    "ends in a separator\u2028",
    "\u0130stanbul \u212aelvin na\u00efve caf\u00e9",
    "tab\tsep\x0bvt\x0cff mixed\x0c\x0bend",
    "x....\nlast\u2026\n...\n\u2026\u2026\nmid... dots",
    "- one\r\n* two\r\n\u2022 three\r\nend...\r\nplain\r\n",
    "lone\r- dash after cr\rmore...\r\u2022 bullet\n",
    "- a\n* b\n\u2022 c\n\u2022d\n-e\n*f\n -g\n--h",
    "a...\n\n\nb\u2026\n\n", "x\n", "trailing\n\n\n\n",
    "{a, b} c {a, b} c", "{a,, b} {a, b}} c",
    "same same  same\nsame SAME", "alpha beta gamma alpha beta delta",
]


def test_verdict_expressions_match_lambda_reference(curated):
    """Every lambda-free verdict count of the shared kernels
    (dataops.gopher_gate_cols, webops.gopher_line_cols and
    webops.dup_2gram_frac) equals the lambda higher-order form it
    replaced, with ==, on every curated doc plus HAND_TEXTS: the
    token-length sum (aggregate), alphabetic tokens (filter + rlike), and
    non-empty / bullet / ellipsis lines (filter over a \\n split), and
    ``dup_2gram_frac`` against the transform-built 2-grams. The hand rows
    are sharp: the alpha pattern without its line-terminator tail and the
    line patterns without UNIX_LINES each disagree on some of them."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.dataops import gopher_gate_cols
    from ocr_spark.plans.webops import dup_2gram_frac, gopher_line_cols

    spark, work, summary = curated
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    hand = spark.createDataFrame(
        [(f"hand://{i}", t) for i, t in enumerate(HAND_TEXTS)],
        "url string, text_deduped string")
    docs = (out.select("url", "text_deduped").unionByName(hand)
            .withColumn("toks", F.split(F.lower(F.trim("text_deduped")),
                                        r"\s+")))
    toks, text = F.col("toks"), F.col("text_deduped")
    lines = F.filter(F.split(text, "\n"), lambda x: x != "")
    grams = F.when(
        F.size(toks) >= 2,
        F.transform(F.sequence(F.lit(0), F.size(toks) - 2),
                    lambda i: F.concat_ws(" ", F.slice(toks, i + 1, 2))),
    ).otherwise(F.array().cast("array<string>"))
    n_grams = F.size(grams)
    ref = {
        "wlen_sum": F.aggregate(toks, F.lit(0).cast("bigint"),
                                lambda a, x: a + F.length(x)),
        "n_alpha": F.size(F.filter(toks, lambda x: x.rlike("^[a-z]+$"))),
        "n_lines": F.size(lines),
        "n_bullet": F.size(F.filter(
            lines, lambda x: x.startswith("\u2022 ") | x.startswith("- ")
            | x.startswith("* "))),
        "n_ellipsis": F.size(F.filter(
            lines, lambda x: x.endswith("...") | x.endswith("\u2026"))),
        "dup": F.when(n_grams > 0,
                      (n_grams - F.size(F.array_distinct(grams))) / n_grams)
        .otherwise(F.lit(0.0)),
    }
    got = {**gopher_gate_cols(toks), **gopher_line_cols(text),
           "dup": dup_2gram_frac(toks)}
    naive = {
        "n_alpha": F.regexp_count(F.array_join(toks, " "),
                                  F.lit(r"(?<![^ ])[a-z]+(?![^ ])")),
        "n_bullet": F.regexp_count(text, F.lit(r"(?m)^(?:\u2022 |- |\* )")),
        "n_ellipsis": F.regexp_count(text, F.lit(r"(?m)(?:\.\.\.|\u2026)$")),
    }
    rows = docs.select(
        "url", *(ref[k].alias(f"ref_{k}") for k in ref),
        *(got[k].alias(f"got_{k}") for k in ref),
        *(naive[k].alias(f"naive_{k}") for k in naive)).collect()
    assert len(rows) == summary["docs"] + len(HAND_TEXTS)
    for k in ref:
        bad = [(r.url, r[f"ref_{k}"], r[f"got_{k}"]) for r in rows
               if r[f"ref_{k}"] != r[f"got_{k}"]]
        assert not bad, (k, bad)
    hand_rows = [r for r in rows if r.url.startswith("hand://")]
    for k in naive:
        assert any(r[f"naive_{k}"] != r[f"ref_{k}"] for r in hand_rows), k
    assert all(sum(r[f"ref_{k}"] for r in hand_rows) > 0 for k in ref)


def _edge_texts() -> dict[str, str]:
    """One-paragraph docs whose rounded and unrounded verdicts differ."""
    words = [f"w{i}" for i in range(14_000)]
    return {
        # 99,999 letters over 50,000 tokens: mean word length 1.99998
        "mean_low": " ".join(["the"] + ["ab"] * 49_997 + ["a"] * 2),
        # 300,001 letters over 25,000 tokens: 12.00004
        "mean_high": " ".join(["the"] + ["abcdefghijkl"] * 24_989
                              + ["abcdefghijklm"] * 10),
        # 14,999 alphabetic of 25,000 tokens: 0.59996 rounds up to 0.6
        "alpha": " ".join(["the"] * 14_999 + ["42"] * 10_001),
        # 6,001 repeated of 20,001 2-grams: 0.300035 rounds to 0.3
        "dup": " ".join(words + words[:6_002]),
        # 2 of 4 lines start with a bullet: exactly 0.5
        "bullets": "- the first\nthe second line\n* the third\nthe end",
        # no non-empty line
        "newline": "\n",
    }


def test_job_and_kernels_agree_at_rounding_edges(curated, tmp_path):
    """The job's quality_ok, line_ok and repetition_ok equal the keep
    columns of the oracle-checked kernels on every row of an extraction
    output that holds the fixture's docs plus docs at the rounding edges
    (the kernels threshold 4-dp rounded values; a job that thresholds
    unrounded ones drops the edge docs the kernels keep)."""
    from pyspark.sql import functions as F

    from ocr_spark.job import output_root, read_extracted
    from ocr_spark.plans.dataops import _tokens, gopher_gate_frame
    from ocr_spark.plans.webops import (
        DUP_2GRAM_MAX_FRAC, dup_2gram_frac, gopher_line_cols,
        gopher_line_keep)

    spark, work, _ = curated
    edges = _edge_texts()
    extracted = read_extracted(spark, work)
    hand = spark.createDataFrame(
        [(f"edge://{k}", v) for k, v in edges.items()],
        "url string, text string")
    edge_rows = extracted.limit(1).drop("url", "text").crossJoin(hand) \
        .withColumn("error", F.lit(None).cast("string"))
    work2 = str(tmp_path)
    shim.write_snapshot(extracted.unionByName(edge_rows),
                        output_root(work2))
    summary = run_curation_job(spark, work2)
    out = shim.read_snapshot(spark, curation_root(work2),
                             summary["snapshot"])
    gate = gopher_gate_frame(out, "url", text_col="text_deduped") \
        .select("url", F.col("keep").alias("ref_quality"))
    lines = gopher_line_cols(F.col("text_deduped"))
    ref = (out.join(gate, "url")
           .select("*", *(lines[c].alias(c) for c in (
               "n_lines", "bullet_line_frac", "ellipsis_line_frac")))
           .select("url", "quality_ok", "line_ok", "repetition_ok",
                   "ref_quality", gopher_line_keep().alias("ref_line"),
                   (F.round(dup_2gram_frac(_tokens("text_deduped")), 4)
                    <= DUP_2GRAM_MAX_FRAC).alias("ref_repetition")))
    rows = {r.url: r for r in ref.collect()}
    n_docs = extracted.filter(
        "error IS NULL AND text IS NOT NULL AND text != ''").count()
    assert len(rows) == summary["docs"] == n_docs + len(edges)
    for name in ("quality", "line", "repetition"):
        bad = [u for u, r in rows.items()
               if r[f"{name}_ok"] != r[f"ref_{name}"]]
        assert not bad, (name, bad)
    # the edges sit where rounding decides, and the kernels keep them
    for k in ("mean_low", "mean_high", "alpha"):
        assert rows[f"edge://{k}"].quality_ok, k
    assert rows["edge://dup"].repetition_ok
    assert rows["edge://bullets"].line_ok and rows["edge://newline"].line_ok
    assert not rows["edge://newline"].quality_ok


def test_paragraph_reassembly_matches_lambda_reference(curated):
    """Each doc's deduped text equals the kept paragraphs joined in order
    the old way, ``transform(array_sort(collect_list(struct)), s -> s.para)``,
    rebuilt here from the extraction output."""
    from pyspark.sql import functions as F
    from pyspark.sql.window import Window

    from ocr_spark.job import read_extracted

    spark, work, summary = curated
    paras = (read_extracted(spark, work)
             .filter("error IS NULL AND text IS NOT NULL AND text != ''")
             .select("url", F.posexplode(F.split("text", "\n\n"))
                     .alias("para_idx", "para")))
    rn = F.row_number().over(
        Window.partitionBy(F.md5("para")).orderBy("url", "para_idx"))
    kept = F.when(F.col("rn") == 1, F.struct("para_idx", "para"))
    ref = (paras.withColumn("rn", rn).groupBy("url")
           .agg(F.array_join(F.transform(F.array_sort(F.collect_list(kept)),
                                         lambda s: s["para"]), "\n\n")
                .alias("ref")))
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    both = out.join(ref, "url", "full_outer")
    assert both.count() == summary["docs"]
    assert both.filter(~F.col("text_deduped").eqNullSafe(F.col("ref"))) \
        .count() == 0
    assert out.filter("n_kept < n_paras").count() > 0


@pytest.mark.parametrize("key_cols", [["url"], ["url", "copy_idx"]])
def test_shard_digest_rows_match_lambda_reference(curated, key_cols):
    """The export / sampling / SFT shard digest equals the old form,
    ``transform(sort_array(collect_list(struct(keys, dg))), s -> s.dg)``,
    shard by shard; with two copies of every doc for the sampling key."""
    from pyspark.sql import functions as F

    from ocr_spark.job import shard_digest_rows

    spark, work, summary = curated
    kept = (shim.read_snapshot(spark, curation_root(work),
                               summary["snapshot"])
            .filter("keep AND shard_id IS NOT NULL")
            .withColumn("copy_idx", F.explode(F.array(F.lit(0), F.lit(1)))))
    if key_cols == ["url"]:
        kept = kept.filter("copy_idx = 0").drop("copy_idx")
    ref = (kept.withColumn("dg", F.md5("text_deduped")).groupBy("shard_id")
           .agg(F.md5(F.concat_ws(",", F.transform(
               F.sort_array(F.collect_list(F.struct(*key_cols, "dg"))),
               lambda s: s["dg"]))).alias("ref")))
    got = dict(shard_digest_rows(kept, key_cols)
               .select("shard_id", "content_digest").collect())
    assert got == dict(ref.collect())
    assert len(got) == summary["shards"] > 1


# Langid edge rows: a \t-led text (a leading empty token), a trailing \t
# (a trailing empty token), NBSP and U+2028 tails that \s+ does not split,
# stopwords glued to punctuation or inside words, repeats, case folds and
# blank lines.
LANGID_TEXTS = [
    "", "\tthe cat and the dog", "of the\t", "the\u00a0and the",
    "der die\u2028 das und ist", "le la les\u2028", "y y y\u00a0 el",
    "The THE the", "the-and the, and", "en de la los una para",
    "nicht von mit auf ein  ein\n\nein", "\t\t", " the ",
    "other under ein- lesson ellas",
]


def _member(ws):
    return lambda x: x.isin(*ws)


def test_langid_hits_match_lambda_reference(curated):
    """dataops.langid_hit_cols counts, lambda-free, what
    ``size(filter(toks, x -> x IN stopwords))`` counted, with ==, on every
    curated doc plus LANGID_TEXTS and HAND_TEXTS. The rows are sharp: a
    count without the whole-token lookarounds disagrees on some of them."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.dataops import (
        _LANG_STOPWORDS, _tokens, langid_hit_cols)

    spark, work, summary = curated
    out = shim.read_snapshot(spark, curation_root(work),
                             summary["snapshot"])
    texts = LANGID_TEXTS + HAND_TEXTS
    hand = spark.createDataFrame(
        [(f"hand://{i}", t) for i, t in enumerate(texts)],
        "url string, text_deduped string")
    docs = (out.select("url", "text_deduped").unionByName(hand)
            .withColumn("toks", _tokens("text_deduped")))
    joined = F.array_join("toks", " ")
    rows = docs.select(
        "url", *langid_hit_cols("toks"),
        *(F.size(F.filter("toks", _member(ws))).alias(f"ref_{lg}")
          for lg, ws in _LANG_STOPWORDS.items()),
        *(F.regexp_count(joined, F.lit("|".join(ws))).alias(f"naive_{lg}")
          for lg, ws in _LANG_STOPWORDS.items())).collect()
    assert len(rows) == summary["docs"] + len(texts)
    hand_rows = [r for r in rows if r.url.startswith("hand://")]
    for lg in _LANG_STOPWORDS:
        bad = [(r.url, r[f"ref_{lg}"], r[f"hits_{lg}"]) for r in rows
               if r[f"ref_{lg}"] != r[f"hits_{lg}"]]
        assert not bad, (lg, bad)
        assert sum(r[f"ref_{lg}"] for r in hand_rows) > 0, lg
        assert any(r[f"naive_{lg}"] != r[f"ref_{lg}"] for r in hand_rows), lg


def test_mixture_kernel_matches_inline_reference(curated):
    """curation.mixture_realize_frame gives every kept doc the e_micro and
    n_copies of the copy the sampling job used to hold, spelled here: the
    per-language token sums, z, epochs, e_micro and the md5("mix:" || url)
    draw, over three unequal synthetic languages."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.curation import (
        _EPOCH_SCALE, MIXTURE_ALPHA, mixture_realize_frame)

    spark, work, summary = curated
    h1 = F.substring(F.md5("url"), 1, 1)
    kept = (shim.read_snapshot(spark, curation_root(work),
                               summary["snapshot"])
            .filter("keep")
            .select("url", "n_words",
                    F.when(h1 < "3", "de").when(h1 < "6", "fr")
                    .otherwise("en").alias("lang")))
    per = kept.groupBy("lang").agg(F.sum("n_words").alias("n_tokens"))
    tot = per.agg(F.sum("n_tokens").alias("tot_tokens"),
                  F.sum(F.pow("n_tokens", MIXTURE_ALPHA)).alias("z"))
    e = (F.pow("n_tokens", MIXTURE_ALPHA) / F.col("z")
         * F.col("tot_tokens") / F.col("n_tokens"))
    mix = per.crossJoin(tot).select(
        "lang", F.round(e * _EPOCH_SCALE).cast("long").alias("ref_e"))
    h = (F.conv(F.substring(F.md5(F.concat(F.lit("mix:"), F.col("url"))),
                            1, 8), 16, 10).cast("long") % _EPOCH_SCALE)
    ref = kept.join(mix, "lang").select(
        "url", "ref_e",
        (F.floor(F.col("ref_e") / _EPOCH_SCALE)
         + (h < F.col("ref_e") % _EPOCH_SCALE).cast("long")).alias("ref_n"))
    got = mixture_realize_frame(kept, "url", n_tokens="n_words")
    rows = got.join(ref, "url").collect()
    assert len(rows) == summary["docs_kept"]
    assert all((r.e_micro, r.n_copies) == (r.ref_e, r.ref_n) for r in rows)
    assert len({r.e_micro for r in rows}) == 3
    assert len({r.n_copies for r in rows}) > 1


def test_corpus_shaping_plans_hold_no_lambda(curated, monkeypatch):
    """The optimized plans of shards_manifest, docs_langid and the frame
    the sampling job commits hold no lambdafunction."""
    from ocr_spark.job import run_sampling_job, sampling_root
    from ocr_spark.plans.curation import shards_manifest
    from ocr_spark.plans.dataops import docs_langid

    spark, work, _ = curated
    frames = []
    stage = shim.prepare_snapshot

    def capture(df, table_root, *args, **kwargs):
        if table_root == sampling_root(work):
            frames.append(df)
        return stage(df, table_root, *args, **kwargs)

    monkeypatch.setattr(shim, "prepare_snapshot", capture)
    run_sampling_job(spark, work)
    sf = "/root/testdata/sf0.001"
    assert len(frames) == 1
    for df in (shards_manifest(spark, sf), docs_langid(spark, sf), *frames):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert "lambdafunction" not in plan.lower(), plan


def test_line_gate_oracle_keeps_docs_without_lines():
    """The DuckDB oracle of docs_gopher_line_filters keeps a doc without a
    non-empty line (empty text, only newlines), as gopher_line_keep and
    the job do: NULL fractions, keep_lines true."""
    import duckdb

    from ocr_spark.plans.webops import _GOPHER_LINE_TAIL

    sql = ("WITH seq(doc_id, block_id, btext) AS (VALUES (1, 0, ''), "
           "(2, 0, chr(10) || chr(10)))" + _GOPHER_LINE_TAIL)
    assert sorted(duckdb.sql(sql).fetchall()) == [
        (1, 0, None, None, True), (2, 0, None, None, True)]


def test_neardup_stage_collapses_recrawls(spark, tmp_path_factory):
    """neardup=True collapses document-level near-duplicates: a corpus
    with re-crawled copies (same text ± a trailing edit, new url) must
    keep exactly the LONGEST member per cluster and drop the rest,
    while a neardup=False run keeps every copy (url-keyed content
    dedup cannot see mirrors)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root = str(tmp_path_factory.mktemp("nd_in"))
    work = str(tmp_path_factory.mktemp("nd_work"))
    work2 = str(tmp_path_factory.mktemp("nd_work_base"))

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    # re-crawl mirrors for docs 3 and 5 — both ISOLATED in the base
    # corpus's own near-dup graph (the synthetic small-vocab prose
    # contains genuine near-dup clusters; an isolated source makes the
    # mirror pair's keeper deterministic). The mirror body carries an
    # extra trailing sentence, built through the SAME wrapper so
    # extraction stays golden
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    import pandas as _pd
    from pyspark.sql.types import BinaryType

    @F.pandas_udf(BinaryType())
    def wrap2(doc_id, text):
        from ocr_spark.gen.wrap import html_for_document
        return _pd.Series([
            html_for_document(int(d), t) for d, t in zip(doc_id, text)
        ])

    mirrors = (docs.filter(F.col("doc_id").isin(3, 5))
               .select(
                   F.concat(F.lit("doc://mirror/"),
                            F.col("doc_id").cast("string")).alias("url"),
                   F.lit("2025-01-02 00:00:00").cast("timestamp")
                    .alias("warc_ts"),
                   wrap2("doc_id",
                         F.concat(F.col("text"),
                                  F.lit(" extra recrawl sentence tail")))
                   .alias("html"),
                   F.col("text"),
                   F.col("lang")))
    both = pages.unionByName(mirrors)
    shim.write_snapshot(both, input_root)
    run_extraction_job(spark, input_root, work, partitions=8,
                       big_partitions=1, waves=2)

    s_nd = run_curation_job(spark, work, neardup=True)
    # >= 2: the two mirror pairs collapse; the base corpus contributes
    # its own internal near-dup losers on top
    assert s_nd["neardup_dropped"] >= 2, s_nd
    out = shim.read_snapshot(spark, curation_root(work),
                             s_nd["snapshot"])
    kept_urls = {r.url for r in out.select("url").collect()}
    # the mirror is LONGER (extra sentence) → it is the keeper, the
    # original url is the loser
    assert "doc://mirror/3" in kept_urls and "doc://3" not in kept_urls
    assert "doc://mirror/5" in kept_urls and "doc://5" not in kept_urls

    # baseline: without the stage both copies survive into curation
    run_extraction_job(spark, input_root, work2, partitions=8,
                       big_partitions=1, waves=2)
    s_base = run_curation_job(spark, work2, neardup=False)
    out2 = shim.read_snapshot(spark, curation_root(work2),
                              s_base["snapshot"])
    urls2 = {r.url for r in out2.select("url").collect()}
    assert s_base["neardup_dropped"] == 0
    assert {"doc://3", "doc://mirror/3", "doc://5",
            "doc://mirror/5"} <= urls2


def test_line_corrections_stage_edits_before_dedup(spark,
                                                   tmp_path_factory):
    """line_corrections=True strips bullet/ellipsis lines from the
    extracted text BEFORE dedup (the bullet-block docs lose their <li>
    lines), while the default run keeps them; counts surface in the
    summary and manifest."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root = str(tmp_path_factory.mktemp("lc_in"))
    work = str(tmp_path_factory.mktemp("lc_work"))

    pages = pages_from_documents(spark, "/root/testdata/sf0.001")
    shim.write_snapshot(pages, input_root)
    run_extraction_job(spark, input_root, work, partitions=8,
                       big_partitions=1, waves=2)

    s = run_curation_job(spark, work, line_corrections=True)
    # every fifth document carries a 3-item bullet block (gen/wrap.py)
    assert s["lines_removed"] >= 3, s
    out = shim.read_snapshot(spark, curation_root(work), s["snapshot"])
    # no surviving text contains a bullet line or an ellipsis teaser
    assert out.filter(F.col("text_deduped").contains("• ")).count() == 0
    assert out.filter(F.col("text_deduped").contains("...")).count() == 0
    # manifest records the stage
    manifest = shim.read_manifest(curation_root(work), s["snapshot"])
    assert manifest["line_corrections"] is True
    assert manifest["lines_removed"] == s["lines_removed"]
    assert manifest["linefix_dropped"] == s["linefix_dropped"]


def test_curation_of_empty_text_publishes_zero_metrics(spark, tmp_path):
    """An extraction output in which every doc has empty text curates to
    an empty published snapshot, a metrics row of zeros and zero counts
    (its sums are NULL, which once raised after the publish), and its
    empty export verifies clean."""
    import os

    from pyspark.sql import functions as F

    from ocr_spark.job import (
        read_extracted, run_export_job, verify_all, verify_shards)

    input_root, work = str(tmp_path / "in"), str(tmp_path / "work")
    pages = spark.createDataFrame(
        [(f"http://empty.example/{i}", "<html><body></body></html>")
         for i in range(3)], "url string, html string")
    shim.write_snapshot(pages.select(
        "url", F.lit("2025-01-01 00:00:00").cast("timestamp").alias("warc_ts"),
        F.col("html").cast("binary").alias("html"), F.lit("").alias("text"),
        F.lit("en").alias("lang")), input_root)
    run_extraction_job(spark, input_root, work, partitions=2,
                       big_partitions=1, waves=1)
    assert read_extracted(spark, work).filter("text = ''").count() == 3

    summary = run_curation_job(spark, work)
    names = ["docs", "docs_kept", "dropped_quality", "dropped_repetition",
             "dropped_line_format", "shards", "paras_removed"]
    assert {k: summary[k] for k in names} == dict.fromkeys(names, 0)
    assert shim.history(curation_root(work)) == [summary["snapshot"]]
    assert shim.read_snapshot(spark, curation_root(work),
                              summary["snapshot"]).count() == 0
    (row,) = spark.read.parquet(
        os.path.join(work, "curation_metrics")).collect()
    assert row.snapshot == summary["snapshot"]
    assert tuple(row)[2:] == (0,) * 8

    # its export has no shard and no data file, and still verifies clean:
    # the product is read with the schema it was staged with
    assert run_export_job(spark, work)["shards"] == 0
    check = verify_shards(spark, work, "export")
    assert check["shards_checked"] == 0 and check["mismatches"] == {}
    assert verify_all(spark, work)["ok"]


def test_curation_walks_the_output_chain_once(spark, tmp_path, monkeypatch):
    """One curation of a 4-wave extraction output reads each of its 4
    manifests once: the lineage (``curated_from``) and the scan share
    one walk of the chain."""
    from ocr_spark.gen.corpus import generate_pages
    from ocr_spark.job import output_root

    input_root, work = str(tmp_path / "in"), str(tmp_path / "work")
    shim.write_snapshot(spark.createDataFrame(
        [(r["url"], r["warc_ts"], r["html"], r["text"], r["lang"])
         for r in generate_pages(40, seed=23, oversized_rows=0)],
        "url string, warc_ts timestamp, html binary, text string, "
        "lang string"), input_root)
    run_extraction_job(spark, input_root, work, partitions=2,
                       big_partitions=1, waves=4)
    chain = shim.history(output_root(work))
    assert len(chain) == 4

    reads = []
    read_manifest = shim.read_manifest

    def counted(table_root, snapshot_id):
        reads.append(snapshot_id)
        return read_manifest(table_root, snapshot_id)

    monkeypatch.setattr(shim, "read_manifest", counted)
    summary = run_curation_job(spark, work)
    assert summary["input_snapshots"] == chain
    assert sorted(reads) == sorted(chain)


def test_metrics_table_keeps_rows_written_by_spark(spark, tmp_path):
    """A work dir whose ``curation_metrics`` already holds a row appended
    by a Spark write (``long`` columns, part-file names) still reads as
    one table after a curation adds its driver-written row: both rows,
    the same column types."""
    import os

    from ocr_spark.plans.extract_queries import pages_from_documents

    input_root, work = str(tmp_path / "in"), str(tmp_path / "work")
    shim.write_snapshot(
        pages_from_documents(spark, "/root/testdata/sf0.001").limit(40),
        input_root)
    run_extraction_job(spark, input_root, work, partitions=2,
                       big_partitions=1, waves=1)
    ddl = ("run_id string, snapshot string, docs long, paras_total long, "
           "paras_kept long, docs_kept long, dropped_quality long, "
           "dropped_repetition long, dropped_line_format long, shards long")
    table = os.path.join(work, "curation_metrics")
    spark.createDataFrame([("old-run", "cur-old", 1, 2, 3, 4, 5, 6, 7, 8)],
                          ddl).coalesce(1).write.mode("append").parquet(table)
    summary = run_curation_job(spark, work)

    m = spark.read.parquet(table)
    assert m.dtypes == spark.createDataFrame([], ddl).dtypes
    rows = {r.run_id: r for r in m.collect()}
    assert sorted(rows) == sorted(["old-run", summary["run_id"]])
    assert tuple(rows["old-run"])[2:] == (1, 2, 3, 4, 5, 6, 7, 8)
    new = rows[summary["run_id"]]
    assert (new.snapshot, new.docs, new.docs_kept, new.shards) == (
        summary["snapshot"], summary["docs"], summary["docs_kept"],
        summary["shards"])
