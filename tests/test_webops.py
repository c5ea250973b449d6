"""Web-corpus pipeline operators (plans/webops.py): plan-shape gates +
end-to-end semantics at tiny SF. Value parity vs DuckDB is the driver
oracle's job (scripts/check_oracle.py covers all five); these tests pin
the scale shapes and the regex-dialect compatibility the oracles rely
on."""

from __future__ import annotations

import re

SF = "/root/testdata/sf0.01"
SF_TINY = "/root/testdata/sf0.001"


def fmt(df) -> str:
    qe = df._jdf.queryExecution()
    return df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(qe, "formatted")


def n_shuffles(plan: str) -> int:
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_pii_scan_is_narrow_map(spark):
    """PII detection/redaction must stay a zero-shuffle JVM regexp map
    — the 100 TB shape is scan → project, nothing crosses to Python
    except the deterministic html synthesis UDF."""
    from ocr_spark.plans.webops import pages_pii_scan
    plan = fmt(pages_pii_scan(spark, SF))
    assert n_shuffles(plan) == 0


def test_outlinks_is_narrow_generate(spark):
    """Edge-list extraction is scan → project → generate: no shuffle."""
    from ocr_spark.plans.webops import pages_outlinks
    plan = fmt(pages_outlinks(spark, SF))
    assert n_shuffles(plan) == 0
    assert "Generate" in plan  # the explode


def test_para_dedup_shuffle_budget(spark):
    """Extraction contributes its two route exchanges; the dedup itself
    adds exactly one paragraph-hash window exchange and one url
    reassembly exchange."""
    from ocr_spark.plans.webops import pages_para_dedup
    plan = fmt(pages_para_dedup(spark, SF))
    assert n_shuffles(plan) <= 4, plan
    # the global first-occurrence window is keyed on the paragraph hash
    assert "md5" in plan.lower()


def test_line_gate_of_text_without_lines(spark, monkeypatch):
    """A doc with no non-empty line gets NULL line fractions, as the
    DuckDB oracle gives, and keep_lines true: no line breaks a line rule
    (run_curation_job's rule). Spark runs ANSI, so a fraction over zero
    lines must not divide (it raised DIVIDE_BY_ZERO)."""
    from ocr_spark.plans import webops

    extract = webops.run_extraction

    def with_blank_docs(pages, **kwargs):
        blank = spark.createDataFrame(
            [("doc://900001", ""), ("doc://900002", "\n\n\n")],
            "url string, text string")
        return extract(pages, **kwargs).select("url", "text") \
            .unionByName(blank)

    monkeypatch.setattr(webops, "run_extraction", with_blank_docs)
    rows = {r.doc_id: r for r in
            webops.docs_gopher_line_filters(spark, SF_TINY).collect()}
    for doc_id in (900001, 900002):
        r = rows.pop(doc_id)
        assert r.n_lines == 0 and r.keep_lines
        assert r.bullet_line_frac is None and r.ellipsis_line_frac is None
    assert rows and all(r.n_lines > 0 and r.bullet_line_frac is not None
                        for r in rows.values())


def test_repetition_metrics_partial_agg(spark):
    """Two groupBys, both with map-side partial aggregation: the
    shuffled volume is distinct-gram counts, not token volume."""
    from ocr_spark.plans.webops import docs_repetition_metrics
    df = docs_repetition_metrics(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) == 2, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple


def test_new_vs_snapshot_is_anti_join(spark):
    from ocr_spark.plans.webops import docs_new_vs_snapshot
    plan = fmt(docs_new_vs_snapshot(spark, SF))
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_pii_regex_dialect_parity(spark):
    """The email/phone patterns must behave identically in Java regex
    (Spark) and RE2 (DuckDB) on adversarial inputs — backtracking vs
    leftmost-longest differences would silently skew redaction."""
    import duckdb
    from pyspark.sql import functions as F

    from ocr_spark.plans.webops import EMAIL_PAT, PHONE_PAT

    cases = [
        "plain a.b-c_d%e+f@sub.domain-x.co.uk trailing",
        "mailto:u@example.com</a> then u@example.com.",
        "no pii at all here",
        "almost@an@email and 555-12345 overlong",
        "x@y.z too-short-tld then real one x@y.ab done",
        "call 555-0042 or 555-0042x now",
    ]
    df = spark.createDataFrame([(c,) for c in cases], ["s"])
    got = (
        df.select(
            "s",
            F.regexp_extract_all("s", F.lit(EMAIL_PAT), 0).alias("em"),
            F.regexp_extract_all("s", F.lit(PHONE_PAT), 0).alias("ph"),
            F.regexp_replace(
                F.regexp_replace("s", EMAIL_PAT, "<EMAIL>"),
                PHONE_PAT, "<PHONE>").alias("red"),
        )
        .collect()
    )
    con = duckdb.connect()
    for row in got:
        em, ph, red = con.execute(
            "SELECT regexp_extract_all(?, ?), regexp_extract_all(?, ?),"
            " regexp_replace(regexp_replace(?, ?, '<EMAIL>', 'g'),"
            " ?, '<PHONE>', 'g')",
            [row.s, EMAIL_PAT, row.s, PHONE_PAT, row.s, EMAIL_PAT,
             PHONE_PAT],
        ).fetchone()
        assert list(row.em) == em, row.s
        assert list(row.ph) == ph, row.s
        assert row.red == red, row.s


def test_para_dedup_collapses_boilerplate_headings(spark):
    """Corpus-wide: only 7 distinct section headings exist, so across
    ~17 heading-bearing docs at sf0.001 most heading paragraphs must be
    deduplicated away while every doc keeps its unique title + body."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.webops import pages_para_dedup
    out = pages_para_dedup(spark, SF_TINY)
    agg = out.agg(
        F.sum("n_paras").alias("total"),
        F.sum("n_kept").alias("kept"),
        F.sum((F.col("n_kept") < F.col("n_paras")).cast("long"))
         .alias("docs_shrunk"),
        F.min("n_kept").alias("min_kept"),
    ).collect()[0]
    assert agg.kept < agg.total          # something was deduplicated
    assert agg.docs_shrunk >= 5          # the repeated headings
    assert agg.min_kept >= 2             # title + body always survive


def test_robots_filter_is_narrow_map(spark):
    """Directive parsing is a per-row JVM regexp over raw page bytes:
    zero shuffles, zero broadcasts."""
    from ocr_spark.plans.webops import pages_robots_filter
    plan = fmt(pages_robots_filter(spark, SF))
    assert n_shuffles(plan) == 0 and "BroadcastExchange" not in plan


def test_spam_host_filter_broadcasts_the_blocklist(spark):
    """The computed link-farm blocklist is distinct-host cardinality —
    it must reach the page scan as a broadcast hash probe, never a
    shuffle of the page side on host."""
    from ocr_spark.plans.webops import pages_spam_host_filter
    plan = fmt(pages_spam_host_filter(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_link_spam_flags_the_link_farm(spark):
    """site11 concentrates every external link on partner2 → flagged;
    honest hosts cycle all 5 partners (gcd(13,5)=1) → never flagged."""
    from ocr_spark.plans.webops import hosts_link_spam
    out = {r.host: r for r in hosts_link_spam(spark, SF_TINY).collect()}
    farm = out["site11.example.com"]
    assert farm.link_farm and farm.top_target_frac == 1.0 \
        and farm.out_hosts == 1
    honest = [r for h, r in out.items() if h != "site11.example.com"]
    assert honest and all(not r.link_farm for r in honest)
    assert all(r.out_hosts == 5 for r in honest)


def test_spam_mass_concentrates_on_the_farm_target(spark):
    """partner2 absorbs all of site11's links → positive spam mass;
    every other partner's inlinks come only from honest hosts."""
    from ocr_spark.plans.webops import hosts_spam_mass
    out = {r.host: r for r in hosts_spam_mass(spark, SF_TINY).collect()}
    assert set(out) == {f"partner{i}.example.org" for i in range(5)}
    assert out["partner2.example.org"].spam_inlinks > 0
    assert out["partner2.example.org"].spam_mass > 0.2
    for i in (0, 1, 3, 4):
        assert out[f"partner{i}.example.org"].spam_mass == 0.0


def test_span_dedup_strips_duplicated_disclaimers(spark):
    """C4's literal three-sentence-span rule: only the 4-sentence
    disclaimer (3 corpus-wide variants, every fourth doc) yields
    duplicated spans, so exactly one doc per variant keeps it
    (n_removed=0) and every other disclaimer doc loses exactly the 3
    sentences of its duplicated span; doc-unique prose is untouched."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.webops import pages_span_dedup
    out = pages_span_dedup(spark, SF_TINY).collect()
    disc = [r for r in out if "All material on this site" in
            r.text_span_deduped or r.n_removed > 0]
    keepers = [r for r in disc if r.n_removed == 0]
    shrunk = [r for r in disc if r.n_removed > 0]
    assert len(keepers) == 3                     # one per variant
    assert len(shrunk) >= 100                    # the rest of %4==1 docs
    assert all(r.n_removed == 3 for r in shrunk)
    # a shrunk doc keeps its unique prefix and loses the disclaimer tail
    assert all("prior written permission" not in r.text_span_deduped
               for r in shrunk)
    assert all(r.text_span_deduped.startswith("Document ")
               for r in shrunk)
    # docs without duplicated spans pass through fully assembled
    no_disc = [r for r in out if r not in disc]
    assert all(r.n_removed == 0 for r in no_disc)


def test_span_dedup_shuffle_budget(spark):
    """Extraction contributes its two route exchanges; the span dedup
    adds one span-hash window exchange, one removed-index fold, and the
    url join — all keyed, never all-pairs."""
    from ocr_spark.plans.webops import pages_span_dedup
    plan = fmt(pages_span_dedup(spark, SF))
    assert n_shuffles(plan) <= 6, plan
    assert "md5" in plan.lower()     # first-occurrence window key
    assert "CartesianProduct" not in plan


def test_substring_dup_coverage_shape(spark):
    """Token-volume shuffle is the declared price; the doc_id
    partitioning must be reused between the interval-union window and
    the per-doc aggregation (one exchange, not two), and both groupBys
    partial-aggregate map-side."""
    from ocr_spark.plans.webops import docs_substring_dup_coverage
    df = docs_substring_dup_coverage(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) <= 5, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple
    # exact-dup documents must be fully covered: dup_substr_frac == 1.0
    rows = df.collect()
    full = [r for r in rows if r.dup_substr_frac is not None
            and r.dup_substr_frac >= 1.0]
    assert full, "sf0.01 contains exact-duplicate docs; none marked 1.0"


def test_curation_module_plan_shapes(spark):
    """Scoring/sampling/packing scale shapes: sampling is a zero-shuffle
    filter; shard packing shuffles once on the stratum key; the unigram
    LM pass partial-aggregates and never degenerates to a cartesian."""
    from ocr_spark.plans.curation import (
        docs_sample_stratified, docs_token_shards, docs_unigram_logprob,
    )

    assert n_shuffles(fmt(docs_sample_stratified(spark, SF))) == 0
    shards_plan = fmt(docs_token_shards(spark, SF))
    assert n_shuffles(shards_plan) == 1, shards_plan

    df = docs_unigram_logprob(spark, SF)
    plan = fmt(df)
    assert "CartesianProduct" not in plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple


def test_hosts_pagerank_structure(spark):
    """18 hosts; partner hosts (receiving all damped mass) must outrank
    site hosts (in-degree 0); total mass < 1 because dangling partner
    nodes leak their damped share (the documented simplification)."""
    from ocr_spark.plans.webops import hosts_pagerank
    rows = hosts_pagerank(spark, SF).collect()
    assert len(rows) == 18
    ranks = {r.host: r.pagerank for r in rows}
    worst_partner = min(v for h, v in ranks.items() if h.startswith("partner"))
    best_site = max(v for h, v in ranks.items() if h.startswith("site"))
    assert worst_partner > best_site
    assert 0 < sum(ranks.values()) < 1.0


def test_hosts_hits_roles_separate(spark):
    """HITS separates roles on the site→partner graph: every mass-
    carrying hub is a site host (they point at content) and every
    mass-carrying authority is a partner host (content points at
    them) — the distinction PageRank conflates. Each L1-normalized
    score vector sums to 1."""
    from ocr_spark.plans.webops import hosts_hits
    rows = hosts_hits(spark, SF).collect()
    assert len(rows) == 18
    for r in rows:
        if r.hub > 0:
            assert r.host.startswith("site"), r
        if r.authority > 0:
            assert r.host.startswith("partner"), r
    assert abs(sum(r.hub for r in rows) - 1.0) < 1e-3
    assert abs(sum(r.authority for r in rows) - 1.0) < 1e-3


def test_canonicalize_url_adversarial(spark):
    """Edge cases of the URL canonicalizer beyond the crawl-log
    variants: root paths, non-default ports kept, unknown schemes,
    tracking-only queries, ref param, repeated slashes preserved."""
    from pyspark.sql import functions as F
    from ocr_spark.plans.webops import canonicalize_url

    cases = [
        # (raw, expected canonical)
        ("https://Site.COM", "https://site.com/"),
        ("https://site.com/", "https://site.com/"),
        ("http://www.site.com:80", "http://site.com/"),
        ("http://site.com:8080/x/", "http://site.com:8080/x"),  # real port kept
        ("https://site.com:443/a/b/#x", "https://site.com/a/b"),
        ("ftp://Site.com:443/f", "ftp://site.com:443/f"),  # not https: port kept
        ("https://site.com/x?utm_source=a&utm_medium=b", "https://site.com/x"),
        ("https://site.com/x?ref=tw&z=1&a=2", "https://site.com/x?a=2&z=1"),
        ("https://site.com/x?", "https://site.com/x"),
        ("https://site.com/A/B", "https://site.com/A/B"),  # path case kept
        ("https://site.com//x/", "https://site.com//x"),
    ]
    df = spark.createDataFrame([(r,) for r, _ in cases], "url string")
    got = [r.c for r in
           df.select(canonicalize_url(F.col("url")).alias("c")).collect()]
    assert got == [e for _, e in cases]


def test_pages_url_dedup_shape(spark):
    """Canonicalization is a narrow map; the dedup is exactly one
    shuffle (the url_canon window) and really collapses variants."""
    from ocr_spark.plans.webops import pages_url_dedup

    df = pages_url_dedup(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) == 1, plan
    rows = df.collect()
    assert len(rows) == 500
    # variants 0/1/2 of the same (host, page) must share a canonical url
    by_doc = {r.doc_id: r for r in rows}
    assert by_doc[0].url_canon == by_doc[40].url_canon  # v0 vs v1
    assert by_doc[0].url_canon == by_doc[80].url_canon  # v0 vs v2
    assert by_doc[120].url_canon != by_doc[0].url_canon  # v3 is http
    keepers = [r for r in rows if r.is_keeper]
    assert 0 < len(keepers) < 500


def test_bigram_lm_backoff_and_shape(spark):
    """Bigram Stupid-Backoff LM: the document-side bigram build is a
    narrow array transform (no Window exchange in the plan); training
    on the even-doc_id half means backoff NEVER fires on training docs
    and genuinely fires somewhere on the held-out half."""
    from ocr_spark.plans.curation import docs_bigram_logprob

    df = docs_bigram_logprob(spark, SF)
    plan = fmt(df)
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan
    rows = df.collect()
    train = [r for r in rows if r.doc_id % 2 == 0]
    held = [r for r in rows if r.doc_id % 2 == 1]
    assert train and held
    assert all(r.backoff_frac == 0.0 for r in train)
    assert any(r.backoff_frac > 0.0 for r in held)
    assert all(r.avg_logprob < 0.0 for r in rows)


def test_domain_mixture_weights(spark):
    """Temperature sampling (alpha=0.5): weights and natural shares
    each sum to 1; the smallest domain is upweighted relative to its
    natural share and has the largest effective epoch count."""
    from ocr_spark.plans.curation import docs_domain_mixture

    mix = docs_domain_mixture(spark, SF).collect()
    assert len(mix) >= 2
    assert abs(sum(r.mixture_weight for r in mix) - 1.0) < 1e-4
    assert abs(sum(r.natural_frac for r in mix) - 1.0) < 1e-4
    lo = min(mix, key=lambda r: r.n_tokens)
    assert lo.mixture_weight > lo.natural_frac
    assert lo.effective_epochs == max(r.effective_epochs for r in mix)


def test_shards_manifest_digest_is_partitioning_invariant(spark):
    """The per-shard content digest must be bit-identical under a
    different shuffle-partition count — sort_array pins the order that
    collect_list leaves unspecified, which is the whole point of a
    reproducibility manifest."""
    from ocr_spark.plans.curation import shards_manifest

    a = {(r.lang, r.shard_id): (r.n_docs, r.n_tokens, r.content_digest)
         for r in shards_manifest(spark, SF).collect()}
    spark.conf.set("spark.sql.shuffle.partitions", "7")
    try:
        b = {(r.lang, r.shard_id): (r.n_docs, r.n_tokens, r.content_digest)
             for r in shards_manifest(spark, SF).collect()}
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", "32")
    assert a == b and len(a) > 1


def test_repetition_profile_shape_and_semantics(spark):
    """Full Gopher suite: 9 widths from one narrow transform (no
    CartesianProduct, partial-agg combine); wider-gram metrics are
    monotonically informative — a doc with dup_10gram_frac > 0 must
    also repeat at every shorter width (a duplicated 10-gram contains
    duplicated 5..9-grams)."""
    from ocr_spark.plans.webops import docs_repetition_profile

    df = docs_repetition_profile(spark, SF)
    plan = fmt(df)
    assert "CartesianProduct" not in plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple
    rows = df.collect()
    assert len(rows) == 500
    for r in rows:
        if r.dup_10gram_frac > 0:
            for n in (5, 6, 7, 8, 9):
                assert getattr(r, f"dup_{n}gram_frac") > 0, r
        assert 0.0 <= r.top_2gram_char_frac <= 1.0
    assert any(not r.keep_repetition_full for r in rows)
    assert any(r.keep_repetition_full for r in rows)


def test_blocklist_filter_is_narrow_map(spark):
    """The static-blocklist gate is the UT1/C4-badwords stage: must be
    a zero-shuffle JVM map (word list is a plan literal, no explode,
    no join), and both gate arms must actually fire on the corpus."""
    from ocr_spark.plans.webops import (
        BLOCK_SOURCES, docs_blocklist_filter)

    df = docs_blocklist_filter(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    rows = df.collect()
    blocked_src = [r for r in rows if r.source_blocked]
    assert blocked_src and all(
        r.source in BLOCK_SOURCES and not r.keep_blocklist
        for r in blocked_src)
    dense = [r for r in rows
             if not r.source_blocked and not r.keep_blocklist]
    assert dense, "word-density arm never fired at sf0.01"
    assert any(r.keep_blocklist for r in rows)


def test_decontaminate_broadcasts_eval_set(spark):
    """Decontamination must probe the train side against a BROADCAST
    eval n-gram hash set — the corpus is never shuffled by gram (the
    eval set is MBs against 100 TB). Pin the physical plan."""
    from ocr_spark.plans.curation import docs_decontaminate

    plan = fmt(docs_decontaminate(spark, SF))
    assert "BroadcastExchange" in plan
    rows = docs_decontaminate(spark, SF).collect()
    hit = [r for r in rows if r.is_contaminated]
    assert hit and all(r.action == "drop" for r in hit)
    assert all(r.doc_id % 97 != 0 for r in rows)


def test_substring_dedup_removal_semantics(spark):
    """Exact-substring REMOVAL: exact-duplicate documents exist at
    sf0.01, so for each duplicate-content group exactly one copy keeps
    its full text (global first occurrence) and later copies lose
    every token; removal counts reconcile with the coverage metric's
    duplicated-window detection."""
    from ocr_spark.plans.webops import docs_substring_dedup

    rows = {r.doc_id: r for r in docs_substring_dedup(spark, SF).collect()}
    assert len(rows) == 500
    gutted = [r for r in rows.values()
              if r.n_removed_tokens == r.n_tokens and r.n_tokens > 0]
    assert gutted, "exact-duplicate docs must lose all tokens"
    assert all(r.text_deduped == "" for r in gutted)
    intact = [r for r in rows.values() if r.n_removed_tokens == 0]
    assert intact
    # total tokens removed < total tokens (first occurrences survive)
    total = sum(r.n_tokens for r in rows.values())
    removed = sum(r.n_removed_tokens for r in rows.values())
    assert 0 < removed < total


def test_quality_percentile_gate_drops_bottom_decile(spark):
    """Relative gate: within each language, ~10% of docs (rank below
    the cut) are dropped, the kept set's minimum score is >= the
    dropped set's maximum score modulo doc_id tie-breaks, and the gate
    is deterministic across recomputation."""
    from collections import defaultdict

    from ocr_spark.plans.curation import (
        QUALITY_REL_CUT, docs_quality_percentile_gate)

    rows = docs_quality_percentile_gate(spark, SF).collect()
    by_lang = defaultdict(list)
    for r in rows:
        by_lang[r.lang].append(r)
    assert len(by_lang) >= 2
    for lang, rs in by_lang.items():
        dropped = [r for r in rs if not r.keep_quality_rel]
        kept = [r for r in rs if r.keep_quality_rel]
        assert dropped and kept, lang
        frac = len(dropped) / len(rs)
        assert frac <= QUALITY_REL_CUT + 0.02, (lang, frac)
        assert max(d.quality_score for d in dropped) \
            <= min(k.quality_score for k in kept) + 1e-9, lang


def test_substring_dedup_and_estimate_plan_shapes(spark):
    """Scale shapes of the newest dedup ops: substring REMOVAL must
    stay equi-join + window (no cartesian, partial aggregation);
    the signature-overlap estimator must be equi-joins over the
    signature table (no cartesian, no per-pair gram explode)."""
    from ocr_spark.plans.dataops import docs_minhash_jaccard_estimate
    from ocr_spark.plans.webops import docs_substring_dedup

    df = docs_substring_dedup(spark, SF)
    plan = fmt(df)
    assert "CartesianProduct" not in plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple

    est_plan = fmt(docs_minhash_jaccard_estimate(spark, SF))
    assert "CartesianProduct" not in est_plan
    # the estimator never re-shingles text: no posexplode of grams,
    # only the signature UDF appears at the Python boundary
    assert "Generate" not in est_plan or "minvec" not in est_plan.split(
        "Generate")[1][:200]


def test_fineweb_verdict_reasons_are_exhaustive(spark):
    """Composed recipe verdict: reason precedence is total (every
    dropped doc has exactly one reason, every kept doc none), all
    eval-holdout docs are excluded, and multiple distinct gates
    actually fire on this corpus (the composition isn't vacuous)."""
    from ocr_spark.plans.webops import docs_fineweb_verdict

    rows = docs_fineweb_verdict(spark, SF).collect()
    assert len(rows) == 500
    reasons = set()
    for r in rows:
        if r.keep:
            assert r.drop_reason is None, r
        else:
            assert r.drop_reason is not None, r
            reasons.add(r.drop_reason)
        if r.doc_id % 97 == 0:
            assert not r.keep and r.drop_reason == "eval_holdout"
    assert {"eval_holdout", "pipeline"} <= reasons, reasons
    # precedence can mask later reasons (a blocklisted doc usually also
    # fails the base pipeline), so assert each GATE fires via its
    # column, not via the first-failure label
    assert any(not r.keep_blocklist for r in rows)
    assert any(r.is_contaminated for r in rows)
    assert any(not r.keep_quality_rel for r in rows)
    assert any(r.keep for r in rows)


def test_data_card_is_not_vacuous(spark):
    """Regression guard for the stop-hits miscalibration: the composed
    verdict must KEEP a nonzero fraction per language, so the data
    card's survival columns discriminate instead of reading 0.0
    everywhere (which stays oracle-green — both engines agree on a
    constant — and is exactly why this needs a semantic pin)."""
    from ocr_spark.plans.webops import docs_data_card

    rows = [r for r in docs_data_card(spark, SF).collect()
            if not r.lang.startswith("_eval:")]  # language rows only —
    # the _eval:* provenance inventory rows carry NULL metrics by
    # design (pinned by test_data_card_provenance_column)
    assert rows
    for r in rows:
        assert 0.0 < r.keep_rate < 1.0, r
        assert 0 < r.kept_tokens < r.n_tokens, r


def test_gopher_line_gate_discriminates():
    """The corpus-calibrated line-format thresholds must produce BOTH
    outcomes (the _GF_MIN_STOP_HITS lesson: a constant gate is
    vacuously green). Pure-Python over the expected extracted text —
    the same lines the Spark query sees byte-for-byte."""
    from ocr_spark.gen.wrap import expected_text_for_document
    from ocr_spark.plans.webops import (
        GLF_MAX_BULLET_FRAC, GLF_MAX_ELLIPSIS_FRAC)

    outcomes = set()
    bullet_fracs = set()
    for doc_id in range(100):
        text = expected_text_for_document(
            doc_id, f"body text of document {doc_id} words")
        lines = [ln for ln in text.split("\n") if ln]
        bf = sum(ln.startswith(("• ", "- ", "* ")) for ln in lines) \
            / len(lines)
        ef = sum(ln.endswith(("...", "…")) for ln in lines) / len(lines)
        keep = (round(bf, 4) <= GLF_MAX_BULLET_FRAC
                and round(ef, 4) <= GLF_MAX_ELLIPSIS_FRAC)
        outcomes.add(keep)
        if doc_id % 5 == 2:
            bullet_fracs.add(round(bf, 4))
            assert bf > 0 and ef > 0, (doc_id, bf, ef)
        else:
            assert bf == 0 and ef == 0, (doc_id, bf, ef)
    assert outcomes == {True, False}
    assert len(bullet_fracs) >= 2  # ratios vary with block structure


def test_trustrank_separates_spam_from_trust(spark):
    """TrustRank semantics on the fixture: site11 (the link farm,
    concentration ≥ LINK_FARM_MIN_FRAC) is excluded from the seed set,
    so with no inlinks its trust is exactly 0 and its relative spam
    mass is 1.0; every seeded site host holds teleport trust
    (1-d)/|seeds|; partner2 — which absorbs site11's concentrated
    links — carries the highest rel_spam_mass among the partner
    hosts (the rank-propagated signal hosts_spam_mass's one-hop form
    agrees with on this graph)."""
    from ocr_spark.plans.webops import hosts_trustrank

    rows = {r["host"]: r for r in hosts_trustrank(spark, SF).collect()}
    farm = rows["site11.example.com"]
    assert farm["trustrank"] == 0.0
    assert farm["rel_spam_mass"] == 1.0
    seeded = [r for h, r in rows.items()
              if h.startswith("site") and h != "site11.example.com"]
    assert seeded and all(r["trustrank"] > 0 for r in seeded)
    partners = {h: r for h, r in rows.items() if h.startswith("partner")}
    assert len(partners) == 5
    worst = max(partners.values(), key=lambda r: r["rel_spam_mass"])
    assert worst["host"] == "partner2.example.org"
    others = [r["rel_spam_mass"] for h, r in partners.items()
              if h != "partner2.example.org"]
    assert all(worst["rel_spam_mass"] > m for m in others)


def test_mirror_clusters_match_pair_closure(spark):
    """Component structure = transitive closure of the is_mirror pair
    list (computed independently here with a tiny union-find), one
    canonical host per component, canonical = min label."""
    from ocr_spark.plans.webops import (
        hosts_mirror_clusters, hosts_mirror_pairs)

    pairs = [(r["host_a"], r["host_b"])
             for r in hosts_mirror_pairs(spark, SF)
             .filter("is_mirror").collect()]
    assert pairs  # fixture guarantees mirrored hosts exist
    parent: dict = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    expect = {h: find(h) for h in parent}
    got = {r["host"]: r for r in hosts_mirror_clusters(spark, SF).collect()}
    assert {h: r["canonical_host"] for h, r in got.items()} == expect
    for h, r in got.items():
        assert r["is_canonical"] == (h == r["canonical_host"])
    # exactly one canonical per component
    canon = {r["canonical_host"] for r in got.values()}
    assert all(got[c]["is_canonical"] for c in canon)


def test_bloom_merge_is_exact_or(spark):
    """The OR-merge must equal the from-scratch filter on EVERY bit
    (the HLL register-max / CMS counter-add discipline), and both
    snapshot sides must contribute bits the other lacks — otherwise
    the merge test is vacuous."""
    from ocr_spark.plans.webops import docs_bloom_snapshot_merge

    rows = docs_bloom_snapshot_merge(spark, SF).collect()
    assert rows and all(r["merge_exact"] for r in rows)
    assert any(r["in_prior"] and not r["in_delta"] for r in rows)
    assert any(r["in_delta"] and not r["in_prior"] for r in rows)
    assert all(r["in_full"] for r in rows)  # union = full corpus bits


def test_salsa_mass_conservation_and_authority_order(spark):
    """SALSA is a stochastic walk: Σ authority = Σ hub = 1 exactly (up
    to float/rounding) with NO normalization aggregates — the property
    HITS needs two 1-row broadcasts per round to impose. By detailed
    balance the authority stationary mass is ∝ weighted in-degree
    within the component, so partner2 (absorbing site11's concentrated
    links) must rank first; site hosts have no inlinks → authority 0;
    partner hosts have no outlinks → hub 0."""
    from ocr_spark.plans.webops import hosts_salsa

    rows = {r["host"]: r for r in hosts_salsa(spark, SF).collect()}
    assert abs(sum(r["salsa_authority"] for r in rows.values()) - 1.0) \
        < 1e-2  # 18 hosts × round-4 error bound
    assert abs(sum(r["salsa_hub"] for r in rows.values()) - 1.0) < 1e-2
    partners = {h: r for h, r in rows.items() if h.startswith("partner")}
    sites = {h: r for h, r in rows.items() if h.startswith("site")}
    assert all(r["salsa_authority"] == 0.0 for r in sites.values())
    assert all(r["salsa_hub"] == 0.0 for r in partners.values())
    best = max(partners.values(), key=lambda r: r["salsa_authority"])
    assert best["host"] == "partner2.example.org"
    assert all(best["salsa_authority"] > r["salsa_authority"]
               for h, r in partners.items()
               if h != "partner2.example.org")


def test_pagerank_aged_decay_is_load_bearing(spark):
    """The crawl-age decay must actually move rank: same node set as
    the un-decayed hosts_pagerank_full, same leaky-mass regime, but at
    least one host's rank shifts beyond rounding — freshly re-crawled
    pages (doc_id%7==0 / %5==0, decay 1.0 / 0.5) link partner0 more
    heavily than the stale 0.25-weight majority, so partner0's SHARE
    of rank must rise relative to the uniform-weight run — enough, on
    this fixture, to overtake partner2's link-farm concentration: the
    decay REORDERS the ranking, the strongest form of load-bearing."""
    from ocr_spark.plans.webops import hosts_pagerank_aged, hosts_pagerank_full

    aged = {r["host"]: r["pagerank"]
            for r in hosts_pagerank_aged(spark, SF).collect()}
    full = {r["host"]: r["pagerank"]
            for r in hosts_pagerank_full(spark, SF).collect()}
    assert set(aged) == set(full)
    assert any(abs(aged[h] - full[h]) > 2e-4 for h in aged)
    # %7==0 and %5==0 docs hit partner0 (doc_id%5==0 → partner0 unless
    # doc_id%13==11): fresh captures concentrate on partner0, so its
    # rank share grows once stale edges are decayed.
    assert aged["partner0.example.org"] / sum(aged.values()) \
        > full["partner0.example.org"] / sum(full.values())
    p_aged = {h: r for h, r in aged.items() if h.startswith("partner")}
    p_full = {h: r for h, r in full.items() if h.startswith("partner")}
    assert max(p_full, key=p_full.get) == "partner2.example.org"
    assert max(p_aged, key=p_aged.get) == "partner0.example.org"


def test_content_sniff_is_narrow_and_routes_every_kind(spark):
    """Magic-byte sniffing must be a pure narrow map (zero shuffles,
    zero broadcasts, no Python) and must realize every route on the
    fixture mix: gzip/pdf/utf16le/empty minorities all declared
    text/html (mismatch=True), the html majority routed to the
    extractor."""
    from ocr_spark.plans.webops import pages_content_sniff

    df = pages_content_sniff(spark, SF)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    # the only Python in the plan is the fixture's html-synthesis UDF;
    # the sniff itself (hex prefix + CASE) stays JVM-side
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1 and "wrap_html" in plan

    rows = df.collect()
    assert len(rows) == 500
    by_kind: dict = {}
    for r in rows:
        by_kind.setdefault(r["sniffed"], []).append(r)
        assert r["mismatch"] == (r["sniffed"] != "html")
        assert r["declared"] == "text/html"
    assert set(by_kind) == {"html", "gzip", "pdf", "utf16le", "empty"}
    routes = {k: {r["route"] for r in v} for k, v in by_kind.items()}
    assert routes == {"html": {"html_extractor"}, "gzip": {"decompress"},
                      "pdf": {"layout_parser"}, "utf16le": {"transcode"},
                      "empty": {"drop"}}


def test_nfc_normalize_composes_only_the_nfd_tails(spark):
    """Docs with decomposed tails must compose (shorter, combining
    marks gone); the doc_id%4==0 class is already NFC and must pass
    through length-identical. Spot-pin the composed tail text."""
    import unicodedata

    from ocr_spark.plans.webops import _NFD_TAILS, docs_nfc_normalize

    rows = {r["doc_id"]: r for r in
            docs_nfc_normalize(spark, SF).collect()}
    assert len(rows) == 500
    for doc_id, r in rows.items():
        if doc_id % 4 == 0:
            assert not r["composed"] and r["len_after"] == r["len_before"]
        else:
            tail = _NFD_TAILS[doc_id % 4]
            shrink = len(tail) - len(unicodedata.normalize("NFC", tail))
            assert r["composed"], doc_id
            assert r["len_before"] - r["len_after"] == shrink, doc_id
            assert "́" not in r["tail_nfc"]
            assert "̈" not in r["tail_nfc"]
    assert rows[1]["tail_nfc"].endswith("café menu")
    assert rows[2]["tail_nfc"].endswith("angström")
    assert rows[3]["tail_nfc"].endswith("Å land")


def test_registered_domain_longest_match_and_fallback(spark):
    """co.uk must beat uk (longest suffix wins), the registered domain
    is always exactly one label + suffix, subdomain reassembles the
    host, and the suffix-less localhost falls back to itself."""
    from ocr_spark.plans.webops import hosts_registered_domain

    rows = hosts_registered_domain(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        if r["host"] == "localhost":
            assert r["public_suffix"] is None
            assert r["registered_domain"] == "localhost"
            assert r["subdomain"] == ""
            continue
        assert r["host"].endswith("." + r["public_suffix"]) \
            or r["host"] == r["public_suffix"]
        assert r["registered_domain"].endswith("." + r["public_suffix"])
        label = r["registered_domain"][: -len(r["public_suffix"]) - 1]
        assert label and "." not in label    # exactly one label
        joined = (r["subdomain"] + "." if r["subdomain"] else "") \
            + r["registered_domain"]
        assert joined == r["host"]
    uk = [r for r in rows if r["host"].endswith(".co.uk")]
    assert uk and all(r["public_suffix"] == "co.uk" for r in uk)
    au = [r for r in rows if r["host"].endswith(".com.au")]
    assert au and all(r["public_suffix"] == "com.au" for r in au)
    deep = [r for r in rows if r["host"].startswith("a.b.deep.")]
    assert deep and all(r["subdomain"] == "a.b.deep" for r in deep)


def test_redirect_resolve_chains_and_loops(spark):
    """Pointer doubling resolves every chain to its terminal with the
    exact hop count, and loop members carry the deterministic
    2^REDIRECT_DOUBLINGS-hop signature: block-of-4 chains resolve in
    3/2/1 hops; every 64-block head (ids ≡ 0,1,2 mod 64) is a 3-cycle
    flagged loop with n_hops = 64 and final_url = the node exactly 64
    hops ahead."""
    from ocr_spark.plans.webops import (
        REDIRECT_DOUBLINGS, pages_redirect_resolve,
    )

    base = "http://r.example.com/"
    rows = {r.url: r for r in pages_redirect_resolve(spark, SF).collect()}
    cap = 2 ** REDIRECT_DOUBLINGS

    r4 = rows[base + "4"]
    assert (r4.final_url, r4.n_hops, r4.status) == (base + "7", 3,
                                                    "resolved")
    r6 = rows[base + "6"]
    assert (r6.final_url, r6.n_hops, r6.status) == (base + "7", 1,
                                                    "resolved")
    # 64-block head cycle: 64→65→66→64; 64 hops from 64 lands on 65
    r64 = rows[base + "64"]
    assert (r64.final_url, r64.n_hops, r64.status) == (base + "65", cap,
                                                       "loop")
    assert rows[base + "2"].status == "loop"
    # no terminal url ever appears as a source; every redirecting id does
    assert base + "7" not in rows and base + "3" not in rows
    statuses = {r.status for r in rows.values()}
    assert statuses == {"resolved", "loop"}


def test_charset_detect_precedence(spark):
    """WHATWG precedence must be load-bearing on the conflict classes:
    BOM beats a present header (m=2), BOM beats a present meta (m=6),
    header beats a present meta (m=8); meta-only and default classes
    resolve from their own evidence; zero shuffles."""
    from tests.test_plans import SF, fmt, n_shuffles

    from ocr_spark.plans.webops import pages_charset_detect

    df = pages_charset_detect(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    rows = {r["doc_id"]: r for r in df.collect()}
    for did, r in rows.items():
        m = did % 29
        if m == 2:   # BOM + header conflict
            assert r["header_charset"] == "iso-8859-1"
            assert (r["resolved_charset"], r["charset_source"]) \
                == ("utf-8", "bom")
        elif m == 6:  # BOM + meta conflict
            assert r["meta_charset"] == "windows-1251"
            assert (r["resolved_charset"], r["charset_source"]) \
                == ("utf-16be", "bom")
        elif m == 8:  # header + meta conflict
            assert r["meta_charset"] == "windows-1251"
            assert (r["resolved_charset"], r["charset_source"]) \
                == ("iso-8859-1", "http_header")
        elif m == 14:  # no-space ;charset= variant still parses
            assert (r["resolved_charset"], r["charset_source"]) \
                == ("utf-8", "http_header")
        elif m == 18:  # http-equiv meta form
            assert (r["resolved_charset"], r["charset_source"]) \
                == ("gb2312", "meta")
        elif m in (0, 1, 3):
            assert (r["resolved_charset"], r["charset_source"]) \
                == ("utf-8", "default")


def test_sitemap_parse_seeds_and_join_shape(spark):
    """The parse must recover every advertised entry (hosts ×
    SITEMAP_ENTRIES rows), the 50..59 tail of each sitemap is genuinely
    uncrawled (the frontier seeds), pages < 50 are all crawled at this
    SF, and the membership join broadcasts the sitemap side — no
    SortMergeJoin of the crawl log."""
    from tests.test_plans import SF, fmt

    from ocr_spark.plans.webops import (
        SITEMAP_ENTRIES, SITEMAP_HOSTS, pages_sitemap_parse)

    df = pages_sitemap_parse(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan and "SortMergeJoin" not in plan
    rows = df.collect()
    assert len(rows) == SITEMAP_HOSTS * SITEMAP_ENTRIES
    for r in rows:
        page = int(r["url"].rsplit("/", 1)[1])
        assert r["url"].startswith("https://site")
        assert r["lastmod"].startswith("2026-07-")
        assert r["already_crawled"] == (page < 50)


def test_cache_headers_policy_classes(spark):
    """Each header class resolves per RFC 9111: explicit max-age wins,
    no-store always refetches, heuristic = age/10, ETag selects the
    conditional mode even at ttl 0; zero shuffles."""
    from tests.test_plans import SF, fmt, n_shuffles

    from ocr_spark.plans.webops import (
        CACHE_DEFAULT_TTL, pages_http_cache_headers)

    df = pages_http_cache_headers(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    for r in df.collect():
        m = r["doc_id"] % 31
        got = (r["ttl_s"], r["ttl_source"], r["revalidate_mode"],
               r["has_etag"])
        if m == 1:
            assert got == (3600, "max_age", "etag_conditional", True)
        elif m == 3:
            assert got == (0, "no_store", "always_fetch", False)
        elif m == 5:
            assert got == (0, "max_age", "etag_conditional", True)
        elif m == 7:
            assert got == (86400, "max_age", "full_fetch", False)
        elif m == 9:
            assert got == (86400, "heuristic", "full_fetch", False)
        else:
            assert got == (CACHE_DEFAULT_TTL, "default", "full_fetch",
                           False)


def test_ip_colocation_groups_and_shape(spark):
    """Colo groups are exact mod-class partitions of the host
    universe: every host on one address shares h % COLO_IPS, group
    sizes are 3-4 (97 hosts over 31 addresses), every group ≥3 flags,
    and the canonical host is the group minimum; the plan is bounded
    by the host universe (one groupBy + one ip-keyed window)."""
    from collections import defaultdict

    from tests.test_plans import SF

    from ocr_spark.plans.webops import (
        COLO_HOSTS, COLO_IPS, COLO_MIN_HOSTS, hosts_ip_colocation)

    rows = hosts_ip_colocation(spark, SF).collect()
    assert len(rows) == COLO_HOSTS
    by_ip = defaultdict(list)
    for r in rows:
        by_ip[r["ip"]].append(r)
    assert len(by_ip) == COLO_IPS
    for ip, grp in by_ip.items():
        hs = sorted(int(g["host"][4:].split(".")[0]) for g in grp)
        assert len({h % COLO_IPS for h in hs}) == 1
        assert 3 <= len(grp) <= 4
        assert all(g["n_hosts_on_ip"] == len(grp) for g in grp)
        assert all(g["is_colocated"] == (len(grp) >= COLO_MIN_HOSTS)
                   for g in grp)
        assert all(g["canonical_host"] == min(x["host"] for x in grp)
                   for g in grp)


def test_hreflang_clusters_keeper_election(spark):
    """Declared pages cluster by translation-set id with the English
    variant elected keeper (min doc_id among English, else min overall
    when the set has no English page); undeclared pages are singleton
    keepers; exactly one keeper per cluster."""
    from collections import defaultdict

    from tests.test_plans import SF

    from ocr_spark.plans.webops import (
        HREFLANG_GROUPS, HREFLANG_UNDECLARED_MOD, pages_hreflang_clusters)

    rows = pages_hreflang_clusters(spark, SF).collect()
    by_key = defaultdict(list)
    for r in rows:
        by_key[r["cluster_key"]].append(r)
        if r["doc_id"] % HREFLANG_UNDECLARED_MOD == 0:
            assert r["cluster_key"] == f"self:{r['doc_id']}"
            assert r["n_variants"] == 1 and r["is_keeper"]
        else:
            assert r["cluster_key"].endswith(
                f"/g/{r['doc_id'] % HREFLANG_GROUPS}")
    multi = 0
    for key, grp in by_key.items():
        assert len(grp) == grp[0]["n_variants"]
        keepers = [r for r in grp if r["is_keeper"]]
        assert len(keepers) == 1
        en = [r for r in grp if r["lang"] == "en"]
        pool = en if en else grp
        assert keepers[0]["doc_id"] == min(r["doc_id"] for r in pool)
        if len(grp) > 1:
            multi += 1
    assert multi > 0  # real translation sets exist at this SF


def test_snapshot_drift_signal_and_shape(spark):
    """The modeled spam wave must surface as an 'xx' arrivals-only row
    and a strictly positive corpus TVD; counters conserve the corpus;
    the per-language pass is ONE partial-aggregated groupBy (the
    summary rollup and 1-row totals add only broadcast-sized work)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.webops import _docs, docs_snapshot_drift

    df = docs_snapshot_drift(spark, SF)
    plan = fmt(df)
    assert "partial_sum" in plan.lower()
    rows = {r["lang"]: r for r in df.collect()}
    assert "xx" in rows and "__all__" in rows
    xx, al = rows["xx"], rows["__all__"]
    assert xx["n_prior"] == 0 and xx["n_new"] > 0
    assert xx["prior_frac"] == 0.0 and xx["new_frac"] > 0
    assert xx["mean_len_prior"] is None and xx["mean_len_new"] > 0
    assert al["share_delta"] > 0, "modeled wave must move the TVD"
    n_docs = _docs(spark, SF).count()
    assert al["n_prior"] + al["n_new"] == n_docs
    # per-language share deltas cancel (each distribution sums to 1)
    langs = [r for lg, r in rows.items() if lg != "__all__"]
    assert abs(sum(r["share_delta"] for r in langs)) < 1e-3
    assert al["share_delta"] <= sum(
        abs(r["share_delta"]) for r in langs) / 2 + 1e-3


def test_cocitation_cap_guards_pair_blowup(spark, tmp_path):
    """A directory host linking more than COCITE_FANOUT_CAP targets
    must contribute ZERO pairs (capped out before the self-join), while
    normal sources still co-cite; Jaccard identities hold on the real
    fixture output."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.webops import (
        COCITE_FANOUT_CAP, hosts_cocitation,
    )

    rows = hosts_cocitation(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["host_a"] < r["host_b"]
        assert r["n_cocite"] >= 2
        assert r["n_cocite"] <= min(r["deg_a"], r["deg_b"])
        expect = r["n_cocite"] / (r["deg_a"] + r["deg_b"] - r["n_cocite"])
        assert abs(r["cocite_jaccard"] - expect) < 1e-3
    # the fixture's partner hosts are co-cited by many site hosts
    assert any(r["n_cocite"] >= 5 for r in rows)
    # structural gate: the fanout cap aggregate sits below the
    # pair-join in the optimized plan (no uncapped self-join path)
    plan = hosts_cocitation(spark, SF)._jdf.queryExecution() \
        .optimizedPlan().toString()
    assert str(COCITE_FANOUT_CAP) in plan


def test_toxicity_buckets_and_severity_identity(spark):
    """severity_mass is the exact weighted hit sum; buckets follow the
    per-1k thresholds; the graded report agrees with the binary
    blocklist gate on what a hit is (n_hits identical per doc)."""
    from ocr_spark.plans.webops import (
        TOX_MILD_PER_KT, TOX_TOXIC_PER_KT, docs_blocklist_filter,
        docs_toxicity_score,
    )

    tox = {r["doc_id"]: r for r in docs_toxicity_score(spark, SF).collect()}
    gate = {r["doc_id"]: r for r in
            docs_blocklist_filter(spark, SF).collect()}
    assert set(tox) == set(gate)
    for d, r in tox.items():
        assert r["n_hits"] == gate[d]["n_bad_tokens"]
        assert r["severity_mass"] >= r["n_hits"]
        per_kt = r["severity_per_kt"]
        exp = ("toxic" if per_kt > TOX_TOXIC_PER_KT
               else "mild" if per_kt > TOX_MILD_PER_KT else "none")
        assert r["tox_bucket"] == exp
    assert {r["tox_bucket"] for r in tox.values()} >= {"none"}


def test_warc_export_record_wellformed(spark):
    """WARC response records: Content-Length counts payload octets,
    the record-id is a deterministic uuid shape, headers/payload are
    separated by CRLFCRLF, and the plan is zero-shuffle."""
    import re as _re

    from ocr_spark.plans.webops import pages_warc_export

    df = pages_warc_export(spark, SF_TINY)
    assert n_shuffles(fmt(df)) == 0
    rows = df.collect()
    assert rows
    for r in rows[:40]:
        head, _, payload = r["warc_record"].partition("\r\n\r\n")
        assert head.startswith("WARC/1.1\r\nWARC-Type: response")
        assert f"WARC-Target-URI: {r['url']}" in head
        assert _re.search(
            r"WARC-Record-ID: <urn:uuid:[0-9a-f]{8}(-[0-9a-f]{4}){3}"
            r"-[0-9a-f]{12}>", head)
        assert len(payload.encode("utf-8")) == r["content_length"]
        assert f"Content-Length: {r['content_length']}" in head


def test_subdomain_explosion_flags_only_wildcard_cohort(spark):
    """The registered-domain rollup must flag exactly the
    one-host-per-page cohort (u{doc}.usercontent.com) and clear the
    legitimately multi-host domains (13-subdomain example.com, www
    news tier, depth-2 CDN, bare apex) — the signal host-keyed caps
    cannot see. Depth and host-count identities pinned per cohort."""
    from ocr_spark.plans.webops import (
        SUBDOMAIN_EXPLOSION_MIN_HOSTS, hosts_subdomain_explosion)

    rows = {r["registered_domain"]: r
            for r in hosts_subdomain_explosion(spark, SF).collect()}
    uc = rows["usercontent.com"]
    assert uc["exploded"]
    assert uc["n_hosts"] == uc["n_pages"]
    assert uc["n_hosts"] >= SUBDOMAIN_EXPLOSION_MIN_HOSTS
    assert uc["hosts_per_page"] == 1.0
    for dom, r in rows.items():
        if dom != "usercontent.com":
            assert not r["exploded"], dom
    assert rows["example.com"]["n_hosts"] == 13
    assert rows["example.com"]["max_subdomain_depth"] == 1
    cdn = [r for d, r in rows.items() if d.startswith("static")]
    assert cdn and all(r["max_subdomain_depth"] == 2 for r in cdn)
    apex = [r for d, r in rows.items() if d.startswith("media")]
    assert apex and all(r["max_subdomain_depth"] == 0 for r in apex)


def test_label_propagation_replay_and_bipartite_fixed_point(spark):
    """Pure-Python replay of synchronous weighted LPA from the same
    generator edge structure matches the Spark result host for host;
    labels always partition the node set (sizes sum to n); and on the
    fixture's BIPARTITE site→partner graph the synchronous update
    settles into the two sides as communities — the documented
    oscillation behavior of synchronous LPA on bipartite graphs
    (Raghavan et al. 2007 §3), pinned here so a future edge-structure
    change that breaks bipartiteness shows up as a diff."""
    from collections import Counter, defaultdict

    import duckdb

    from ocr_spark.plans.webops import LPA_ITERS, hosts_label_propagation

    rows = hosts_label_propagation(spark, SF).collect()
    got = {r.host: r.community for r in rows}
    sizes = Counter(r.community for r in rows)
    for r in rows:
        assert r.community_size == sizes[r.community]
    assert sum(sizes.values()) == len(rows)
    # replay from the same doc_id arithmetic the oracle CTE mirrors
    ids = [i for (i,) in duckdb.sql(
        "SELECT doc_id FROM read_parquet("
        "'/root/testdata/sf0.01/documents.parquet') "
        "WHERE doc_id % 17 <> 3").fetchall()]
    w = Counter()
    for i in ids:
        src = f"site{i % 13}.example.com"
        dst = f"partner{2 if i % 13 == 11 else i % 5}.example.org"
        w[(src, dst)] += 1
        w[(dst, src)] += 1
    nbrs = defaultdict(dict)
    for (a, b), c in w.items():
        nbrs[a][b] = c
    labels = {h: h for h in nbrs}
    for _ in range(LPA_ITERS):
        nxt = {}
        for h, nb in nbrs.items():
            pull = Counter()
            for other, wt in nb.items():
                pull[labels[other]] += wt
            best = min(pull, key=lambda l: (-pull[l], l))
            nxt[h] = best
        labels = nxt
    assert got == labels
    # bipartite: every site host lands in one community, every
    # partner host in another
    comm_of = {r.host: r.community for r in rows}
    site_comms = {c for h, c in comm_of.items() if h.startswith("site")}
    partner_comms = {c for h, c in comm_of.items()
                     if h.startswith("partner")}
    assert len(site_comms) == 1 and len(partner_comms) == 1
    assert site_comms != partner_comms


def test_modularity_replay_and_bipartite_diagnosis(spark):
    """Q replays exactly from the per-community integer sums
    (q_c = in_c/2W − (deg_c/2W)², Q = Σ q_c), degree mass totals 2W,
    and on the fixture the score DIAGNOSES the synchronous-LPA
    bipartite oscillation: the two 'communities' are the graph's
    sides, so internal weight is zero and Q = −Σ(deg_c/2W)² — the
    strongly-negative readout an operator needs in order to reject
    this partition (and justify a Louvain upgrade) instead of
    trusting the community count."""
    from ocr_spark.plans.webops import hosts_modularity

    rows = hosts_modularity(spark, SF).collect()
    assert rows
    w2 = sum(r.degree_w for r in rows)
    q = 0.0
    for r in sorted(rows, key=lambda r: r.community):
        term = r.internal_w / w2 - (r.degree_w / w2) ** 2
        assert abs(r.q_contribution - round(term, 6)) < 1e-9
        q += term
    for r in rows:
        assert abs(r.modularity - round(q, 6)) < 1e-9
        assert -1.0 <= r.modularity <= 1.0
    # the bipartite diagnosis
    assert all(r.internal_w == 0 for r in rows)
    assert rows[0].modularity < -0.4


def test_louvain_pass_improves_diagnosed_partition(spark):
    """The color-class half-sweeps must realize the refinement the
    modularity diagnosis motivates: q_after > q_before on the
    oscillation-damaged LPA partition, q_before matches
    hosts_modularity's own readout, gain algebra reconciles, sizes
    partition the host set, and Q stays in [−1, 1]."""
    from ocr_spark.plans.webops import (
        hosts_label_propagation, hosts_louvain_pass, hosts_modularity)

    rows = hosts_louvain_pass(spark, SF).collect()
    assert rows
    qb = rows[0].q_before
    qa = rows[0].q_after
    for r in rows:
        assert (r.q_before, r.q_after) == (qb, qa)
        assert abs(r.q_gain - round(qa - qb, 6)) < 1e-9
        assert -1.0 <= r.q_after <= 1.0
    assert qa > qb + 0.1    # the refinement is load-bearing
    mod = hosts_modularity(spark, SF).collect()[0].modularity
    assert abs(qb - mod) < 1e-9
    n_hosts_lpa = hosts_label_propagation(spark, SF).count()
    assert sum(r.n_hosts for r in rows) == n_hosts_lpa
