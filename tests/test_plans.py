"""Physical-plan quality gates: these assertions pin the *scale*
properties of the plans — pushdown, pruning, broadcast, shuffle count —
so a refactor that silently degrades the 100 TB story fails CI even
though results stay correct.
"""

import re

import pytest

SF = "/root/testdata/sf0.01"


def fmt(df) -> str:
    qe = df._jdf.queryExecution()
    return df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(qe, "formatted")


def n_shuffles(plan: str) -> int:
    """Count shuffle exchanges only (a BroadcastExchange is not a
    shuffle — it is the thing that AVOIDS one)."""
    return len(re.findall(r"\(\d+\) Exchange\b", plan))


def test_q1_pushdown_and_pruning(spark):
    """Filter reaches the parquet scan; only 7 of 11 lineitem columns
    are read."""
    from ocr_spark.plans.queries import q1_pricing_summary
    df = q1_pricing_summary(spark, SF)
    plan = fmt(df)
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual" in plan
    assert "l_orderkey" not in plan.split("ReadSchema:")[1].split("\n")[0]
    # map-side combine: partial aggregation before the 1-key shuffle
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in simple
    # the whole agg pipeline compiles into WholeStageCodegen subtrees
    codegen = df._sc._jvm.org.apache.spark.sql.api.python.PythonSQLUtils \
        .explainString(df._jdf.queryExecution(), "codegen")
    assert "WholeStageCodegen subtrees" in codegen


def test_q6_multi_predicate_pushdown(spark):
    from ocr_spark.plans.queries import q6_forecast_revenue
    plan = fmt(q6_forecast_revenue(spark, SF))
    pushed = [ln for ln in plan.splitlines() if "PushedFilters" in ln][0]
    assert "l_shipdate" in pushed and "l_discount" in pushed \
        and "l_quantity" in pushed


def test_q5_broadcasts_at_small_sf(spark):
    """At sf0.01 every dim fits under autoBroadcastJoinThreshold: the
    whole snowflake becomes broadcast joins — no sort-merge shuffles."""
    from ocr_spark.plans.queries import q5_nation_revenue
    plan = fmt(q5_nation_revenue(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 5
    assert "SortMergeJoin" not in plan


def test_minhash_is_narrow_map(spark):
    """Signature computation must stay a scan→project: zero shuffles."""
    from ocr_spark.plans.dataops import docs_minhash_signature
    plan = fmt(docs_minhash_signature(spark, SF))
    assert n_shuffles(plan) == 0 and "BroadcastExchange" not in plan


def test_cube_and_grouping_sets_single_shuffle(spark):
    """CUBE / GROUPING SETS must stay expand → partial agg → ONE
    shuffle keyed on (gid, keys) — a grouping-set implementation that
    unions N separate aggregations would show N shuffles."""
    from ocr_spark.plans.relational_extra import li_cube, li_grouping_sets
    for q in (li_cube, li_grouping_sets):
        df = q(spark, SF)
        assert n_shuffles(fmt(df)) == 1, q.__name__
        assert "partial" in df._jdf.queryExecution().executedPlan() \
            .toString()


def test_funnel_joins_are_user_cardinality(spark):
    """The funnel chains per-user aggregates: every join input is
    one-row-per-user (aggregated before joining), so no join can be
    event×event; partial aggregation must survive."""
    from ocr_spark.plans.relational_extra import ev_funnel_conversion
    df = ev_funnel_conversion(spark, SF)
    plan = fmt(df)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_min" in df._jdf.queryExecution().executedPlan() \
        .toString()


def test_gopher_filter_is_narrow_map(spark):
    """The quality-filter decision is a per-row expression map: zero
    shuffles, zero broadcasts — scales linearly with input splits."""
    from ocr_spark.plans.dataops import docs_gopher_filters
    plan = fmt(docs_gopher_filters(spark, SF))
    assert n_shuffles(plan) == 0 and "BroadcastExchange" not in plan


@pytest.mark.parametrize("query", [
    "docs_gopher_filters", "gopher_gate_frame", "docs_gopher_line_filters",
    "pages_para_dedup"])
def test_curation_kernels_are_lambda_free(spark, query):
    """The oracle-checked curation kernels, which run_curation_job
    composes, plan no lambda higher-order function: those run
    interpreted, not code-generated (``array_sort`` without a comparator
    plans one too)."""
    from ocr_spark.plans import dataops, webops
    if query == "gopher_gate_frame":
        df = dataops.gopher_gate_frame(
            dataops.t(spark, SF, "documents"), "doc_id")
    else:
        df = getattr(dataops, query, None) or getattr(webops, query)
        df = df(spark, SF)
    optimized = df._jdf.queryExecution().optimizedPlan().toString()
    assert "lambdafunction" not in optimized.lower(), optimized


def test_extraction_has_exactly_two_shuffles_and_prunes(spark):
    """The salted extraction job: one shuffle for the normal route + one
    for the big route, nothing else; and the scan under the html-wrap
    UDF reads only the columns the kernel needs."""
    from ocr_spark.operators.extraction import run_extraction
    from ocr_spark.plans.extract_queries import pages_from_documents
    df = run_extraction(pages_from_documents(spark, SF), partitions=8,
                        big_partitions=2)
    plan = fmt(df)
    assert n_shuffles(plan) == 2
    for ln in plan.splitlines():
        if "ReadSchema" in ln:
            assert "lang" not in ln and "source" not in ln, (
                "column pruning lost: " + ln)


def test_emb_topk_no_shuffle_of_corpus(spark):
    """Brute-force ANN must broadcast the query side; the corpus side
    streams without an exchange before the join."""
    from ocr_spark.plans.simsearch import emb_cosine_topk
    plan = fmt(emb_cosine_topk(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    # the only shuffle allowed is the final window's partitionBy(q_id)
    assert n_shuffles(plan) <= 1


def test_emb_range_search_same_shape_no_sort(spark):
    """Range search shares top-k's broadcast shape but must carry NO
    per-query Sort before its count window has no ordering — the
    threshold filter replaces the rank entirely."""
    from ocr_spark.plans.simsearch import emb_range_search
    df = emb_range_search(spark, SF)
    plan = fmt(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert n_shuffles(plan) <= 1
    rows = df.collect()
    assert rows
    from collections import Counter
    per_q = Counter(r.q_id for r in rows)
    assert all(per_q[r.q_id] == r.n_hits for r in rows)
    assert len(set(per_q.values())) > 1  # data-dependent cardinality


def test_lsh_self_joins_are_bucket_capped(spark):
    """Both LSH near-dup paths must drop degenerate buckets BEFORE the
    bucket self-join: the window-count cap column must appear in the
    optimized plan (a refactor that removes the cap turns a mass-dup
    page / clustered embeddings into an O(n²) bucket at 100 TB)."""
    from ocr_spark.plans.dataops import (
        docs_minhash_lsh_pairs, docs_simhash_near_dup,
    )
    from ocr_spark.plans.simsearch import emb_lsh_near_dup
    for q in (docs_minhash_lsh_pairs, emb_lsh_near_dup,
              docs_simhash_near_dup):
        plan = q(spark, SF)._jdf.queryExecution().optimizedPlan().toString()
        assert "bucket_n" in plan, f"{q.__name__} lost its bucket cap"
        # the cap filter must sit below the join, not above it
        # (rendered as e.g. "bucket_n#24L <= 50" in the optimized plan)
        cap = re.search(r"bucket_n#\d+L? <=", plan)
        assert cap and plan.index("Join") < cap.start(), plan


def test_multiprobe_broadcasts_probe_list(spark):
    """Multi-probe ANN: the corpus side must stream through a
    BroadcastHashJoin with the (tiny) query-probe list — never a
    sort-merge shuffle of the bucketed corpus; the only shuffles are the
    candidate dedup + final ranking window (candidate-sized, not
    corpus-sized)."""
    from ocr_spark.plans.simsearch import emb_lsh_multiprobe_topk
    plan = fmt(emb_lsh_multiprobe_topk(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert n_shuffles(plan) <= 2


def test_jaccard_verify_is_candidate_driven(spark):
    """The scale-path Jaccard verifier must consume the LSH candidate
    list via linear doc_id equi-joins — never the (lang, len_bucket)
    blocked self-join (that one is the small-SF cross-check only)."""
    from ocr_spark.plans.dataops import docs_jaccard_verify_candidates
    plan = docs_jaccard_verify_candidates(spark, SF) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert "len_bucket" not in plan
    assert "bucket_n" in plan  # inherits the capped LSH candidates


def test_bucketed_join_has_no_shuffle(spark, tmp_path):
    """Two tables bucketed on the join key with equal bucket counts must
    sort-merge join with ZERO exchanges — the co-located join that makes
    resume anti-joins and output:metrics joins shuffle-free at 100 TB."""
    from ocr_spark.operators.bucketing import bucketed_join, write_bucketed

    docs = spark.read.parquet(SF + "/documents.parquet")
    write_bucketed(docs.select("doc_id", "lang"), "t_bkt_left",
                   "doc_id", n_buckets=8, sort_col="doc_id")
    write_bucketed(docs.select("doc_id", "n_chars"), "t_bkt_right",
                   "doc_id", n_buckets=8, sort_col="doc_id")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        joined = bucketed_join(spark, "t_bkt_left", "t_bkt_right", "doc_id")
        plan = fmt(joined)
        assert "SortMergeJoin" in plan
        assert n_shuffles(plan) == 0, plan
        assert joined.count() == docs.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS t_bkt_left")
        spark.sql("DROP TABLE IF EXISTS t_bkt_right")


def test_near_dup_cluster_iteration_keyed_on_doc_id(spark):
    """One label-propagation round must be: equi-join on src + groupBy
    doc_id — every shuffle hash-partitioned on a doc-id key, no
    cartesian/broadcast-nested-loop anywhere, so a round's cost is
    O(edges) shuffled once at any scale."""
    from pyspark.sql import functions as F

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11)], "doc_a long, doc_b long")
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .union(pairs.select(F.col("doc_b").alias("src"),
                                 F.col("doc_a").alias("dst"))).distinct())
    labels = (edges.select(F.col("src").alias("doc_id")).distinct()
              .withColumn("label", F.col("doc_id")))
    prop = (edges.join(labels.withColumnRenamed("doc_id", "src"), "src")
            .select(F.col("dst").alias("doc_id"), "label"))
    one_round = (labels.union(prop).groupBy("doc_id")
                 .agg(F.min("label").alias("label")))
    plan = fmt(one_round)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # every shuffle exchange is keyed on a doc-id column (src/doc_id)
    for ln in plan.splitlines():
        if "Arguments: hashpartitioning" in ln:
            assert re.search(r"hashpartitioning\((?:src|doc_id)#", ln), ln


def test_near_dup_clusters_chain_and_isolated(spark):
    """Min-label propagation over a 5-node path (diameter 4 — needs
    several rounds), a separate 2-clique, and no isolated nodes in the
    output (docs with no verified pair are not 'clusters of one')."""
    from ocr_spark.plans.dataops import near_dup_clusters

    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)],
        "doc_a long, doc_b long")
    got = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in near_dup_clusters(pairs).collect()}
    assert got == {1: (1, True), 2: (1, False), 3: (1, False),
                   4: (1, False), 5: (1, False),
                   10: (10, True), 11: (10, False)}


def test_cc_logstar_matches_propagation_and_unionfind(spark):
    """Large/small-star CC must agree with min-label propagation on
    the propagation test graph, and with a driver-side union-find on a
    deterministic multi-component graph."""
    from ocr_spark.plans.dataops import cc_logstar, near_dup_clusters

    pairs = [(2, 1), (2, 3), (3, 4), (4, 5), (10, 11)]
    df = spark.createDataFrame(pairs, "doc_a long, doc_b long")
    want = {r.doc_id: (r.cluster_id, r.is_keeper)
            for r in near_dup_clusters(df).collect()}
    got = {r.doc_id: (r.cluster_id, r.is_keeper)
           for r in cc_logstar(df).collect()}
    assert got == want

    # deterministic clustered graph: stars, a triangle, a bridge
    pairs2 = [(100, 7), (100, 42), (42, 7), (13, 99), (99, 50),
              (50, 13), (200, 201), (201, 300), (300, 7)]
    df2 = spark.createDataFrame(pairs2, "doc_a long, doc_b long")

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        while parent.setdefault(x, x) != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs2:
        parent[find(a)] = find(b)
    comp: dict[int, int] = {}
    for n in parent:
        comp.setdefault(find(n), n)
    want2 = {n: min(m for m in parent if find(m) == find(n))
             for n in parent}
    got2 = {r.doc_id: r.cluster_id for r in cc_logstar(df2).collect()}
    assert got2 == want2


def test_cc_logstar_chain_converges_in_log_rounds(spark):
    """The scale contract that justifies the second CC: a 64-node path
    (diameter 63) must resolve EXACTLY in O(log n) alternations.
    Min-label propagation at its own CC_MAX_ITERS=15 bound provably
    splits this component; large/small-star must finish in ≤8 rounds
    with every node labeled 0."""
    from ocr_spark.plans.dataops import CC_MAX_ITERS, cc_logstar

    n = 64
    assert n - 1 > 2 * CC_MAX_ITERS  # the contrast the test encodes
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_a long, doc_b long")
    stats: dict = {}
    rows = cc_logstar(chain, stats=stats).collect()
    assert stats["rounds"] <= 8, stats
    assert {r.doc_id for r in rows} == set(range(n))
    assert all(r.cluster_id == 0 for r in rows)
    assert sum(r.is_keeper for r in rows) == 1


def test_classifier_score_broadcasts_weight_table(spark):
    """The fastText-style quality classifier must broadcast its weight
    table (the model is a dimension, even at a few million n-grams)
    and shuffle only for the per-doc partial agg — never sort-merge
    the token stream against the vocab."""
    from ocr_spark.plans.curation import docs_classifier_score

    plan = fmt(docs_classifier_score(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    # one shuffle: the groupBy(doc_id) partial agg
    assert n_shuffles(plan) == 1
    # partial aggregation happens map-side before the exchange
    assert plan.count("HashAggregate") >= 2


def test_semdedup_broadcasts_centroids_no_cross_join(spark):
    """SemDeDup's scale contract: the k-cell centroid table broadcasts
    against the streaming corpus, and the within-cell pairing is an
    equi-join on cell — never a corpus-wide cartesian/BNLJ."""
    from ocr_spark.plans.simsearch import emb_semdedup

    plan = fmt(emb_semdedup(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the cell-cap guard is IN the plan (window count before pairing)
    assert "cell_n" in plan


def test_top_ngrams_partial_agg_bounded_shuffles(spark):
    """Phrase mining must combine map-side (shuffle carries
    distinct-gram volume, not token volume) and never exceed the
    three keyed exchanges of its agg→agg→window shape."""
    from ocr_spark.plans.dataops import docs_top_ngrams

    df = docs_top_ngrams(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) <= 3, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple


def test_bigram_logprob_preaggregates_probe_side(spark):
    """The bigram LM probe side must be the (doc_id, prev, tok)
    pre-aggregate, not the raw exploded bigram stream: hot stopword
    bigrams cross the count-table joins as one row carrying a
    multiplicity. Pin it structurally: in the optimized plan, every
    join sits ABOVE the probe-side Aggregate (no Generate→Join path
    that bypasses an aggregate), and the physical plan shows the
    partial aggregate (map-side combine) below the first join."""
    from ocr_spark.plans.curation import docs_bigram_logprob

    df = docs_bigram_logprob(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    # walk the indented tree: the FIRST Generate (explode) reached by
    # descending from the top must be preceded by an Aggregate at a
    # shallower depth than any Join below it would require — i.e. on
    # the probe branch the order is Join → … → Aggregate → Generate.
    lines = opt.splitlines()

    def depth(ln: str) -> int:
        return len(ln) - len(ln.lstrip(" :+-"))

    join_depths = [depth(ln) for ln in lines if "Join" in ln]
    assert join_depths, opt
    # probe branch = the subtree under the outermost join's first
    # child; find the first Generate and require an Aggregate between
    # it and the outermost join.
    gen_idx = next(i for i, ln in enumerate(lines) if "Generate" in ln)
    agg_above_gen = any("Aggregate" in ln for ln in lines[:gen_idx])
    assert agg_above_gen, opt
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple, simple


def test_kmeans_assignment_is_narrow_broadcast(spark):
    """Lloyd's per-iteration shape: assignment must be a narrow map
    against a broadcast 1-row centroid array (no shuffle of the corpus,
    no CartesianProduct), and the centroid recompute must combine
    map-side. Because localCheckpoint truncates lineage per round, we
    assert on the final segment of emb_ivf_trained_topk (assignment +
    probe join) plus the physical agg of emb_kmeans_train."""
    from ocr_spark.plans.simsearch import (
        emb_ivf_trained_topk, emb_kmeans_train)

    df = emb_ivf_trained_topk(spark, SF)
    plan = fmt(df)
    assert "CartesianProduct" not in plan, plan
    # corpus side never shuffles before the probe equi-join: the only
    # DISTRIBUTED exchange in the final segment is the top-k window's
    # hash partitioning on q_id (bounded: queries x cell members); the
    # SinglePartition exchanges are the K-row centroid collect_list
    # folds, excluded below.
    single = plan.count("Arguments: SinglePartition")
    assert n_shuffles(plan) - single <= 1, plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan

    simple = (emb_kmeans_train(spark, SF)
              ._jdf.queryExecution().executedPlan().toString())
    assert "partial_avg" in simple or "partial_count" in simple, simple


def test_q8_snowflake_all_dims_broadcast(spark):
    """Q8's 7-table snowflake must resolve every dim join as broadcast
    at sf0.01 — one fact scan, no SortMergeJoin."""
    from ocr_spark.plans.relational_extra import q8_market_share

    plan = fmt(q8_market_share(spark, SF))
    assert "SortMergeJoin" not in plan, plan
    assert plan.count("BroadcastHashJoin") >= 6, plan


def test_q13_left_join_not_turned_inner(spark):
    """Q13's non-urgent filter lives in the join CONDITION; the plan
    must keep the LEFT OUTER join (a WHERE would make it inner and
    silently drop zero-order customers)."""
    from ocr_spark.plans.relational_extra import q13_customer_distribution

    df = q13_customer_distribution(spark, SF)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    assert "LeftOuter" in opt, opt


def test_tfidf_partial_agg_and_topk_window(spark):
    """TF-IDF: the per-doc term profile partial-aggregates the token
    explode map-side; it is materialized ONCE (localCheckpoint) so the
    corpus is not tokenized twice; the vocab-sized df table comes back
    as a BROADCAST join (never a window by term — stopword skew)."""
    from ocr_spark.plans.dataops import _tfidf_per_doc, docs_tfidf_topk

    per_doc = _tfidf_per_doc(spark.read.parquet(f"{SF}/documents.parquet"))
    simple = per_doc._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple, simple

    df = docs_tfidf_topk(spark, SF)
    plan = fmt(df)
    # single materialized profile: downstream reads the checkpointed
    # RDD; the only parquet scan left is the zero-column corpus count
    scans = re.findall(r"\(\d+\) Scan parquet", plan)
    assert len(scans) == 1, plan
    assert "ReadSchema: struct<>" in plan, plan
    assert "BroadcastExchange" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert n_shuffles(plan) <= 3, plan


def test_line_dedup_broadcasts_boilerplate_set(spark):
    """The duplicate-line (boilerplate) set is bounded by the
    boilerplate vocabulary, not the corpus: it must come back onto the
    exploded lines as a BROADCAST join, never a shuffled one."""
    from ocr_spark.plans.webops import pages_line_dedup

    df = pages_line_dedup(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan, plan
    # count two-step (line,url)->line aggs, reassembly, and NO
    # sort-merge join of lines against the dup set
    assert "SortMergeJoin" not in plan, plan


def test_seq_pack_windows_per_language_stream(spark):
    """Sequence packing must be one exchange per language stream (the
    window input is one row per doc): no token-volume shuffle, no
    single-partition global window."""
    from ocr_spark.plans.curation import docs_seq_pack

    df = docs_seq_pack(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) <= 1, plan
    assert "SinglePartition" not in plan, plan


def test_dsir_lambda_table_broadcasts(spark):
    """The DSIR λ table is bounded by DSIR_BUCKETS (a plan constant):
    it must reach the per-doc probe as a BROADCAST join, and the probe
    side must pre-aggregate (doc_id, bucket) multiplicities before the
    join (map-side partial agg absorbs within-doc repetition)."""
    from ocr_spark.plans.curation import docs_dsir_weights

    df = docs_dsir_weights(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple


def test_host_boilerplate_set_broadcasts(spark):
    """The per-host template set is the head of each site's line
    distribution — it must come back onto the exploded lines as a
    broadcast, never a sort-merge join against the line stream."""
    from ocr_spark.plans.webops import pages_host_boilerplate

    df = pages_host_boilerplate(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan, plan


def test_near_dup_vs_snapshot_bucket_capped_before_join(spark):
    """Cross-snapshot LSH must apply the LSH_BUCKET_CAP window BEFORE
    the new×prior bucket join (the filter appears under the join, not
    above it), so a mass-duplicated page can never force an O(n²)
    bucket."""
    from ocr_spark.plans.dataops import docs_near_dup_vs_snapshot

    df = docs_near_dup_vs_snapshot(spark, SF)
    plan = fmt(df)
    jpos = plan.find("SortMergeJoin")
    if jpos == -1:
        jpos = plan.find("ShuffledHashJoin")
    cappos = plan.find("bucket_n")
    assert cappos != -1, plan
    # the cap window's output is consumed by the join inputs: the
    # capped-filter expression must exist in the plan at all (window +
    # filter), and candidate pairing must be an equi-join
    assert "Window" in plan, plan


def test_ivfpq_no_corpus_shuffle_outside_cell_join(spark):
    """IVF-PQ: probe list and centroid array are broadcasts; the
    corpus side sees only the cell equi-join (broadcast) plus the
    q_id-keyed shortlist/re-rank windows — no corpus self-join, no
    cross join of the corpus."""
    from ocr_spark.plans.simsearch import emb_ivfpq_topk

    df = emb_ivfpq_topk(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_anchor_texts_partial_agg_no_sort_merge(spark):
    """Anchor aggregation must partial-aggregate before its one
    link-vocabulary exchange (hot targets carry counts, not rows) and
    never sort-merge-join anything."""
    from ocr_spark.plans.webops import pages_anchor_texts

    df = pages_anchor_texts(spark, SF)
    plan = fmt(df)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple
    assert "SortMergeJoin" not in plan, plan


def test_tokenizer_fertility_single_lang_exchange(spark):
    """The whole tokenizer is a narrow JVM map (plan literals); the
    only exchange is the lang-keyed aggregate — no Python workers, no
    joins."""
    from ocr_spark.plans.dataops import docs_tokenizer_fertility

    df = docs_tokenizer_fertility(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) == 1, plan
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan
    assert "Join" not in plan, plan


def test_training_order_no_global_sort(spark):
    """The epoch shuffle must be per-(epoch, shard) windows — never a
    single-partition global sort."""
    from ocr_spark.plans.curation import docs_training_order

    df = docs_training_order(spark, SF)
    plan = fmt(df)
    assert "SinglePartition" not in plan, plan


def test_bloom_bits_broadcast_onto_probes(spark):
    """The Bloom bitset side is bounded by BLOOM_M rows at any corpus
    size, so the probe join must be a BroadcastHashJoin — the corpus
    never shuffles by bit position."""
    from ocr_spark.plans.webops import BLOOM_M, docs_bloom_probe

    df = docs_bloom_probe(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan, plan
    # the bitset cardinality bound is structural: positions are mod M
    assert f"% {BLOOM_M})" in plan or f"% {BLOOM_M}" in plan, plan


def test_decontaminate_spans_broadcasts_eval_set(spark):
    """The eval n-gram hash set broadcasts (benchmarks are MBs against
    a 100 TB corpus); the train side must never shuffle by gram."""
    from ocr_spark.plans.curation import docs_decontaminate_spans

    plan = fmt(docs_decontaminate_spans(spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_line_corrections_only_extraction_shuffles(spark):
    """Rule-based line corrections are per-row array ops: the plan may
    contain ONLY the extraction pipeline's own 2 shuffles."""
    from ocr_spark.plans.webops import pages_line_corrections

    plan = fmt(pages_line_corrections(spark, SF))
    assert n_shuffles(plan) == 2, plan


def test_mixture_realize_broadcasts_domain_table(spark):
    """The realized mixture joins a domain-count-sized epoch table onto
    the corpus: that join must broadcast, and nothing may sort."""
    from ocr_spark.plans.curation import docs_mixture_realize

    plan = fmt(docs_mixture_realize(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan


def test_curriculum_order_no_global_sort(spark):
    """Phase assignment uses per-language windows and the within-phase
    order is per-(phase, shard) — never a single-partition sort."""
    from ocr_spark.plans.curation import docs_curriculum_order

    plan = fmt(docs_curriculum_order(spark, SF))
    assert "SinglePartition" not in plan, plan


def test_encoding_repair_is_narrow_map(spark):
    """Mojibake repair is chained string replaces: zero shuffles."""
    from ocr_spark.plans.webops import docs_encoding_repair

    plan = fmt(docs_encoding_repair(spark, SF))
    assert n_shuffles(plan) == 0, plan


def test_host_cap_single_host_exchange(spark):
    """The diversity cap is one rank window keyed host: exactly one
    shuffle, never a global (SinglePartition) sort."""
    from ocr_spark.plans.webops import docs_host_cap

    plan = fmt(docs_host_cap(spark, SF))
    assert n_shuffles(plan) == 1, plan
    assert "SinglePartition" not in plan, plan


def test_zipf_profile_vocab_bounded_shuffles(spark):
    """Corpus bytes stop at the first partial agg: the (lang, tok)
    count must partial-aggregate map-side; everything after operates on
    vocab-sized frames."""
    from ocr_spark.plans.curation import docs_zipf_profile

    df = docs_zipf_profile(spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple
    assert "SinglePartition" not in fmt(df)


def test_lang_confusion_constant_cardinality_agg(spark):
    """The confusion matrix adds one partial-agg groupBy of at most
    |langs|² keys on top of langid's zero-shuffle map."""
    from ocr_spark.plans.dataops import docs_lang_confusion

    df = docs_lang_confusion(spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple
    assert "SinglePartition" not in fmt(df)


def test_vocab_novelty_gram_vocab_sized_join(spark):
    """Both snapshot sides collapse to gram-vocabulary frames before
    the novelty join — corpus rows never join raw; partial aggregation
    must survive below the join."""
    from ocr_spark.plans.webops import docs_vocab_novelty

    df = docs_vocab_novelty(spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple
    plan = fmt(df)
    assert "CartesianProduct" not in plan


def test_robots_txt_rules_broadcast_single_exchange(spark):
    """The robots.txt rule table is crawler metadata (rule-count rows):
    it must broadcast onto the pages; the only exchange is the per-url
    longest-match aggregation."""
    from ocr_spark.plans.webops import pages_robots_txt_gate

    plan = fmt(pages_robots_txt_gate(spark, SF))
    assert "BroadcastHashJoin" in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert n_shuffles(plan) <= 1, plan


def test_chunk_spans_and_readability_narrow_maps(spark):
    """Within-doc chunking and readability are per-row array pipelines:
    zero shuffles at any corpus size."""
    from ocr_spark.plans.curation import docs_chunk_spans, docs_readability

    assert n_shuffles(fmt(docs_chunk_spans(spark, SF))) == 0
    assert n_shuffles(fmt(docs_readability(spark, SF))) == 0


def test_hosts_concentration_host_bounded(spark):
    """The HHI rollup's shuffle volume is host cardinality: partial agg
    below the host groupBy, then a broadcast 1-row totals join."""
    from ocr_spark.plans.curation import hosts_concentration

    df = hosts_concentration(spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple or "partial_sum" in simple
    assert "SortMergeJoin" not in fmt(df)


def test_anomaly_monitor_type_day_bounded(spark):
    """Events collapse to (type, day) rows before the trailing window:
    partial aggregation below, no single-partition sort."""
    from ocr_spark.plans.queries import ev_anomaly_daily

    df = ev_anomaly_daily(spark, SF)
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple
    assert "SinglePartition" not in fmt(df)


def test_sample_holdout_is_narrow_map(spark):
    """Split assignment is hash+case: zero shuffles."""
    from ocr_spark.plans.curation import docs_sample_holdout

    assert n_shuffles(fmt(docs_sample_holdout(spark, SF))) == 0


def test_collocations_pmi_aggregate_vs_aggregate(spark):
    """PMI's scale contract: every join input is a COUNT TABLE, never
    the raw token stream — the per-lang totals broadcast, the shuffle
    count is bounded by the agg→join→window shape, and partial
    aggregation runs map-side so shuffles carry distinct-gram volume."""
    from ocr_spark.plans.dataops import docs_collocations_pmi

    df = docs_collocations_pmi(spark, SF)
    plan = fmt(df)
    assert "BroadcastHashJoin" in plan          # nu/nb totals
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert n_shuffles(plan) <= 8, plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_count" in simple


def test_cluster_safe_split_invariants(spark):
    """The leakage-proof split's two contracts: (a) every member of a
    near-dup cluster gets the SAME split (no near-dup pair can
    straddle train/val by construction); (b) documents outside any
    cluster keep their docs_sample_holdout assignment exactly, so the
    cluster-safe form is a strict refinement, not a reshuffle."""
    from ocr_spark.plans.curation import (
        docs_cluster_safe_split, docs_sample_holdout,
    )

    rows = docs_cluster_safe_split(spark, SF).collect()
    by_group: dict = {}
    for r in rows:
        by_group.setdefault(r.group_id, set()).add(r.split)
    assert all(len(s) == 1 for s in by_group.values())
    # at least one genuine multi-doc cluster exists at this SF, or the
    # invariant is vacuous
    clustered = [r for r in rows if r.in_near_dup_cluster]
    assert len(clustered) >= 2

    holdout = {r.doc_id: r.split
               for r in docs_sample_holdout(spark, SF).collect()}
    for r in rows:
        if not r.in_near_dup_cluster:
            assert r.split == holdout[r.doc_id], r.doc_id


def test_cdx_index_single_range_exchange(spark):
    """The CDX shard write order comes from ONE range exchange on the
    SURT key (globally ordered shard set, binary-searchable within
    each) — no global single-partition sort, no extra shuffles."""
    from ocr_spark.plans.indexing import pages_cdx_index

    df = pages_cdx_index(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) == 1
    assert "rangepartitioning(surt_key" in plan
    assert "SinglePartition" not in plan


def test_wat_export_zero_shuffle(spark):
    """WAT metadata records are scan → project: zero shuffles."""
    from ocr_spark.plans.indexing import pages_wat_export

    assert n_shuffles(fmt(pages_wat_export(spark, SF))) == 0


def test_revisit_records_single_digest_exchange(spark):
    """Capture multiplication is a narrow explode (no self-union
    re-scans — exactly one parquet scan) and the election is ONE
    shuffle keyed on digest."""
    from ocr_spark.plans.indexing import pages_revisit_records

    plan = fmt(pages_revisit_records(spark, SF))
    assert n_shuffles(plan) == 1
    assert "hashpartitioning(digest" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_cdx_merge_anti_join_then_range(spark):
    """Identical-recrawl suppression is a left-anti join on
    (surt_key, digest); the merged index takes one range exchange for
    the global shard order — and nothing is a single-partition sort."""
    from ocr_spark.plans.indexing import pages_cdx_merge

    plan = fmt(pages_cdx_merge(spark, SF))
    assert "LeftAnti" in plan
    assert "rangepartitioning(surt_key" in plan
    assert "SinglePartition" not in plan


def test_crawl_traps_one_rollup_shuffle(spark):
    """Alias explosion is narrow; host rollup is the only shuffle
    pair (partial + final aggregate around one exchange per distinct
    rewrite stage); n_urls is a plain count, so no double-distinct
    Expand explosion."""
    from ocr_spark.plans.webops import hosts_crawl_traps

    plan = fmt(hosts_crawl_traps(spark, SF))
    assert n_shuffles(plan) <= 2  # distinct-agg rewrite: ≤2 exchanges
    assert "Expand" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_url_templates_one_shuffle(spark):
    from ocr_spark.plans.webops import pages_url_templates

    plan = fmt(pages_url_templates(spark, SF))
    assert n_shuffles(plan) == 1
    assert "hashpartitioning(host" in plan


def test_recrawl_priority_single_url_exchange(spark):
    """The lag window and the per-url rollup share the url key, so
    the window's exchange satisfies the aggregate's distribution —
    one shuffle total, one scan."""
    from ocr_spark.plans.indexing import pages_recrawl_priority

    plan = fmt(pages_recrawl_priority(spark, SF))
    assert n_shuffles(plan) == 1
    assert "hashpartitioning(url" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_frontier_schedule_one_host_exchange(spark):
    """Rank, queue length, and makespan are all windows over the same
    host partitioning — one shuffle, no SinglePartition global sort."""
    from ocr_spark.plans.webops import frontier_fetch_schedule

    plan = fmt(frontier_fetch_schedule(spark, SF))
    assert n_shuffles(plan) == 1
    assert "hashpartitioning(host" in plan
    assert "SinglePartition" not in plan


def test_hll_sketch_bounded_aggregate(spark):
    """The register rollup keys on the 256-value reg column (every
    executor emits ≤256 partial rows — the mergeable-sketch property),
    and only the final 256→1 fold is a SinglePartition exchange."""
    from ocr_spark.plans.sketches import docs_hll_sketch

    plan = fmt(docs_hll_sketch(spark, SF))
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    assert "hashpartitioning(reg" in plan
    assert plan.count("SinglePartition") == 1  # the 1-row fold only


def test_inverted_index_two_stage_aggregate(spark):
    """The token-volume explode partial-aggregates into per-doc
    distinct terms BEFORE any exchange; the term rollup is the second
    keyed exchange — two shuffles, one scan, no Expand."""
    from ocr_spark.plans.dataops import docs_inverted_index

    plan = fmt(docs_inverted_index(spark, SF))
    assert n_shuffles(plan) == 2
    assert "hashpartitioning(term" in plan
    assert "hashpartitioning(doc_id" in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_char_entropy_bounded_explode_two_stage(spark):
    """The char explode is bounded per row and the (doc, char) rollup
    partial-aggregates before its exchange; the per-doc fold is the
    second keyed exchange — two shuffles, one scan, no window."""
    from ocr_spark.plans.dataops import docs_char_entropy

    plan = fmt(docs_char_entropy(spark, SF))
    assert n_shuffles(plan) == 2
    assert "Window" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_outlier_scan_broadcast_stats(spark):
    """The per-cell moment table (K rows) and the centroid table both
    broadcast back to the vector stream — no vector-keyed join
    exchange beyond what the kmeans iterations already pay, and the
    z-score itself adds exactly one bounded (cell-keyed) aggregate."""
    from ocr_spark.plans.simsearch import emb_outlier_scan

    plan = fmt(emb_outlier_scan(spark, SF))
    assert plan.count("BroadcastHashJoin") >= 2
    assert "SortMergeJoin" not in plan


def test_winnowing_zero_shuffle(spark):
    """Winnowing is a pure per-row array computation — no exchange."""
    from ocr_spark.plans.dataops import docs_winnowing

    plan = fmt(docs_winnowing(spark, SF))
    assert n_shuffles(plan) == 0


def test_winnowing_match_guarantee(spark):
    """The selection guarantee: two docs sharing a run of at least
    w + k − 1 words share at least one selected fingerprint."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.dataops import (
        SHINGLE_W, WINNOW_W, _shingles, _tokens,
    )

    shared = "alpha beta gamma delta epsilon zeta eta"  # 7 ≥ 4+3−1
    rows = [(1, "x1 y1 " + shared + " tail one extra words here"),
            (2, "completely different head " + shared + " z9 q8")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    hashes = F.transform(_shingles(_tokens()), lambda s: F.md5(s))
    n = F.size(hashes)
    mins = F.when(
        n >= WINNOW_W,
        F.transform(F.sequence(F.lit(1), n - WINNOW_W + 1),
                    lambda i: F.array_min(F.slice(hashes, i, WINNOW_W)))
    ).otherwise(F.array().cast("array<string>"))
    got = {r.doc_id: set(r.fps) for r in
           df.select("doc_id", F.array_distinct(mins).alias("fps"))
           .collect()}
    assert got[1] & got[2], "shared ≥ w+k−1 run must share a fingerprint"


def test_mirror_pairs_digest_join_is_capped(spark):
    """The digest pair join must drop boilerplate digests BEFORE the
    self-join, and host sizes must come back via broadcast."""
    from ocr_spark.plans.webops import hosts_mirror_pairs

    opt = hosts_mirror_pairs(spark, SF) \
        ._jdf.queryExecution().optimizedPlan().toString()
    cap = re.search(r"n#\d+L? <= 10", opt)
    assert cap and opt.index("Join") < cap.start()
    plan = fmt(hosts_mirror_pairs(spark, SF))
    assert "BroadcastHashJoin" in plan


def test_containment_shingle_join_is_capped(spark):
    """The shared-shingle candidate join must drop boilerplate
    shingles BEFORE the self-join (window-count cap below the Join in
    the optimized plan) — without it one corpus-wide boilerplate
    shingle is an O(n²) bucket."""
    from ocr_spark.plans.dataops import docs_containment_pairs

    plan = docs_containment_pairs(spark, SF) \
        ._jdf.queryExecution().optimizedPlan().toString()
    assert re.search(r"n#\d+L? <= 20", plan), "cap filter missing"
    cap = re.search(r"n#\d+L? <= 20", plan)
    assert plan.index("Join") < cap.start(), plan


def test_bitext_mine_broadcast_block(spark):
    """The bounded mining block broadcasts (no equi-key → broadcast
    nested loop); the target corpus streams through, and the top-2
    election is one window keyed a_id."""
    from ocr_spark.plans.simsearch import emb_bitext_mine

    plan = fmt(emb_bitext_mine(spark, SF))
    assert "BroadcastNestedLoopJoin" in plan
    assert "hashpartitioning(a_id" in plan
    assert "SortMergeJoin" not in plan


def test_hll_snapshot_merge_register_keyed(spark):
    """All three register rollups key on the 256-value reg column and
    the combine joins stay on that key — nothing collapses to a
    single partition."""
    from ocr_spark.plans.sketches import docs_hll_snapshot_merge

    plan = fmt(docs_hll_snapshot_merge(spark, SF))
    assert plan.count("hashpartitioning(reg") >= 3
    assert "SinglePartition" not in plan


def test_cms_snapshot_merge_cell_keyed(spark):
    """All three counter rollups key on the (r, b) cell and the
    combine joins stay on that key — nothing collapses to a single
    partition (each frame is ≤ depth·256 rows by construction)."""
    from ocr_spark.plans.sketches import docs_cms_snapshot_merge

    plan = fmt(docs_cms_snapshot_merge(spark, SF))
    # the (rb.r, rb.b) struct-field keys surface as _groupingexpression
    # pairs in the exchange — one two-key exchange per counter frame
    assert plan.count("hashpartitioning(_groupingexpression") >= 3
    assert "SinglePartition" not in plan


def test_length_quantile_sketch_bounded_histogram(spark):
    """The histogram keys on the ≤64-value log2 bin (partial map-side
    agg — every executor emits ≤64 rows), the cumulative fold's
    single-partition windows only ever see that ≤64-row frame, and the
    1-row exact-percentile verification side joins back by broadcast,
    never a shuffle."""
    from ocr_spark.plans.sketches import docs_length_quantile_sketch

    plan = fmt(docs_length_quantile_sketch(spark, SF))
    # the log2-bin expression surfaces as _groupingexpression in the
    # histogram exchange — the one data-volume shuffle in the plan
    assert "hashpartitioning(_groupingexpression" in plan
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_weighted_reservoir_narrow_topk(spark):
    """A-Res is one narrow map into TakeOrdered — per-partition
    partial top-k, no shuffle, no window."""
    from ocr_spark.plans.sketches import docs_weighted_reservoir

    plan = fmt(docs_weighted_reservoir(spark, SF))
    assert "TakeOrderedAndProject" in plan
    assert n_shuffles(plan) == 0
    assert "Window" not in plan


def test_kmv_distinct_partial_bottomk(spark):
    """Every KMV frame compiles to TakeOrdered (per-partition partial
    bottom-k — each executor emits ≤k rows), and the 1-row combine
    joins are broadcast, never a shuffle join."""
    from ocr_spark.plans.sketches import docs_kmv_distinct

    plan = fmt(docs_kmv_distinct(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 4
    assert "SortMergeJoin" not in plan


def test_kmv_resemblance_frame_joins_broadcast(spark):
    """The estimate side is TakeOrdered frames joined at k-row scale
    (broadcast); the only shuffle-aggregate is the exact-Jaccard
    verification side's tok rollup."""
    from ocr_spark.plans.sketches import docs_kmv_resemblance

    plan = fmt(docs_kmv_resemblance(spark, SF))
    assert plan.count("TakeOrderedAndProject") >= 3
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_hll_by_lang_no_single_partition(spark):
    """The grouped-sketch form never collapses to one partition: the
    register rollup keys on (lang, reg) and the per-language fold keys
    on lang."""
    from ocr_spark.plans.sketches import docs_hll_by_lang

    plan = fmt(docs_hll_by_lang(spark, SF))
    assert "hashpartitioning(lang" in plan
    assert "SinglePartition" not in plan
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1


def test_cms_heavy_hitters_broadcast_sketch_and_topk(spark):
    """The 1024-counter sketch broadcasts to the candidate join, and
    the exact top-k verification side uses TakeOrdered, never a
    single-partition global sort."""
    from ocr_spark.plans.sketches import docs_cms_heavy_hitters

    plan = fmt(docs_cms_heavy_hitters(spark, SF))
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "SinglePartition" not in plan


def test_cluster_balanced_sample_cap_binds_and_is_windowed(spark):
    """The per-cell diversity cap must BIND on the fixture (both kept
    outcomes exist; no cell exceeds the cap), exactly one rank window
    keyed cell does the capping (the docs_host_cap shape — the window
    exchange is the only distributed shuffle past the assignment's
    broadcast narrow map), and the kept set is the md5-ordered prefix
    of each cell."""
    from ocr_spark.plans.simsearch import (
        CLUSTER_SAMPLE_CAP, emb_cluster_balanced_sample)

    df = emb_cluster_balanced_sample(spark, SF)
    plan = fmt(df)
    assert "CartesianProduct" not in plan, plan
    assert "Window" in plan
    single = plan.count("Arguments: SinglePartition")
    assert n_shuffles(plan) - single <= 1, plan

    rows = df.collect()
    kept = [r for r in rows if r["kept"]]
    dropped = [r for r in rows if not r["kept"]]
    assert kept and dropped  # the cap binds
    per_cell: dict = {}
    for r in kept:
        per_cell[r["cell"]] = per_cell.get(r["cell"], 0) + 1
    assert max(per_cell.values()) == CLUSTER_SAMPLE_CAP
    # kept = exact rank prefix per cell
    for r in rows:
        assert r["kept"] == (r["pick_rank"] <= CLUSTER_SAMPLE_CAP)


def test_cluster_quota_sample_realizes_spec(spark):
    """Per-cell kept counts must equal min(quota, cell size) — the
    quota JOIN is load-bearing (at least two distinct realized kept
    counts across cells, or the spec degenerates to a constant cap)."""
    from ocr_spark.plans.simsearch import (
        CLUSTER_QUOTA_SPEC, emb_cluster_quota_sample)

    rows = emb_cluster_quota_sample(spark, SF).collect()
    spec = dict(CLUSTER_QUOTA_SPEC)
    size: dict = {}
    kept: dict = {}
    for r in rows:
        size[r["cell"]] = size.get(r["cell"], 0) + 1
        if r["kept"]:
            kept[r["cell"]] = kept.get(r["cell"], 0) + 1
        assert r["quota"] == spec[r["cell"]]
        assert r["kept"] == (r["pick_rank"] <= r["quota"])
    for c, n in size.items():
        assert kept.get(c, 0) == min(spec[c], n), (c, n, spec[c])
    assert len(set(kept.values())) >= 2


def test_eval_tokenf1_pipeline_beats_striptags_strawman(spark):
    """Extraction scoring must separate extractors: the full pipeline
    has recall 1.0 (byte-identity gate) and imperfect precision (title
    + optional heading/closing/disclaimer/bullet tokens), while a
    naive strip-tags strawman (nav/ads/sidebar/footer kept) must lose
    on precision for EVERY document and never win on F1."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract_queries import (
        extract_eval_tokenf1, pages_from_documents, token_prf)

    res = {r["url"]: r for r in extract_eval_tokenf1(spark, SF).collect()}
    assert len(res) == 500
    assert all(r["token_recall"] == 1.0 for r in res.values())
    assert all(0.0 < r["token_precision"] < 1.0 for r in res.values())
    assert all(r["n_overlap"] == r["n_gold"] for r in res.values())

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    gold = docs.select(
        F.concat(F.lit("doc://"), F.col("doc_id").cast("string"))
         .alias("url"), "text")
    pages = pages_from_documents(spark, SF)
    html = F.decode(F.col("html"), "UTF-8")
    stripped = F.regexp_replace(
        F.regexp_replace(html, r"(?s)<(script|style)[^>]*>.*?</\1>", " "),
        r"<[^>]*>", " ")
    straw = {r["url"]: r for r in token_prf(
        gold, pages.select("url", stripped.alias("text"))).collect()}
    assert set(straw) == set(res)
    for url, r in res.items():
        assert straw[url]["token_precision"] < r["token_precision"], url
        assert straw[url]["token_f1"] <= r["token_f1"], url


def test_mutual_knn_prunes_asymmetric_edges(spark):
    """Mutuality must be load-bearing: every mutual edge appears in
    BOTH directed top-k lists, and a strict majority... at minimum a
    nonzero set of directed kNN edges is NOT mutual (the hub edges the
    filter exists to prune). Symmetry and rank bounds pinned."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import (
        MUTUAL_BLOCK, MUTUAL_K, _dot, _norm, _vecd, emb_mutual_knn, t)

    pairs = emb_mutual_knn(spark, SF).collect()
    assert pairs
    for r in pairs:
        assert r["a_id"] < r["b_id"]
        assert 1 <= r["rank_ab"] <= MUTUAL_K
        assert 1 <= r["rank_ba"] <= MUTUAL_K

    # rebuild the directed kNN edge set independently
    emb = (t(spark, SF).select("vec_id", _vecd().alias("v"))
           .withColumn("nrm", _norm(F.col("v")))
           .filter(F.col("vec_id") < MUTUAL_BLOCK))
    right = emb.select(F.col("vec_id").alias("b_id"),
                       F.col("v").alias("bv"), F.col("nrm").alias("bn"))
    cos = _dot(F.col("v"), F.col("bv")) / (F.col("nrm") * F.col("bn"))
    w = Window.partitionBy("a_id").orderBy(
        F.desc("cos6"), F.asc("b_id"))
    knn = (emb.join(F.broadcast(right), F.col("vec_id") != F.col("b_id"))
           .select(F.col("vec_id").alias("a_id"), "b_id",
                   F.round(cos, 6).alias("cos6"))
           .withColumn("rank", F.row_number().over(w))
           .filter(F.col("rank") <= MUTUAL_K))
    directed = {(r["a_id"], r["b_id"]) for r in knn.collect()}
    mutual = {(r["a_id"], r["b_id"]) for r in pairs}
    for a, b in mutual:
        assert (a, b) in directed and (b, a) in directed
    n_mutual_directed = 2 * len(mutual)
    assert n_mutual_directed < len(directed)  # asymmetric edges exist


def test_host_perplexity_buckets_consistent_with_doc_scores(spark):
    """The host rollup must be the token-weighted mean of its docs'
    scores (recomputed independently from docs_unigram_logprob's
    output), every host bucketed, and the tercile boundary real: every
    head host scores >= every tail host."""
    from collections import defaultdict

    from ocr_spark.plans.curation import (
        docs_unigram_logprob, hosts_perplexity_buckets)

    hosts = {r["host"]: r for r in
             hosts_perplexity_buckets(spark, SF).collect()}
    assert len(hosts) == 13
    assert {r["bucket"] for r in hosts.values()} == \
        {"head", "middle", "tail"}

    per_doc = docs_unigram_logprob(spark, SF).collect()
    acc: dict = defaultdict(lambda: [0, 0, 0.0])
    for r in per_doc:
        h = f"site{r['doc_id'] % 13}.example.com"
        acc[h][0] += 1
        acc[h][1] += r["n_tokens"]
        acc[h][2] += r["avg_logprob"] * r["n_tokens"]
    for h, r in hosts.items():
        n_docs, n_toks, wsum = acc[h]
        assert r["n_docs"] == n_docs and r["n_tokens"] == n_toks
        assert abs(r["host_avg_logprob"] - wsum / n_toks) < 1e-3, h
    head = [r["host_avg_logprob"] for r in hosts.values()
            if r["bucket"] == "head"]
    tail = [r["host_avg_logprob"] for r in hosts.values()
            if r["bucket"] == "tail"]
    assert min(head) >= max(tail)


def test_lsh_band_planner_scurve_properties(spark):
    """The S-curve table must be internally coherent: P monotone in s
    for fixed plan, more bands = more permissive at fixed s, the
    active plan marked exactly once per sim row, and each threshold in
    (0, 1] sitting where the curve crosses ~0.5 (P(threshold) within a
    wide band around 0.5 for multi-band plans)."""
    from collections import defaultdict

    from ocr_spark.plans.dataops import LSH_BANDS, docs_lsh_band_planner

    rows = docs_lsh_band_planner(spark, SF).collect()
    by_plan: dict = defaultdict(list)
    for r in rows:
        by_plan[(r["bands"], r["rows_per_band"])].append(r)
        assert r["active_plan"] == (r["bands"] == LSH_BANDS)
        assert 0.0 <= r["p_candidate"] <= 1.0
        assert 0.0 < r["threshold"] <= 1.0
    for plan, rs in by_plan.items():
        rs.sort(key=lambda r: r["sim"])
        ps = [r["p_candidate"] for r in rs]
        assert ps == sorted(ps), plan        # monotone in s
    # more bands → more candidates at the same similarity
    mid = {p: [r for r in rs if abs(r["sim"] - 0.5) < 1e-9][0]
           for p, rs in by_plan.items()}
    ordered = sorted(mid.items())
    for (p1, r1), (p2, r2) in zip(ordered, ordered[1:]):
        assert r1["p_candidate"] <= r2["p_candidate"]


def test_semantic_decon_broadcasts_eval_side(spark):
    """The eval set must broadcast (BroadcastNestedLoopJoin — the
    corpus side streams, no shuffle of the big table) and the
    nearest-eval election is a single partial-aggregated groupBy:
    exactly one shuffle exchange in the whole plan. Flags recompute
    from scratch, both classes populated, eval rows excluded."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import (
        SEM_DECON_COS, SEM_DECON_EVAL_MOD, _dot, _norm, _vecd,
        emb_decontaminate_semantic, t)

    df = emb_decontaminate_semantic(spark, SF)
    plan = fmt(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan
    assert n_shuffles(plan) == 1
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_max" in simple

    rows = {r["vec_id"]: r for r in df.collect()}
    flagged = [r for r in rows.values() if r["is_contaminated"]]
    clean = [r for r in rows.values() if not r["is_contaminated"]]
    assert flagged and clean
    for r in rows.values():
        assert r["vec_id"] % SEM_DECON_EVAL_MOD != 0
        assert r["nearest_eval_id"] % SEM_DECON_EVAL_MOD == 0
        # flag is decided on the 6-dp cosine; max_cos is its 4-dp view
        if r["is_contaminated"]:
            assert r["max_cos"] >= SEM_DECON_COS - 5e-5
        else:
            assert r["max_cos"] <= SEM_DECON_COS + 5e-5

    # independent recompute of one flagged and one clean vector
    emb = (t(spark, SF).select("vec_id", _vecd().alias("v"))
           .withColumn("nrm", _norm(F.col("v"))))
    ev = emb.filter(F.col("vec_id") % SEM_DECON_EVAL_MOD == 0).select(
        F.col("vec_id").alias("eid"), F.col("v").alias("evv"),
        F.col("nrm").alias("evn"))
    for probe in (flagged[0], clean[0]):
        cos = F.round(_dot(F.col("v"), F.col("evv"))
                      / (F.col("nrm") * F.col("evn")), 6)
        got = (emb.filter(F.col("vec_id") == probe["vec_id"])
               .crossJoin(F.broadcast(ev))
               .select("eid", cos.alias("c"))
               .orderBy(F.desc("c"), F.asc("eid")).first())
        assert got["eid"] == probe["nearest_eval_id"]
        assert abs(round(got["c"], 4) - probe["max_cos"]) < 1e-9


def test_script_profile_zero_shuffle_and_classes(spark):
    """Script profiling is a pure narrow map (no exchange); every
    synthetic class materializes: Cyrillic/Greek/Han dominant docs,
    the homoglyph-mixed class flagged, plain English unflagged."""
    from ocr_spark.plans.dataops import _SCRIPT_MOD, docs_script_profile

    df = docs_script_profile(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    rows = df.collect()
    by_m = {}
    for r in rows:
        by_m.setdefault(r["doc_id"] % _SCRIPT_MOD, []).append(r)
        s = (r["latin_frac"] + r["cyrillic_frac"]
             + r["greek_frac"] + r["han_frac"])
        assert s <= 1.0 + 5e-4
    assert all(r["dominant_script"] == "cyrillic" for r in by_m[3])
    assert all(r["dominant_script"] == "greek" for r in by_m[6])
    assert all(r["dominant_script"] == "han" for r in by_m[9])
    assert all(r["is_mixed_script"] for r in by_m[12])
    # the homoglyph class is Latin-dominant with Cyrillic salt — the
    # signature langid alone cannot see
    assert all(r["dominant_script"] == "latin" and r["cyrillic_frac"] > 0
               for r in by_m[12])
    for m in (0, 1, 2):
        assert all(r["dominant_script"] == "latin"
                   and not r["is_mixed_script"] for r in by_m[m])


def test_pca_power_dominant_direction(spark):
    """The returned component is unit-norm; the Rayleigh eigenvalue is
    sandwiched correctly (at least the largest single-axis variance —
    the dominant eigenvalue dominates every diagonal covariance entry —
    and at most the total variance); mu and v enter each round as plan
    LITERALS (bounded-metadata collects), so the final plan has NO join
    at all — one scan, one aggregate."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import _vecd, emb_pca_power, t

    df = emb_pca_power(spark, SF)
    plan = fmt(df)
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert n_shuffles(plan) <= 1
    rows = df.collect()
    assert len(rows) == 64
    comp = [r["component"] for r in sorted(rows, key=lambda r: r["pos"])]
    assert abs(sum(c * c for c in comp) - 1.0) < 1e-3
    ev = rows[0]["eigenvalue"]
    tot = rows[0]["total_variance"]
    assert rows[0]["explained_frac"] > 1.0 / 64
    # independent per-axis variance bound
    emb = t(spark, SF).select(F.posexplode(_vecd()).alias("pos", "x"))
    axis = (emb.groupBy("pos")
            .agg((F.avg(F.col("x") * F.col("x"))
                  - F.avg("x") * F.avg("x")).alias("var"))
            .agg(F.max("var").alias("mx")).first())
    assert ev >= axis["mx"] - 1e-6
    assert ev <= tot + 1e-6


def test_abtt_pythagorean_identity_and_narrow_map(spark):
    """ABTT removal: norm²_after = norm²_before − s² (v is unit —
    Pythagorean split of the projection), the removed-energy fraction
    is consistent, the corpus-wide mean projection shrinks the
    dominant direction to ~zero, and the postprocess adds no joins
    (literal v, narrow map)."""
    from ocr_spark.plans.simsearch import emb_abtt_postprocess

    df = emb_abtt_postprocess(spark, SF)
    plan = fmt(df)
    assert "Join" not in plan
    rows = df.collect()
    assert len(rows) == 500
    for r in rows:
        assert abs((r["norm2_before"] - r["projection"] ** 2)
                   - r["norm2_after"]) < 2e-3
        if r["norm2_before"] > 0:
            assert abs(r["energy_removed_frac"]
                       - r["projection"] ** 2 / r["norm2_before"]) < 2e-3
    # centered data: mean projection on any fixed direction ≈ 0, while
    # mean |projection| is substantially positive (the direction holds
    # real variance)
    n = len(rows)
    mean_s = sum(r["projection"] for r in rows) / n
    mean_abs = sum(abs(r["projection"]) for r in rows) / n
    assert abs(mean_s) < 0.05 and mean_abs > 0.05


def test_bigram_kn_held_out_backoff_and_preagg(spark):
    """Kneser-Ney: training-half docs score with zero unseen mass (the
    LM saw every one of their bigrams); the held-out half genuinely
    exercises both backoff tiers; log-probs are finite and negative.
    The probe side keeps the round-3 skew pin (map-side partial
    aggregate before the count-table joins)."""
    from ocr_spark.plans.curation import LM_TRAIN_MOD, docs_bigram_kneser_ney

    df = docs_bigram_kneser_ney(spark, SF)
    assert "partial_sum" in fmt(df).lower()
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["avg_logprob"] < 0
        assert 0.0 <= r["unseen_bigram_frac"] <= 1.0
        assert r["unseen_ctx_frac"] <= r["unseen_bigram_frac"]
        if r["doc_id"] % LM_TRAIN_MOD == 0:
            assert r["unseen_bigram_frac"] == 0.0
            assert r["unseen_ctx_frac"] == 0.0
    held = [r for r in rows if r["doc_id"] % LM_TRAIN_MOD != 0]
    assert any(r["unseen_bigram_frac"] > 0 for r in held)


def test_span_corruption_plan_is_consistent_and_narrow(spark):
    """The deterministic corruption plan must be a zero-shuffle narrow
    map, and per document: spans sorted by id are non-overlapping,
    inside the token range, sum exactly to n_masked, and the packer
    budget identities hold (inputs = n - masked + spans; targets =
    masked + spans + 1)."""
    from collections import defaultdict

    from ocr_spark.plans.curation import (
        CORRUPT_MIN_TOKENS, docs_span_corruption,
    )

    df = docs_span_corruption(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    by_doc = defaultdict(list)
    for r in df.collect():
        by_doc[r["doc_id"]].append(r)
    assert by_doc
    for doc_id, spans in by_doc.items():
        spans.sort(key=lambda r: r["span_id"])
        head = spans[0]
        assert head["n_tokens"] >= CORRUPT_MIN_TOKENS
        assert len(spans) == head["n_spans"]
        assert sum(r["span_len"] for r in spans) == head["n_masked"]
        assert head["inputs_len"] == (head["n_tokens"] - head["n_masked"]
                                      + head["n_spans"])
        assert head["targets_len"] == head["n_masked"] + head["n_spans"] + 1
        prev_end = 0
        for r in spans:
            assert r["span_len"] >= 1
            assert r["start_tok"] >= prev_end
            prev_end = r["start_tok"] + r["span_len"]
            assert r["sentinel"] == f"<extra_id_{r['span_id']}>"
        assert prev_end <= head["n_tokens"]


def test_quantization_error_bounds_and_shape(spark):
    """Distortion report is a zero-shuffle narrow map; int8 scalar
    error respects its half-step analytic bound per vector
    (DIM * (scale/255/2 + eps)^2), and on this corpus the 8-byte PQ
    codec always loses to 72-byte int8 — the size/distortion trade the
    report exists to show."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import (
        DIM, _vecd, emb_quantization_error, t,
    )

    df = emb_quantization_error(spark, SF)
    assert n_shuffles(fmt(df)) == 0
    scales = {r["vec_id"]: r["s"] for r in (
        t(spark, SF).select(
            "vec_id",
            (F.array_max(_vecd()) - F.array_min(_vecd())).alias("s"))
        .collect())}
    rows = df.collect()
    assert len(rows) == len(scales)
    for r in rows:
        assert 0.0 <= r["sq_err"]
        bound = DIM * (scales[r["vec_id"]] / 255.0 / 2.0 + 1e-9) ** 2
        assert r["sq_err"] <= bound * 1.001
        assert r["pq_err"] > r["sq_err"]
        assert r["lower_distortion"] == "sq_int8"
        assert r["sq_bytes"] == DIM + 8 and r["pq_bytes"] == 8


def test_ann_recall_eval_scorecard_consistency(spark):
    """Both ANN families get per-query rows plus one mean row; hit
    counts never exceed returns or depth; mean rows are exact sums /
    averages of the per-query rows; both indexes recover something."""
    from collections import defaultdict

    from ocr_spark.plans.simsearch import (
        IVF_TOPK, MULTIPROBE_TOPK, N_QUERIES, TOPK, emb_ann_recall_eval,
    )

    rows = emb_ann_recall_eval(spark, SF).collect()
    by_method = defaultdict(list)
    for r in rows:
        by_method[r["method"]].append(r)
    assert set(by_method) == {"ivf_trained", "lsh_multiprobe"}
    depth = {"ivf_trained": min(IVF_TOPK, TOPK),
             "lsh_multiprobe": min(MULTIPROBE_TOPK, TOPK)}
    for method, rs in by_method.items():
        per = [r for r in rs if r["q_id"] >= 0]
        means = [r for r in rs if r["q_id"] == -1]
        assert len(per) == N_QUERIES and len(means) == 1
        for r in per:
            assert 0 <= r["n_hits"] <= r["n_returned"] <= depth[method]
            assert 0.0 <= r["recall"] <= 1.0
        m = means[0]
        assert m["n_hits"] == sum(r["n_hits"] for r in per)
        assert m["n_returned"] == sum(r["n_returned"] for r in per)
        assert abs(m["recall"]
                   - sum(r["recall"] for r in per) / len(per)) < 1e-3
        assert m["recall"] > 0, f"{method} recovered nothing"


def test_recrawl_delta_grades_all_three_change_classes(spark):
    """The delta estimator must grade the modeled cohorts correctly:
    unchanged recrawls → identical (Jaccard 1), the ' [updated]'
    append → minor_edit with high-but-<1 Jaccard, the token-reversed
    rewrite → rewrite with near-zero Jaccard (same unigrams, disjoint
    3-grams); one url-keyed exchange feeds the lag window."""
    from ocr_spark.plans.indexing import DELTA_MINOR_JAC, pages_recrawl_delta

    df = pages_recrawl_delta(spark, SF)
    rows = df.collect()
    assert rows
    def did(url):  # doc_id back out of the canonical url
        return int(url.rsplit("/", 1)[1])
    for r in rows:
        d = did(r["url"])
        if r["ts14"] == "20250201000000":
            assert r["identical"] and r["change_class"] == "identical"
            assert r["jaccard"] == 1.0 and d % 5 == 0
        elif r["ts14"] == "20250301000000":
            assert not r["identical"] and d % 7 == 0
            assert r["change_class"] == "minor_edit"
            assert DELTA_MINOR_JAC <= r["jaccard"] < 1.0
        elif r["ts14"] == "20250401000000":
            assert not r["identical"] and d % 11 == 3
            assert r["change_class"] == "rewrite"
            assert r["jaccard"] < 0.2
    classes = {r["change_class"] for r in rows}
    assert classes == {"identical", "minor_edit", "rewrite"}


def test_hard_negatives_exclude_positives_and_broadcast(spark):
    """Every mined negative carries a label different from its
    anchor's; ranks are dense per anchor; cosines non-increasing; the
    corpus side streams through a broadcast join (no corpus shuffle)."""
    from collections import defaultdict

    from ocr_spark.plans.simsearch import (
        HARDNEG_K, N_QUERIES, emb_hard_negatives,
    )

    df = emb_hard_negatives(spark, SF)
    assert "BroadcastNestedLoopJoin" in fmt(df)
    by_q = defaultdict(list)
    for r in df.collect():
        assert r["neg_label"] != r["q_label"]
        by_q[r["q_id"]].append(r)
    assert len(by_q) == N_QUERIES
    for rs in by_q.values():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, HARDNEG_K + 1))
        sims = [r["cos_sim"] for r in rs]
        assert sims == sorted(sims, reverse=True)


def test_label_retrieval_eval_identities(spark):
    """Per-query rows obey rr = 1/first_rel_rank and p@k = hits/k; the
    mean row is the exact average; on the clustered fixture the
    embedding must retrieve its own label above chance."""
    from ocr_spark.plans.simsearch import (
        N_QUERIES, RETRIEVAL_P_AT, emb_label_retrieval_eval,
    )

    rows = emb_label_retrieval_eval(spark, SF).collect()
    per = [r for r in rows if r["q_id"] >= 0]
    mean = [r for r in rows if r["q_id"] == -1]
    assert len(per) == N_QUERIES and len(mean) == 1
    for r in per:
        if r["first_rel_rank"] > 0:
            assert abs(r["reciprocal_rank"]
                       - 1.0 / r["first_rel_rank"]) < 1e-3
        else:
            assert r["reciprocal_rank"] == 0.0
        assert abs(r["p_at_k"]
                   - r["n_rel_at_k"] / RETRIEVAL_P_AT) < 1e-3
    m = mean[0]
    assert m["n_rel_at_k"] == sum(r["n_rel_at_k"] for r in per)
    assert abs(m["reciprocal_rank"]
               - sum(r["reciprocal_rank"] for r in per) / len(per)) < 1e-3
    assert m["reciprocal_rank"] > 0


def test_shards_skew_report_identities(spark):
    """Summary rows aggregate the per-shard rows exactly; skew ratio
    >= 1; underfull counts only sub-half-budget shards."""
    from collections import defaultdict

    from ocr_spark.plans.curation import (
        SHARD_TOKEN_BUDGET, shards_skew_report,
    )

    rows = shards_skew_report(spark, SF).collect()
    per = defaultdict(list)
    summ = {}
    for r in rows:
        if r["shard_id"] == -1:
            summ[r["lang"]] = r
        else:
            per[r["lang"]].append(r)
    assert set(per) == set(summ)
    for lang, rs in per.items():
        s = summ[lang]
        assert s["n_docs"] == sum(r["n_docs"] for r in rs)
        assert s["n_tokens"] == sum(r["n_tokens"] for r in rs)
        mean = s["n_tokens"] / len(rs)
        assert abs(s["skew_ratio"]
                   - max(r["n_tokens"] for r in rs) / mean) < 1e-3
        assert s["skew_ratio"] >= 1.0
        assert s["n_underfull"] == sum(
            r["n_tokens"] < SHARD_TOKEN_BUDGET * 0.5 for r in rs)


def test_mrl_recall_anchor_and_bounds(spark):
    """The full-dim tier must self-report recall 1.0 for every query
    (the scorecard's anchor), truncated tiers stay in [0,1] with
    overlap counting bounded by k, and the corpus side must not
    shuffle (query side broadcasts per tier)."""
    from ocr_spark.plans.simsearch import (
        DIM, MRL_DIMS, N_QUERIES, TOPK, emb_mrl_recall,
    )

    df = emb_mrl_recall(spark, "/root/testdata/sf0.001")
    plan = fmt(df)
    assert plan.count("BroadcastExchange") >= len(MRL_DIMS)
    rows = df.collect()
    assert len(rows) == len(MRL_DIMS) * N_QUERIES
    for r in rows:
        assert 0 <= r["n_overlap"] <= TOPK
        assert abs(r["recall_at_k"] - r["n_overlap"] / TOPK) < 1e-9
        if r["dim"] == DIM:
            assert r["n_overlap"] == TOPK


def test_markov_transitions_rowsum_and_session_scope(spark):
    """Transition probabilities must row-normalize to 1 per prev_type,
    and session scoping must hold exactly: every session of length L
    contributes L-1 transitions, so Σ n_trans == Σ events - Σ sessions
    (cross-checked against ev_sessionize's independent rollup)."""
    from ocr_spark.plans.queries import ev_markov_transitions, ev_sessionize

    rows = ev_markov_transitions(spark, SF).collect()
    assert rows
    by_prev: dict = {}
    for r in rows:
        by_prev.setdefault(r["prev_type"], []).append(r)
    for prev, rs in by_prev.items():
        assert abs(sum(x["p_trans"] for x in rs) - 1.0) < 1e-4, prev
    n_trans = sum(r["n_trans"] for r in rows)
    sess = ev_sessionize(spark, SF).collect()
    assert n_trans == sum(r["n_events"] for r in sess) \
        - sum(r["n_sessions"] for r in sess)


def test_extract_eval_cer_insertion_identity(spark):
    """On this corpus the gold text survives as one contiguous block,
    so the edit distance must equal the inserted-boilerplate mass
    exactly (lev == n_pred - n_gold) for EVERY document — and the
    underlying kernel must be a real DP, not a length difference
    (pinned on substitution/transposition pairs)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.extract_queries import extract_eval_cer

    rows = extract_eval_cer(spark, SF).collect()
    assert len(rows) == 500
    for r in rows:
        assert r["lev_dist"] == r["n_pred_chars"] - r["n_gold_chars"], r
        assert r["cer"] > 0.0
    pairs = spark.createDataFrame(
        [("kitten", "sitting"), ("abcd", "badc"), ("same", "same")],
        "a string, b string")
    got = [r["d"] for r in pairs.select(
        F.levenshtein("a", "b").alias("d")).collect()]
    assert got == [3, 3, 0]  # same lengths, nonzero distances


def test_pq_train_beats_seeded_codebooks_and_covers_corpus(spark):
    """PQ training must be load-bearing: the Lloyd-trained codebooks
    must reconstruct the corpus with LOWER total squared error than
    the seeded literal PQ_CODEBOOKS they replace (per subspace, summed
    over all vectors), membership must cover every vector in every
    subspace, and the codebook shape must be (m < PQ_M, cells <= PQ_K,
    PQ_DSUB positions each)."""
    import numpy as np

    from ocr_spark.plans.simsearch import (
        PQ_CODEBOOKS, PQ_DSUB, PQ_K, PQ_M, emb_pq_train, t, _vecd)
    from pyspark.sql import functions as F

    rows = emb_pq_train(spark, SF).collect()
    assert rows
    cb: dict = {}
    members: dict = {}
    for r in rows:
        assert 0 <= r["m"] < PQ_M
        assert 0 <= r["cell"] < PQ_K
        assert 0 <= r["pos"] < PQ_DSUB
        cb.setdefault((r["m"], r["cell"]), {})[r["pos"]] = r["cv"]
        members[(r["m"], r["cell"])] = r["n_members"]
    for key, comp in cb.items():
        assert len(comp) == PQ_DSUB, key
    n_vecs = t(spark, SF).count()
    per_m: dict = {}
    for (m, _c), n in members.items():
        per_m[m] = per_m.get(m, 0) + n
    assert all(v == n_vecs for v in per_m.values()), per_m

    vecs = np.array(
        [r["v"] for r in
         t(spark, SF).select(_vecd().alias("v")).collect()])
    for m in range(PQ_M):
        sub = vecs[:, m * PQ_DSUB:(m + 1) * PQ_DSUB]
        trained = np.array(
            [[cb[(m, c)][p] for p in range(PQ_DSUB)]
             for c in sorted(c2 for (m2, c2) in cb if m2 == m)])
        seeded = np.array(PQ_CODEBOOKS[m])

        def sse(codebook):
            d = ((sub[:, None, :] - codebook[None, :, :]) ** 2).sum(-1)
            return d.min(axis=1).sum()

        assert sse(trained) < sse(seeded), m


def test_quality_calibration_bins_and_monotone_score(spark):
    """Deciles must partition the corpus evenly, and mean_score must
    be nondecreasing in the decile by construction (bins are ordered
    by score) — a violated monotonicity means the binning broke."""
    from ocr_spark.plans.curation import CAL_BINS, docs_quality_calibration

    rows = sorted(docs_quality_calibration(spark, SF).collect(),
                  key=lambda r: r["decile"])
    assert [r["decile"] for r in rows] == list(range(1, CAL_BINS + 1))
    assert sum(r["n_docs"] for r in rows) == 500
    assert max(r["n_docs"] for r in rows) \
        - min(r["n_docs"] for r in rows) <= 1
    for a, b in zip(rows, rows[1:]):
        assert a["mean_score"] <= b["mean_score"]
    for r in rows:
        assert 0.0 <= r["keep_rate"] <= 1.0
        assert r["n_keep"] <= r["n_docs"]


def test_contrastive_batches_never_collide_clusters(spark):
    """The hard guarantee: no batch may contain two members of the
    same near-dup cluster (that would mint false negatives for
    in-batch contrastive training). Load-bearing only if multi-member
    clusters exist — asserted too."""
    from ocr_spark.plans.dataops import (
        CB_MIN_BATCHES, docs_contrastive_batches)

    rows = docs_contrastive_batches(spark, SF).collect()
    assert len(rows) == 500
    seen = set()
    csize: dict = {}
    bsize: dict = {}
    for r in rows:
        key = (r["cluster"], r["batch_id"])
        assert key not in seen, key
        seen.add(key)
        csize[r["cluster"]] = csize.get(r["cluster"], 0) + 1
        bsize[r["batch_id"]] = bsize.get(r["batch_id"], 0) + 1
    assert max(csize.values()) >= 2        # fixture has real clusters
    nb = max(CB_MIN_BATCHES, max(csize.values()))
    assert all(0 <= b < nb for b in bsize)
    assert len(bsize) == nb                # every batch is used


def test_sft_format_mask_spans_and_byte_pin(spark):
    """Loss-mask arithmetic must be internally consistent, truncation
    must respect the budget AND word boundaries, and rendered_md5 must
    match a pure-Python re-rendering byte-for-byte."""
    import hashlib

    import pandas as pd

    from ocr_spark.plans.curation import (
        SFT_END, SFT_MAX_RESPONSE, SFT_USER_POST, SFT_USER_PRE,
        docs_sft_format)

    rows = {r["doc_id"]: r for r in docs_sft_format(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    n_trunc = 0
    for _, d in docs.iterrows():
        r = rows[d["doc_id"]]
        assert r["loss_end"] - r["loss_start"] == r["response_chars"]
        prompt = f"{SFT_USER_PRE}{d['doc_id']}{SFT_USER_POST}"
        assert r["loss_start"] == len(prompt)
        text = d["text"]
        if len(text) > SFT_MAX_RESPONSE:
            n_trunc += 1
            assert r["truncated"]
            head = text[:SFT_MAX_RESPONSE]
            cut = head.rfind(" ")
            resp = head[:cut] if cut >= 0 else head
            assert r["response_chars"] == len(resp) <= SFT_MAX_RESPONSE
            # never mid-word: next char in the original is part of the
            # dropped tail, and the response never ends with a space
            assert not resp.endswith(" ")
        else:
            assert not r["truncated"]
            resp = text
        md5 = hashlib.md5((prompt + resp + SFT_END).encode()).hexdigest()
        assert r["rendered_md5"] == md5, d["doc_id"]
    assert n_trunc > 0                     # truncation genuinely fires


def test_new_query_plan_shapes(spark):
    """Scale-shape gates for this session's additions: SFT rendering
    must stay a zero-shuffle narrow map; the CER eval must broadcast
    the gold side on top of the extraction job's pinned two shuffles;
    the Markov matrix must cost exactly one user-keyed window exchange
    plus the two tiny matrix aggregations; the subdomain rollup's PSL
    join must be a broadcast (nested-loop — endswith is non-equi)
    with its exchanges bounded."""
    import re as _re

    from ocr_spark.plans.curation import docs_sft_format
    from ocr_spark.plans.extract_queries import extract_eval_cer
    from ocr_spark.plans.queries import ev_markov_transitions
    from ocr_spark.plans.webops import hosts_subdomain_explosion

    def fmt(df):
        qe = df._jdf.queryExecution()
        return df._sc._jvm.org.apache.spark.sql.api.python \
            .PythonSQLUtils.explainString(qe, "formatted")

    def n_sh(p):
        return len(_re.findall(r"\(\d+\) Exchange\b", p))

    assert n_sh(fmt(docs_sft_format(spark, SF))) == 0
    cer = fmt(extract_eval_cer(spark, SF))
    assert n_sh(cer) == 2                    # the extraction job's own
    assert "BroadcastHashJoin" in cer        # gold side broadcasts
    assert n_sh(fmt(ev_markov_transitions(spark, SF))) == 3
    sub = fmt(hosts_subdomain_explosion(spark, SF))
    assert "BroadcastNestedLoopJoin" in sub  # PSL endswith join
    assert n_sh(sub) <= 4


def test_ivfpq_residual_contract_and_probe_discipline(spark):
    """Residual IVF-PQ must keep the exact contract of the raw
    variant (same query set, same rank bounds, neighbors only from
    probed cells — checked implicitly by the shared plan), its ADC
    distances must be nonnegative, and the exact-cosine re-rank must
    dominate the output ordering. The fidelity comparison vs the raw
    variant is recorded in BENCH/residual_adc.json (neutral with
    seeded codebooks, by design — see docstring)."""
    from ocr_spark.plans.simsearch import (
        IVF_TOPK, N_QUERIES, emb_ivfpq_residual_topk)

    rows = emb_ivfpq_residual_topk(spark, SF).collect()
    assert rows
    by_q: dict = {}
    for r in rows:
        assert r["q_id"] < N_QUERIES
        assert 1 <= r["rank"] <= IVF_TOPK
        assert r["adc_dist"] >= 0.0
        by_q.setdefault(r["q_id"], []).append(r)
    for q, rs in by_q.items():
        rs.sort(key=lambda r: r["rank"])
        assert len(rs) == len({r["neighbor_id"] for r in rs})
        for a, b in zip(rs, rs[1:]):
            assert (a["cos_sim"], -a["neighbor_id"]) \
                >= (b["cos_sim"], -b["neighbor_id"])


def test_top_paths_shape_and_vocabulary(spark):
    """Paths must be bounded at EV_PATH_LEN segments, drawn from the
    event-type vocabulary, ranked deterministically 1..EV_TOP_PATHS,
    and counts must be nonincreasing in rank."""
    from ocr_spark.plans.queries import EV_PATH_LEN, EV_TOP_PATHS, ev_top_paths, t

    rows = sorted(ev_top_paths(spark, SF).collect(),
                  key=lambda r: r["rank"])
    assert [r["rank"] for r in rows] == list(range(1, EV_TOP_PATHS + 1))
    vocab = {r["event_type"] for r in
             t(spark, SF, "events").select("event_type")
             .distinct().collect()}
    for a, b in zip(rows, rows[1:]):
        assert a["n_sessions"] >= b["n_sessions"]
    for r in rows:
        segs = r["path"].split(">")
        assert 1 <= len(segs) <= EV_PATH_LEN
        assert set(segs) <= vocab


def test_dp_histogram_mechanism_identity(spark):
    """The release must satisfy its own arithmetic: released_count ==
    max(0, round(n_docs + noise)) per row, noise must be genuinely
    nonzero (the mechanism isn't a passthrough), and the budget column
    must carry the declared epsilon."""
    from ocr_spark.plans.curation import DP_EPSILON, docs_dp_lang_histogram

    rows = docs_dp_lang_histogram(spark, SF).collect()
    assert rows
    for r in rows:
        assert r["epsilon"] == DP_EPSILON
        want = max(0, round(r["n_docs"] + r["noise"]))
        assert abs(r["released_count"] - want) <= 1  # ±1 for the 6-dp noise view
    assert any(abs(r["noise"]) > 1e-6 for r in rows)
    assert any(r["released_count"] != r["n_docs"] for r in rows)


def test_preference_pairs_mirror_matching(spark):
    """Every pair must rank chosen strictly above rejected under the
    deterministic (score desc, doc_id) order, no document may appear
    in two pairs, per-language pair count must be floor(n/2), and
    gaps must be nonincreasing in pair_idx (mirror matching pairs the
    extremes first)."""
    from ocr_spark.plans.curation import (
        docs_classifier_score, docs_preference_pairs)

    pairs = docs_preference_pairs(spark, SF).collect()
    assert pairs
    seen: set = set()
    by_lang: dict = {}
    for p in pairs:
        assert (p["chosen_score"], -p["chosen_doc_id"]) \
            > (p["rejected_score"], -p["rejected_doc_id"])
        for d in (p["chosen_doc_id"], p["rejected_doc_id"]):
            assert d not in seen
            seen.add(d)
        by_lang.setdefault(p["lang"], []).append(p)
    n_lang = {r["lang"]: 0 for r in pairs}
    for r in docs_classifier_score(spark, SF).collect():
        if r["lang"] in n_lang:
            n_lang[r["lang"]] += 1
    for lang, ps in by_lang.items():
        assert len(ps) == n_lang[lang] // 2, lang
        ps.sort(key=lambda p: p["pair_idx"])
        for a, b in zip(ps, ps[1:]):
            assert a["score_gap"] >= b["score_gap"]
    assert any(p["usable"] for p in pairs)


def test_kcenter_init_radii_nonincreasing_and_distinct(spark):
    """Gonzalez selection invariants: K distinct seeds, round ids
    0..K-1, and the selection radii nonincreasing (each new seed is
    the farthest point from a GROWING set) with every later seed at
    least as close to the set as the radius that admitted it."""
    from ocr_spark.plans.simsearch import KM_K, emb_kcenter_init

    rows = sorted(emb_kcenter_init(spark, SF).collect(),
                  key=lambda r: r["round"])
    assert [r["round"] for r in rows] == list(range(KM_K))
    assert len({r["seed_vec_id"] for r in rows}) == KM_K
    radii = [r["radius2"] for r in rows[1:]]
    assert all(x > 0 for x in radii)
    for a, b in zip(radii, radii[1:]):
        assert a >= b


def test_rfm_segments_bins_and_code(spark):
    """Each axis must quintile the user base evenly (±1), the segment
    code must be the concatenation of its bins, and the best segment
    must dominate the worst on every raw metric."""
    from ocr_spark.plans.queries import RFM_BINS, ev_rfm_segments

    rows = ev_rfm_segments(spark, SF).collect()
    n = len(rows)
    assert n > 0
    for axis in ("r_bin", "f_bin", "m_bin"):
        counts: dict = {}
        for r in rows:
            assert 1 <= r[axis] <= RFM_BINS
            counts[r[axis]] = counts.get(r[axis], 0) + 1
        assert max(counts.values()) - min(counts.values()) <= 1, axis
    for r in rows:
        assert r["segment"] == f"{r['r_bin']}{r['f_bin']}{r['m_bin']}"
    best = [r for r in rows if r["segment"] == "555"]
    worst = [r for r in rows if r["segment"] == "111"]
    if best and worst:
        assert min(b["frequency"] for b in best) \
            >= max(w["frequency"] for w in worst)
        assert min(b["monetary"] for b in best) \
            >= max(w["monetary"] for w in worst)


def test_paginate_stitch_byte_parity_and_shape(spark):
    """Many-pages-to-one reassembly must reproduce the original text
    byte-for-byte for EVERY document (md5 compare against the source
    table) with exactly 3 parts per base url."""
    import hashlib

    import pandas as pd

    from ocr_spark.plans.extract_queries import pages_paginate_stitch

    rows = {r["base_url"]: r
            for r in pages_paginate_stitch(spark, SF).collect()}
    docs = pd.read_parquet(f"{SF}/documents.parquet")
    assert len(rows) == len(docs)
    for _, d in docs.iterrows():
        u = (f"https://site{d['doc_id'] % 13}.example.com"
             f"/doc/{d['doc_id']}")
        r = rows[u]
        assert r["n_parts"] == 3
        assert r["stitched_len"] == len(d["text"])
        assert r["stitched_md5"] \
            == hashlib.md5(d["text"].encode()).hexdigest()


def test_thread_explode_offsets_slice_the_page(spark):
    """One-page-to-many extraction: rebuilding each thread body in
    Python, every emitted (char_start, post_len) span must slice out
    exactly the post whose md5 was emitted."""
    import hashlib

    import pandas as pd

    from ocr_spark.plans.extract_queries import (
        THREAD_POSTS, pages_thread_explode)

    rows = pages_thread_explode(spark, SF).collect()
    docs = pd.read_parquet(f"{SF}/documents.parquet") \
        .sort_values("doc_id")
    bodies: dict = {}
    for _, d in docs.iterrows():
        tid = d["doc_id"] // THREAD_POSTS
        bodies[tid] = bodies.get(tid, "") \
            + f"<post id={d['doc_id']}>{d['text']}</post>"
    assert len(rows) == len(docs)
    for r in rows:
        body = bodies[r["thread_id"]]
        s = r["char_start"] - 1          # 1-based → 0-based
        span = body[s:s + r["post_len"]]
        assert hashlib.md5(span.encode()).hexdigest() == r["post_md5"]
        assert body[s - 1] == ">" and body[s + r["post_len"]:][:2] == "</"


def test_markov_stationary_is_fixed_point_and_conserves_mass(spark):
    """The power-method output must (a) keep total mass within the
    documented truncation drift of 1.0 (a few micro-units per round,
    never more than MK_ITERS * n_states), (b) be an approximate fixed
    point of the transition matrix: one more exact-arithmetic step in
    Python moves every state by at most a few parts in 1e4."""
    from ocr_spark.plans.queries import (
        MK_ITERS, MK_P_SCALE, MK_PI_SCALE, ev_markov_stationary,
        ev_markov_transitions)

    pi = {r["state"]: r for r in ev_markov_stationary(spark, SF).collect()}
    n = len(pi)
    drift = MK_PI_SCALE - next(iter(pi.values()))["pi_sum_micro"]
    assert abs(drift) <= MK_ITERS * n * MK_P_SCALE // 1000 + n * MK_ITERS
    m = ev_markov_transitions(spark, SF).collect()
    nxt: dict = {s: 0 for s in pi}
    for r in m:
        pmic = round(r["p_trans"] * MK_P_SCALE)
        nxt[r["next_type"]] += (pi[r["prev_type"]]["pi_micro"]
                                * pmic) // MK_P_SCALE
    for s, r in pi.items():
        assert abs(nxt[s] - r["pi_micro"]) / MK_PI_SCALE < 5e-4, s


def test_stopword_induction_ranks_df_not_tf(spark):
    """Induced stopwords must be ranked by DOCUMENT frequency: every
    reported df_frac must be <= 1, ranks dense 1..K per language, and
    the rank-1 token's doc frequency must dominate its language's
    listed tail."""
    from ocr_spark.plans.dataops import STOPW_K, docs_stopword_induction

    rows = docs_stopword_induction(spark, SF).collect()
    by_lang: dict = {}
    for r in rows:
        assert 0.0 < r["df_frac"] <= 1.0
        by_lang.setdefault(r["lang"], []).append(r)
    for lang, rs in by_lang.items():
        rs.sort(key=lambda r: r["rank"])
        assert [r["rank"] for r in rs] == list(range(1, STOPW_K + 1))
        for a, b in zip(rs, rs[1:]):
            assert a["n_docs_with"] >= b["n_docs_with"]


def test_canary_probe_controls(spark):
    """The decon control harness must behave like controls: the
    positive canary (a real doc's leading n-gram window) detected,
    every nonce negative undetected."""
    from ocr_spark.plans.curation import CANARY_NEG, docs_canary_probe

    rows = {r["canary_id"]: r for r in
            docs_canary_probe(spark, SF).collect()}
    assert len(rows) == CANARY_NEG + 1
    assert rows[0]["kind"] == "positive" and rows[0]["detected"]
    assert rows[0]["n_matching_docs"] >= 1
    for i in range(1, CANARY_NEG + 1):
        assert rows[i]["kind"] == "negative"
        assert not rows[i]["detected"]
        assert rows[i]["n_matching_docs"] == 0


def test_metric_correlations_bounds_and_python_parity(spark):
    """Pearson values must be in [-1, 1] and match a numpy
    recomputation from the raw per-doc pairs to 6 decimals."""
    import numpy as np

    from ocr_spark.plans.curation import (
        docs_classifier_score, docs_metric_correlations)
    from pyspark.sql import functions as F

    got = {r["lang"]: r for r in
           docs_metric_correlations(spark, SF).collect()}
    docs = spark.read.parquet(f"{SF}/documents.parquet") \
        .select("doc_id", F.length("text").alias("x"))
    cls = docs_classifier_score(spark, SF) \
        .select("doc_id", "lang", "score")
    per = cls.join(docs, "doc_id").collect()
    by_lang: dict = {}
    for r in per:
        by_lang.setdefault(r["lang"], []).append(
            (r["x"], round(r["score"] * 1e6)))
    for lang, pairs in by_lang.items():
        xs = np.array([p[0] for p in pairs], dtype=float)
        ys = np.array([p[1] for p in pairs], dtype=float)
        want = float(np.corrcoef(xs, ys)[0, 1])
        r = got[lang]["pearson_len_score"]
        assert -1.0 <= r <= 1.0
        assert abs(r - want) < 1e-4, (lang, r, want)


def test_stickiness_bounds_and_warmup(spark):
    """DAU <= MAU always (stickiness in (0, 1]); on day 1 the
    trailing window holds only that day, so DAU == MAU there; MAU
    must be nondecreasing through the first window's warm-up."""
    from ocr_spark.plans.queries import ev_stickiness

    rows = sorted(ev_stickiness(spark, SF).collect(),
                  key=lambda r: r["day"])
    assert rows
    for r in rows:
        assert r["dau"] <= r["mau"]
        assert 0.0 < r["stickiness"] <= 1.0
    assert rows[0]["dau"] == rows[0]["mau"]
    warm = rows[:min(len(rows), 30 - 1)]
    for a, b in zip(warm, warm[1:]):
        assert b["mau"] >= a["mau"]


def test_pq_residual_training_closes_the_fidelity_loop(spark):
    """The quantitative close of BENCH/residual_adc.json's neutral
    verdict: codebooks TRAINED on residual statistics must
    reconstruct the residuals with lower total squared error than
    both the seeded literal codebooks and the raw-vector-trained
    codebooks evaluated on the same residuals — i.e. residual IVF-PQ
    wins exactly when (and because) the codebooks are residual-
    trained."""
    import numpy as np

    from ocr_spark.plans.simsearch import (
        PQ_CODEBOOKS, PQ_DSUB, PQ_M, _kmeans, emb_pq_train,
        emb_pq_train_residual)

    cent, assigned = _kmeans(spark, SF)
    cents = {r["cell"]: np.array(r["cv"]) for r in cent.collect()}
    res = np.array([np.array(r["v"]) - cents[r["cell"]]
                    for r in assigned.collect()])

    def codebook_of(rows):
        cb: dict = {}
        for r in rows:
            cb.setdefault((r["m"], r["cell"]), {})[r["pos"]] = r["cv"]
        out = []
        for m in range(PQ_M):
            cells = sorted(c for (m2, c) in cb if m2 == m)
            out.append(np.array(
                [[cb[(m, c)][p] for p in range(PQ_DSUB)]
                 for c in cells]))
        return out

    trained_res = codebook_of(emb_pq_train_residual(spark, SF).collect())
    trained_raw = codebook_of(emb_pq_train(spark, SF).collect())
    seeded = [np.array(cb) for cb in PQ_CODEBOOKS]

    def sse(cbs):
        total = 0.0
        for m in range(PQ_M):
            sub = res[:, m * PQ_DSUB:(m + 1) * PQ_DSUB]
            d = ((sub[:, None, :] - cbs[m][None, :, :]) ** 2).sum(-1)
            total += d.min(axis=1).sum()
        return total

    s_res, s_raw, s_seed = sse(trained_res), sse(trained_raw), sse(seeded)
    assert s_res < s_raw, (s_res, s_raw)
    assert s_res < s_seed, (s_res, s_seed)


def test_mmr_select_diversity_is_load_bearing(spark):
    """MMR invariants: K distinct picks, round 0 is the plain
    relevance top-1, scores nonincreasing, and the diversity penalty
    must actually change the slate — the MMR picks must differ from
    the pure top-K by relevance (the fixture's clustered embeddings
    make pure top-K redundant)."""
    from pyspark.sql import functions as F

    from ocr_spark.plans.simsearch import (
        MMR_K, _dot, _norm, _vecd, emb_mmr_select, t)

    rows = sorted(emb_mmr_select(spark, SF).collect(),
                  key=lambda r: r["round"])
    assert len(rows) == MMR_K
    assert len({r["vec_id"] for r in rows}) == MMR_K
    for a, b in zip(rows, rows[1:]):
        assert a["mmr_score"] >= b["mmr_score"]
    emb = (t(spark, SF).select("vec_id", _vecd().alias("v"))
           .withColumn("nrm", _norm(F.col("v"))))
    q = emb.filter(F.col("vec_id") == 0).collect()[0]
    qlit = F.array(*[F.lit(float(x)) for x in q["v"]])
    rel = F.round(_dot(F.col("v"), qlit)
                  / (F.col("nrm") * F.lit(float(q["nrm"]))), 6)
    topk = [r["vec_id"] for r in
            emb.filter(F.col("vec_id") != 0)
            .select("vec_id", rel.alias("rel"))
            .orderBy(F.desc("rel"), F.asc("vec_id"))
            .limit(MMR_K).collect()]
    assert rows[0]["vec_id"] == topk[0]
    assert {r["vec_id"] for r in rows} != set(topk)


def test_funnel_latency_ordering_and_additivity(spark):
    """Stage-pair identities: view->purchase latency percentiles must
    dominate both legs (the composite path is never faster than
    either leg at the same percentile... only guaranteed for the SUM,
    so pin the sharp facts instead: all latencies positive,
    n_converted equal across pairs on this fixture (every click
    converter also purchases — asserted from the funnel itself), and
    p90 >= p50 per pair."""
    from ocr_spark.plans.relational_extra import (
        ev_funnel_conversion, ev_funnel_latency)

    rows = {r["stage_pair"]: r
            for r in ev_funnel_latency(spark, SF).collect()}
    assert set(rows) == {"view->click", "click->purchase",
                         "view->purchase"}
    for r in rows.values():
        assert r["p50_latency_s"] > 0
        assert r["p90_latency_s"] >= r["p50_latency_s"]
    funnel = ev_funnel_conversion(spark, SF).collect()
    n3 = sum(1 for r in funnel if r["funnel_stage"] == 3)
    assert rows["click->purchase"]["n_converted"] == n3
    assert rows["view->purchase"]["n_converted"] == n3
    n2plus = sum(1 for r in funnel if r["funnel_stage"] >= 2)
    assert rows["view->click"]["n_converted"] == n2plus


def test_latest_query_plan_shapes(spark):
    """Plan gates for the closing additions: scene cuts cost exactly
    ONE exchange (the per-video window; features stay narrow), the
    CT language profiles and the prefix-join df table reach the probe
    side as broadcasts, and every exchange count stays at the audited
    bound (a regression here means a broadcast fell back to a
    shuffle join or a subplan re-derived)."""
    import re as _re

    from ocr_spark.plans.dataops import (
        docs_ct_langid, docs_extractive_summary, docs_prefix_filter_join)
    from ocr_spark.plans.multimodal_queries import mm_scene_cuts
    from ocr_spark.plans.queries import ev_rfm_segments

    def fmt(df):
        qe = df._jdf.queryExecution()
        return df._sc._jvm.org.apache.spark.sql.api.python \
            .PythonSQLUtils.explainString(qe, "formatted")

    def n_sh(p):
        return len(_re.findall(r"\(\d+\) Exchange\b", p))

    p = fmt(mm_scene_cuts(spark, SF))
    assert n_sh(p) == 1                      # the per-video window
    p = fmt(docs_ct_langid(spark, SF))
    assert n_sh(p) <= 6 and "BroadcastHashJoin" in p
    p = fmt(docs_prefix_filter_join(spark, SF))
    assert n_sh(p) <= 4 and "BroadcastHashJoin" in p
    p = fmt(docs_extractive_summary(spark, SF))
    assert n_sh(p) <= 5
    assert n_sh(fmt(ev_rfm_segments(spark, SF))) <= 3


def test_constraint_suite_is_one_scan(spark):
    """Deequ's core design claim, pinned: N constraints cost ONE scan
    of documents — conditional partial aggregates merged map-side —
    not one scan per constraint."""
    from ocr_spark.plans.curation import docs_quality_constraints
    df = docs_quality_constraints(spark, SF)
    plan = fmt(df)
    assert len(re.findall(r"\(\d+\) Scan parquet", plan)) == 1
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "partial_sum" in simple or "partial" in simple


def test_assoc_rules_one_event_shuffle_no_self_join(spark):
    """Exactly one event-volume exchange (the basket collect_set, with
    map-side partial aggregation); pairs come from a narrow array
    comprehension, NOT a self-join; the vocab-bounded item/total sides
    come back as broadcasts."""
    from ocr_spark.plans.queries import ev_assoc_rules
    df = ev_assoc_rules(spark, SF)
    plan = fmt(df)
    assert plan.count("BroadcastHashJoin") >= 2
    assert "BroadcastNestedLoopJoin" in plan      # the 1-row total
    assert "SortMergeJoin" not in plan
    simple = df._jdf.queryExecution().executedPlan().toString()
    assert "collect_set" in simple
    # statically the basket exchange appears once per consumer (pairs /
    # item counts / basket total); at runtime AQE stage-reuse collapses
    # the duplicates so the event volume is shuffled ONCE — pin that
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert final.count("ReusedExchange") >= 2


def test_scd2_history_one_url_shuffle_and_interval_algebra(spark):
    """Plan: the change-flag window, the (url, version) groupBy, and
    the valid_to lead window all ride ONE url-keyed exchange
    (hashpartitioning(url) satisfies every downstream distribution).
    Semantics: versions are 1..k per url, intervals chain exactly
    (valid_to == next valid_from), exactly one open version per url,
    and unchanged re-crawls collapse (doc_id % 5 & % 7 cohorts)."""
    from ocr_spark.plans.indexing import pages_scd2_history
    df = pages_scd2_history(spark, SF)
    assert n_shuffles(fmt(df)) == 1
    rows = df.collect()
    by_url = {}
    for r in rows:
        by_url.setdefault(r["url"], []).append(r)
    assert by_url
    for url, rs in by_url.items():
        rs.sort(key=lambda r: r["version"])
        assert [r["version"] for r in rs] == list(range(1, len(rs) + 1))
        assert sum(r["is_current"] for r in rs) == 1
        assert rs[-1]["valid_to"] is None and rs[-1]["is_current"]
        for a, b in zip(rs, rs[1:]):
            assert a["valid_to"] == b["valid_from"]
            assert a["digest"] != b["digest"]
        did = int(url.rsplit("/", 1)[-1])
        n_caps = 1 + (did % 5 == 0) + (did % 7 == 0)
        assert sum(r["n_captures"] for r in rs) == n_caps
        assert len(rs) == 1 + (did % 7 == 0)  # only edits open versions


def test_final_session_event_plan_shapes(spark):
    """Exchange budgets for the final-session event operators: the
    experiment readouts ride ONE user-keyed aggregate + broadcasts
    (no SortMergeJoin anywhere), attribution's only non-broadcast
    join is the user-keyed path join, and LTV joins its cohort-size
    side as a broadcast."""
    from ocr_spark.plans.queries import (
        ev_attribution, ev_cohort_ltv, ev_experiment_ci,
        ev_experiment_srm, ev_next_event_eval, ev_survival_km)

    p = fmt(ev_experiment_srm(spark, SF))
    assert "SortMergeJoin" not in p and n_shuffles(p) <= 3
    p = fmt(ev_experiment_ci(spark, SF))
    assert "SortMergeJoin" not in p and "BroadcastNestedLoopJoin" in p
    p = fmt(ev_survival_km(spark, SF))
    assert "SortMergeJoin" not in p       # 1-row frames broadcast
    p = fmt(ev_cohort_ltv(spark, SF))
    assert "BroadcastHashJoin" in p and "SortMergeJoin" not in p
    p = fmt(ev_attribution(spark, SF))
    assert n_shuffles(p) <= 6 and "SortMergeJoin" not in p
    # next-event eval statically re-derives the transition subtree for
    # train/pred/marginal; at runtime AQE stage-reuse collapses the
    # duplicates — pin that, not the static count
    df = ev_next_event_eval(spark, SF)
    p = fmt(df)
    assert "SortMergeJoin" not in p and p.count("BroadcastHashJoin") >= 1
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_decision_ops_plan_shapes(spark):
    """Exchange budgets for the power / CUSUM / Markov-attribution
    trio: the 1-row moment frames ride broadcasts (never a
    SortMergeJoin), the sequential folds leave event volume behind at
    the first day-keyed partial aggregate, and Markov attribution's
    two channel slices collapse onto shared exchanges at runtime
    (AQE ReusedExchange) instead of re-scanning events."""
    from ocr_spark.plans.queries import (
        ev_attribution_markov, ev_changepoint_cusum,
        ev_experiment_power)

    p = fmt(ev_experiment_power(spark, SF))
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p   # 1-row traffic frame
    p = fmt(ev_changepoint_cusum(spark, SF))
    assert "SortMergeJoin" not in p
    assert "BroadcastNestedLoopJoin" in p   # 1-row moment frame
    df = ev_attribution_markov(spark, SF)
    p = fmt(df)
    assert "SortMergeJoin" not in p
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in final


def test_closing_batch_plan_shapes(spark):
    """Exchange budgets for the closing-batch operators: broadcasts
    where a small side exists (never a SortMergeJoin against a 1-row
    or literal frame), bounded shuffle counts for the single-pass
    scorecards, and the narrow-map ops stay narrow."""
    from ocr_spark.plans.curation import (
        docs_uncertainty_sample, shards_bloom_index,
        shards_zorder_layout)
    from ocr_spark.plans.dataops import (
        docs_bm25_eval, docs_license_detect, docs_soft_dedup_weights)
    from ocr_spark.plans.queries import ev_gini_revenue
    from ocr_spark.plans.webops import hosts_assortativity

    p = fmt(docs_license_detect(spark, SF))
    # rollup + presentation sort; the scan itself stays narrow
    assert n_shuffles(p) <= 2
    p = fmt(ev_gini_revenue(spark, SF))
    assert "SortMergeJoin" not in p
    p = fmt(hosts_assortativity(spark, SF))
    assert "SortMergeJoin" not in p or "BroadcastHashJoin" in p
    p = fmt(shards_zorder_layout(spark, SF))
    assert "BroadcastNestedLoopJoin" in p   # literal predicate frame
    assert "SortMergeJoin" not in p
    p = fmt(docs_bm25_eval(spark, SF))
    assert "BroadcastHashJoin" in p or "BroadcastNestedLoopJoin" in p
    p = fmt(shards_bloom_index(spark, SF))
    assert "BroadcastHashJoin" in p         # shard-bit frame broadcast
    p = fmt(docs_uncertainty_sample(spark, SF))
    assert "BroadcastHashJoin" in p         # classifier vocab broadcast
    # the cluster side is statically unsized (localCheckpoint), so the
    # static plan shows SortMergeJoin — pin that AQE broadcasts the
    # bounded cluster frame at runtime instead
    df = docs_soft_dedup_weights(spark, SF)
    df.collect()
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in final


def test_ivfpq_trained_plan_and_contract(spark):
    """Trained-codebook IVF-PQ (both raw and residual forms) keeps
    the raw variant's plan discipline — probe list and codebook
    tables broadcast, the one corpus-sized exchange is the cell
    equi-join, never a corpus cross join — and the output contract:
    bounded ranks, nonnegative ADC, exact-cosine order dominating."""
    from ocr_spark.plans.simsearch import (
        IVF_TOPK, N_QUERIES, emb_ivfpq_residual_trained_topk,
        emb_ivfpq_trained_topk)

    for fn in (emb_ivfpq_trained_topk, emb_ivfpq_residual_trained_topk):
        df = fn(spark, SF)
        plan = fmt(df)
        assert "BroadcastHashJoin" in plan, plan
        assert "CartesianProduct" not in plan, plan
        rows = df.collect()
        assert rows
        by_q: dict = {}
        for r in rows:
            assert r["q_id"] < N_QUERIES
            assert 1 <= r["rank"] <= IVF_TOPK
            assert r["adc_dist"] >= 0.0
            by_q.setdefault(r["q_id"], []).append(r)
        for q, rs in by_q.items():
            rs.sort(key=lambda r: r["rank"])
            assert len(rs) == len({r["neighbor_id"] for r in rs})
            for a, b in zip(rs, rs[1:]):
                assert (a["cos_sim"], -a["neighbor_id"]) \
                    >= (b["cos_sim"], -b["neighbor_id"])


def test_data_card_provenance_column(spark):
    """The data card discloses eval-metric provenance: every language
    row is driver_tables; every _eval:* inventory row carries the
    documented modeled-cohort vs driver-tables tag and no corpus
    numbers (round-4 verdict #8)."""
    from ocr_spark.plans.webops import (
        DATA_CARD_EVAL_PROVENANCE, docs_data_card)

    rows = docs_data_card(spark, SF).collect()
    langs = [r for r in rows if not r["lang"].startswith("_eval:")]
    evals = {r["lang"]: r for r in rows if r["lang"].startswith("_eval:")}
    assert langs and all(r["provenance"] == "driver_tables"
                         for r in langs)
    assert set(evals) == {f"_eval:{m}"
                          for m, _ in DATA_CARD_EVAL_PROVENANCE}
    for m, p in DATA_CARD_EVAL_PROVENANCE:
        r = evals[f"_eval:{m}"]
        assert r["provenance"] == p
        assert r["n_docs"] is None and r["kept_token_frac"] is None


def test_block_density_zero_shuffle_and_justext_classes(spark):
    """The per-block densitometric classifier is a pure narrow map
    (struct-array explode, no join, no exchange) and every JusText
    context-free class genuinely fires on the corpus; article blocks
    are stopword-dense running text ('good'), nav/aside are
    link-dense ('bad' or too short)."""
    from ocr_spark.plans.htmlfeat import pages_block_density

    df = pages_block_density(spark, SF)
    plan = fmt(df)
    assert n_shuffles(plan) == 0, plan
    rows = df.collect()
    by_label: dict = {}
    by_seg: dict = {}
    for r in rows:
        by_label.setdefault(r["label"], 0)
        by_label[r["label"]] += 1
        by_seg.setdefault(r["segment"], set()).add(r["label"])
    assert {"short", "bad", "good"} <= set(by_label)
    # articles are running text: never link-dense, never too short —
    # word-salad docs with few stopwords legitimately land near_good
    assert by_seg["article"] <= {"good", "near_good"}
    assert "good" in by_seg["article"]
    assert by_seg["nav"] <= {"bad", "short"}


def test_dom_depth_single_url_exchange_and_balance(spark):
    """Depth profile: one url-keyed window exchange, every page's tag
    stream balances to zero (the generator emits well-formed markup),
    and max depth is positive and bounded."""
    from ocr_spark.plans.htmlfeat import pages_dom_depth

    df = pages_dom_depth(spark, SF)
    plan = fmt(df)
    rows = df.collect()
    assert rows
    for r in rows:
        assert r["final_balance"] == 0, r
        assert 3 <= r["max_depth"] <= 12
        assert r["n_void"] >= 2  # meta + link at minimum
