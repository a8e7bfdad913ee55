"""Physical-plan assertions: the plans we ship are the plans we designed.

Catches scale regressions at test time: a reintroduced single-reducer
window, a lost parquet pushdown, a broadcast that silently became a
sort-merge join, or a Python UDF sneaking into a JVM-only pipeline.
"""

from __future__ import annotations

import re
import time

import pytest

from genai_batch_processor_spark import queries


def _plan(spark, name, sf_dir):
    return _df_plan(spark, queries.QUERIES[name](spark, sf_dir))


def _df_plan(spark, df):
    return spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


# queries whose plans must never funnel through one partition
NO_SINGLE_PARTITION = [
    "assign_ids",
    "joinback",
    "label_distribution",
    "near_dup_pairs",
    "simhash_near_dup",
    "pricing_summary",
    "events_hourly",
    "doc_stats",
    "batch_shards",
    "training_order",
    "prompt_dedup_fanout",
    "snapshot_changes",
    "incremental_inference",
    "retry_responses",
    "winnow_pairs",
    "chunk_vote",
    "mixture_sample",
    "span_dedup_stats",
    "rrf_fusion",
]

# pure column-expression pipelines: no Python evaluation allowed
JVM_ONLY = [
    "build_requests",
    "mock_responses",
    "doc_stats",
    "minhash_signatures",
    "simhash",
    "events_hourly",
    "pricing_summary",
    "price_moments",
    "quality_unpivot",
]


@pytest.mark.parametrize("name", NO_SINGLE_PARTITION)
def test_no_single_partition_exchange(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    assert "SinglePartition" not in plan, f"{name} funnels through 1 task"


@pytest.mark.parametrize("name", JVM_ONLY)
def test_no_python_in_jvm_pipelines(spark, sf_dir, name):
    plan = _plan(spark, name, sf_dir)
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"{name} dropped into Python: {marker}"


def test_string_key_assign_ids_is_bucket_parallel(spark, sf_dir):
    """A string-keyed assign_ids must use the byte-proxy bucketed path:
    no unpartitioned row_number window (= no SinglePartition exchange),
    and the ordinal must equal the sorted position under Spark's own
    (UTF-8 byte-wise) string ordering."""
    from genai_batch_processor_spark.functions import ids

    docs = queries.load_table(spark, sf_dir, "documents").select(
        "doc_id", "text"
    )
    out = ids.assign_ids(docs, "text", buckets=8)
    plan = spark._jvm.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "formatted"
    )
    assert "SinglePartition" not in plan, "string key fell back to 1 task"

    rows = out.select("text", "idx").collect()
    by_key = sorted(rows, key=lambda r: r["text"].encode("utf-8"))
    assert [r["idx"] for r in by_key] == list(range(len(rows)))


def test_pricing_summary_pushdown_and_pruning(spark, sf_dir):
    plan = _plan(spark, "pricing_summary", sf_dir)
    assert re.search(r"PushedFilters: \[[^\]]*LessThanOrEqual\(l_shipdate", plan)
    m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
    assert m is not None
    read_cols = {c.split(":")[0] for c in m.group(1).split(",") if ":" in c}
    # 16-column table pruned to exactly what the query touches
    assert read_cols <= {
        "l_quantity", "l_extendedprice", "l_discount",
        "l_returnflag", "l_linestatus", "l_shipdate",
    }


def test_regional_revenue_broadcasts_dims(spark, sf_dir):
    plan = _plan(spark, "regional_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_embedding_topk_broadcasts_queries(spark, sf_dir):
    """Pins the OPERATOR's design (broadcast query side, unshuffled
    corpus). q_embedding_topk itself now serves the session-shared
    materialized leaf (r14: _topk_method_shared), so the design must
    be read from the operator plan directly — the same convention as
    the other shared-stage queries (see _plan note below)."""
    from genai_batch_processor_spark.operators import similarity

    emb, qs = queries._ann_queries(spark, sf_dir)
    plan = _df_plan(spark, similarity.topk_bruteforce(emb, qs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    # the corpus side must not shuffle before the join
    assert plan.count("Exchange hashpartitioning") <= 2  # only the rank window


def test_near_dup_single_scan(spark, sf_dir):
    plan = _plan(spark, "near_dup_pairs", sf_dir)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, "near-dup must scan the corpus once"


def test_semi_anti_joins_use_semi_anti_strategies(spark, sf_dir):
    """EXISTS/NOT-EXISTS shapes must stay semi/anti joins (no row
    duplication, keys-only shuffle) with the status filter pushed into
    the probe-side scan."""
    plan = _plan(spark, "order_priority_returns", sf_dir)
    assert "LeftSemi" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(l_returnflag,R\)", plan)
    plan = _plan(spark, "customers_without_orders", sf_dir)
    assert "LeftAnti" in plan
    assert re.search(r"PushedFilters: \[[^\]]*EqualTo\(o_orderstatus,O\)", plan)


def test_range_join_broadcasts_bracket_dim(spark, sf_dir):
    """Non-equi bracket join: the 4-row dim broadcasts; the part side
    must not shuffle into a sort-merge strategy."""
    plan = _plan(spark, "price_bracket_join", sf_dir)
    assert "BroadcastNestedLoopJoin" in plan
    assert "SortMergeJoin" not in plan


def test_pandas_ann_scans_corpus_once_unshuffled(spark, sf_dir):
    """The Arrow scorer runs on the scan partitioning: exactly one
    corpus scan feeding MapInPandas, shuffles only for the rank window."""
    plan = _plan(spark, "embedding_topk_pandas", sf_dir)
    assert "MapInPandas" in plan
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1
    assert plan.count("Exchange hashpartitioning") <= 1  # rank window only


def test_ngram_jaccard_single_scan(spark, sf_dir):
    plan = _plan(spark, "ngram_jaccard", sf_dir)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, "n-gram near-dup must scan the corpus once"


def test_order_revenue_topk_take_ordered_and_pushdown(spark, sf_dir):
    """Q3 shape: top-k must be TakeOrderedAndProject (per-partition heap
    + driver merge, no global sort) and both date predicates must reach
    their parquet scans."""
    plan = _plan(spark, "order_revenue_topk", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert re.search(r"PushedFilters: \[[^\]]*LessThan\(o_orderdate", plan)
    assert re.search(r"PushedFilters: \[[^\]]*GreaterThan\(l_shipdate", plan)
    assert "SinglePartition" not in plan


def test_banding_does_not_recompute_signatures(spark, sf_dir):
    """The explode-side filter must not re-evaluate the md5-heavy
    signature pipeline: md5 may appear in projections (once for the
    shingle set, once for cheap band keys) but never inside a Filter."""
    for name in ("lsh_candidates", "near_dup_pairs", "simhash_near_dup"):
        plan = _plan(spark, name, sf_dir)
        for m in re.finditer(r"\(\d+\) Filter[^(]*\nInput[^\n]*\nCondition : ([^\n]*)", plan):
            assert "md5" not in m.group(1), f"{name}: filter recomputes hashing"


def test_correlated_min_decorrelates(spark, sf_dir):
    """Q2 shape: the correlated min subquery must plan as ONE aggregate
    over lineitem joined back — no per-row subquery re-execution, no
    cartesian product."""
    plan = _plan(spark, "min_cost_supplier", sf_dir)
    assert "Subquery" not in plan, "correlated subquery not decorrelated"
    assert "CartesianProduct" not in plan


def test_exists_plans_as_semi_anti(spark, sf_dir):
    """Q21 shape: EXISTS → left-semi, NOT EXISTS → left-anti; never a
    materialized distinct + inner join."""
    plan = _plan(spark, "lone_return_suppliers", sf_dir)
    assert "LeftSemi" in plan
    assert "LeftAnti" in plan
    assert "CartesianProduct" not in plan


def test_centroids_partial_agg_after_explode(spark, sf_dir):
    """posexplode fans 64× but the shuffle must carry only partial sums
    per (label, dim): partial+final HashAggregate pair, JVM-side."""
    plan = _plan(spark, "embedding_centroids", sf_dir)
    assert "Generate" in plan
    assert plan.count("HashAggregate") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_bucketed_join_is_exchange_free(spark, sf_dir, tmp_path):
    """orders⋈lineitem written bucketed+sorted by orderkey: the join
    must run with ZERO Exchange and ZERO Sort — the write-time shuffle
    is amortized over every future join. The same join over the plain
    parquet MUST show exchanges (proves bucketing, not AQE, removed
    them)."""
    from genai_batch_processor_spark.sources.bucketing import (
        drop_table,
        write_bucketed,
    )
    from genai_batch_processor_spark.sources.tables import load_table

    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    # Spark 3+ ignores bucket sort order unless this is on (and each
    # bucket is one file — write_bucketed guarantees that).
    spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true"
    )
    try:
        write_bucketed(
            orders, "orders_b", "o_orderkey", 8, str(tmp_path / "ob")
        )
        write_bucketed(
            li.withColumnRenamed("l_orderkey", "o_orderkey"),
            "lineitem_b", "o_orderkey", 8, str(tmp_path / "lb"),
        )
        joined = spark.table("orders_b").join(
            spark.table("lineitem_b"), "o_orderkey"
        )
        plan = spark._jvm.PythonSQLUtils.explainString(
            joined._jdf.queryExecution(), "formatted"
        )
        assert "SortMergeJoin" in plan
        assert "Exchange" not in plan, "bucketed join still shuffles"
        assert "(1) Sort" not in plan and ") Sort\n" not in plan, (
            "bucketed+sorted join still sorts"
        )

        plain = orders.join(
            li.withColumnRenamed("l_orderkey", "o_orderkey"), "o_orderkey"
        )
        plain_plan = spark._jvm.PythonSQLUtils.explainString(
            plain._jdf.queryExecution(), "formatted"
        )
        assert "Exchange" in plain_plan, "control join should shuffle"
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        spark.conf.unset(
            "spark.sql.legacy.bucketedTableScan.outputOrdering"
        )
        drop_table(spark, "orders_b")
        drop_table(spark, "lineitem_b")


def test_salted_agg_spreads_hot_keys(spark, sf_dir):
    """The salted aggregate must shuffle twice (once on (key, salt),
    once on key) with map-side partial aggregation, and never funnel
    through one partition before the final merge."""
    plan = _plan(spark, "salted_event_totals", sf_dir)
    assert plan.count("HashAggregate") >= 3
    assert "SinglePartition" not in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_salted_join_broadcasts_replicated_small_side(spark, sf_dir):
    """The salted join must broadcast the exploded small side (a
    Generate feeding a BroadcastExchange) — never shuffle the big
    side."""
    plan = _plan(spark, "salted_nation_balance", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "Generate" in plan


def test_partitioned_sink_prunes_at_read(spark, sf_dir, tmp_path):
    """A lang-partitioned parquet sink must let a lang predicate prune
    at the DIRECTORY level: the filter shows up as a PartitionFilter
    (zero data files from other langs opened), not a post-scan
    Filter."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.sources.tables import load_table

    out = str(tmp_path / "docs_by_lang")
    docs = load_table(spark, sf_dir, "documents")
    docs.write.partitionBy("lang").parquet(out)

    rd = spark.read.parquet(out).filter(F.col("lang") == "en")
    plan = spark._jvm.PythonSQLUtils.explainString(
        rd._jdf.queryExecution(), "formatted"
    )
    assert re.search(r"PartitionFilters: \[[^\]]*lang[^\]]*=[^\]]*en", plan), (
        "lang predicate did not become a partition filter"
    )
    n_langs = docs.select("lang").distinct().count()
    assert rd.count() == docs.filter(F.col("lang") == "en").count()
    assert n_langs > 1  # pruning actually skipped other directories


def test_histogram_quantiles_partial_agg(spark, sf_dir):
    """The mergeable-quantile path must partial-aggregate the histogram
    map-side (the whole point vs exact percentiles) and stay JVM-only."""
    plan = _plan(spark, "value_histogram_quantiles", sf_dir)
    assert plan.count("HashAggregate") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    assert "SinglePartition" not in plan


def test_bigrams_aggregate_after_generate(spark, sf_dir):
    """Bigram fan-out must feed a partial aggregate — the shuffle
    carries (bigram, count) partials, never the expanded pair rows
    unaggregated."""
    plan = _plan(spark, "word_bigrams", sf_dir)
    assert "Generate" in plan
    assert plan.count("HashAggregate") >= 2
    for marker in ("BatchEvalPython", "ArrowEvalPython"):
        assert marker not in plan


def test_daily_rollup_reaggregates_hourly(spark, sf_dir):
    """The daily level must aggregate the hourly aggregate (4
    HashAggregates: partial+final at each level), not rescan raw events
    twice."""
    plan = _plan(spark, "events_daily_rollup", sf_dir)
    scan_ids = set(re.findall(r"\((\d+)\) Scan parquet", plan))
    assert len(scan_ids) == 1, "rollup must scan events once"
    assert plan.count("HashAggregate") >= 4


def test_int8_topk_broadcasts_queries_and_avoids_corpus_shuffle(
    spark, sf_dir
):
    """Quantized retrieve must keep the brute-force shape: query side
    broadcast, corpus never hash-shuffled except for the two per-query
    rank windows (shortlist + final). Read from the operator plan, as
    in test_embedding_topk_broadcasts_queries: the query serves the
    session-shared materialized top-k leaf."""
    from genai_batch_processor_spark.operators import similarity

    emb, qs = queries._ann_queries(spark, sf_dir)
    plan = _df_plan(spark, similarity.topk_int8(emb, qs))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert plan.count("Exchange hashpartitioning") <= 4
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan


def test_chunking_is_jvm_only_and_packing_partitions_by_group(
    spark, sf_dir
):
    """The chunk fan-out must stay inside codegen (no Python), and
    packing must window per source — never a global single-partition
    order."""
    plan = _plan(spark, "doc_chunks", sf_dir)
    assert "Generate" in plan
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan
    plan = _plan(spark, "chunk_packing", sf_dir)
    assert "SinglePartition" not in plan


def test_dsir_scoring_join_is_broadcast(spark, sf_dir):
    """dsir_weights' scoring join (corpus feature stream x bucket
    model) must broadcast the model side — the feature stream never
    shuffles for it. The model is exactly DSIR_BUCKETS rows, so the
    broadcast is bounded at any corpus scale; the only
    SinglePartition point is the 1-row totals aggregate."""
    plan = _plan(spark, "dsir_weights", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan


def test_span_probe_broadcasts_batch_not_index(spark, sf_dir):
    """The ingest probe must broadcast the (small) batch spans into one
    scan of the corpus span index — a plan that shuffles the index per
    ingest defeats incrementality at scale. Asserting the ABSENCE of
    shuffle joins (not just the presence of a broadcast one) is what
    pins the direction: without the explicit broadcast hints the
    planner could legally broadcast the INDEX side at fixture scale
    and this test would still see a BroadcastHashJoin."""
    plan = _plan(spark, "incremental_span_dup", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan
    assert "ShuffledHashJoin" not in plan
    assert "SinglePartition" not in plan


def _fresh_part_pairs(spark):
    """Drop the session-shared persisted blocking stages (r8) so these
    plan tests read the OPERATOR's plan, not an InMemoryRelation left
    by whichever test consumed the stage first — the cache makes plan
    text run-order-dependent, exactly the caveat BENCH_PLANS documents
    for the other shared stages."""
    from genai_batch_processor_spark import queries as Q

    Q.invalidate_shared_stages(name="part_pairs")


def _stage_keys(name):
    from genai_batch_processor_spark import queries as Q

    return [k for k in Q._stages if k[2] == name]


def test_part_pairs_cache_invalidation_and_cap(spark, sf_dir, monkeypatch):
    """r8 advice: a session-shared stage needs an official eviction
    hook (fixture regenerated mid-session → stale persisted stage) and
    a size cap (many sf_dirs in one session → unbounded persisted
    memory). invalidate_shared_stages drops and unpersists by sf_dir,
    stage name, or wholesale; inserts past the per-stage cap evict the
    oldest entry, unpersisted."""
    from genai_batch_processor_spark import queries as Q

    Q.invalidate_shared_stages(name="part_pairs")
    assert _stage_keys("part_pairs") == []

    df = Q._part_pairs_shared(spark, sf_dir, "single")
    assert len(_stage_keys("part_pairs")) == 1
    assert df.storageLevel.useMemory  # persisted while cached

    # scoped invalidation: a different sf_dir string is untouched
    assert Q.invalidate_shared_stages(sf_dir="/no/such/dir") == 0
    assert len(_stage_keys("part_pairs")) == 1
    assert Q.invalidate_shared_stages(sf_dir=sf_dir, name="part_pairs") == 1
    assert _stage_keys("part_pairs") == []
    assert not df.storageLevel.useMemory  # unpersisted on invalidation

    # cap: shrink the per-stage cap to 1 and insert a second entry —
    # the first must be evicted and unpersisted, never just dropped
    monkeypatch.setattr(Q, "_STAGE_CACHE_MAX", 1)
    try:
        first = Q._part_pairs_shared(spark, sf_dir, "single")
        second = Q._part_pairs_shared(spark, sf_dir, "multi")
        assert _stage_keys("part_pairs") == [
            (spark.sparkContext.applicationId, sf_dir, "part_pairs", "multi")
        ]
        assert not first.storageLevel.useMemory
        assert second.storageLevel.useMemory
    finally:
        Q.invalidate_shared_stages(name="part_pairs")


def test_invalidate_shared_stages_covers_every_cache(spark, sf_dir):
    """r9 self-review: the staleness hook must cover ALL session-shared
    stages, DataFrame and scalar alike. Populate two DataFrame stages
    and the doc-count scalar, invalidate by sf_dir, and require all
    dropped and the DataFrames unpersisted."""
    import genai_batch_processor_spark.queries as Q

    Q.invalidate_shared_stages()
    pairs = Q._near_dup_pairs_shared(spark, sf_dir)
    sim = Q._simhash_pairs_shared(spark, sf_dir)  # also builds doc_count
    assert pairs.storageLevel.useMemory and sim.storageLevel.useMemory
    assert _stage_keys("doc_count")
    assert Q.invalidate_shared_stages(sf_dir="/no/such/dir") == 0
    assert Q.invalidate_shared_stages(sf_dir=sf_dir) == 3
    assert not pairs.storageLevel.useMemory
    assert not sim.storageLevel.useMemory
    assert all(key[1] != sf_dir for key in Q._stages)


def test_shared_stage_builds_once_under_concurrent_requests(spark):
    """Eight threads requesting one fresh key at once run ``build``
    once and all receive the same object (later callers wait on the
    in-flight build instead of building again)."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import genai_batch_processor_spark.queries as Q

    calls = []
    start = threading.Barrier(8)

    def build():
        calls.append(1)
        time.sleep(0.2)  # keep the build in flight while others arrive
        return object()

    def request(_):
        start.wait()
        return Q._shared(spark, "/test/once", "test_once", build=build)

    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            got = list(pool.map(request, range(8)))
        assert len(calls) == 1
        assert all(g is got[0] for g in got)
    finally:
        Q.invalidate_shared_stages(name="test_once")


def test_shared_stage_cap_holds_under_concurrent_inserts(spark, monkeypatch):
    """With the per-stage cap at 1, threads inserting distinct keys at
    once raise nothing (no KeyError from racing evictions), leave at
    most one entry, and every DataFrame they evicted is unpersisted."""
    import threading
    from concurrent.futures import ThreadPoolExecutor

    import genai_batch_processor_spark.queries as Q

    monkeypatch.setattr(Q, "_STAGE_CACHE_MAX", 1)
    start = threading.Barrier(8)

    def request(i):
        start.wait()
        return Q._shared(
            spark,
            "/test/cap",
            "test_cap",
            i,
            build=lambda: spark.range(i + 1).persist(),
        )

    try:
        with ThreadPoolExecutor(max_workers=8) as pool:
            built = list(pool.map(request, range(8)))
        kept = {k[3] for k in _stage_keys("test_cap")}
        assert len(kept) <= 1
        for i, df in enumerate(built):
            assert df.storageLevel.useMemory == (i in kept)
    finally:
        Q.invalidate_shared_stages(name="test_cap")


def test_failed_shared_stage_build_leaves_no_entry(spark):
    """A build that raises leaves no entry behind: the error reaches
    the caller and the next call runs ``build`` again."""
    import genai_batch_processor_spark.queries as Q

    calls = []

    def failing():
        calls.append(1)
        raise RuntimeError("build failed")

    def working():
        calls.append(1)
        return 42

    try:
        with pytest.raises(RuntimeError, match="build failed"):
            Q._shared(spark, "/test/fail", "test_fail", build=failing)
        assert _stage_keys("test_fail") == []
        assert Q._shared(spark, "/test/fail", "test_fail", build=working) == 42
        assert len(calls) == 2
        assert _stage_keys("test_fail") != []
    finally:
        Q.invalidate_shared_stages(name="test_fail")


def test_part_match_candidates_no_single_partition(spark, sf_dir):
    """The linkage self-join must stay block-local — no global funnel
    and no cartesian product anywhere in the plan."""
    _fresh_part_pairs(spark)
    plan = _plan(spark, "part_match_candidates", sf_dir)
    assert "SinglePartition" not in plan
    assert "Cartesian" not in plan


def test_part_match_multikey_plan_shape(spark, sf_dir):
    """The multi-pass union stays block-local too, and the Levenshtein
    bill is paid at the NAME level: the distance expression must sit
    above the distinct-name self-join, never above a row-expanded
    relation (one levenshtein call per pass in the plan, and no
    cartesian/global funnel)."""
    _fresh_part_pairs(spark)
    plan = _plan(spark, "part_match_multikey", sf_dir)
    assert "SinglePartition" not in plan
    assert "Cartesian" not in plan
    # two passes, each surfacing the distance expression in its
    # Filter+Project pair -> 4 levenshtein sites; more would mean the
    # scorer leaked into the expansion joins (the formatted plan can't
    # textually pin WHICH relation feeds the expression — the sf1 wall
    # in BENCH_NOTES is the behavioral pin for name-level scoring)
    assert 2 <= plan.lower().count("levenshtein") <= 4


def test_bm25_broadcasts_query_terms_and_stats(spark, sf_dir):
    """The 5-term query side and the 1-row stats both ride broadcasts;
    the only corpus-wide shuffles are the tf/df hash aggregates."""
    plan = _plan(spark, "bm25_scores", sf_dir)
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan
    assert "PythonUDF" not in plan


def test_temperature_mixture_is_two_aggregates_and_broadcast(spark, sf_dir):
    plan = _plan(spark, "temperature_mixture", sf_dir)
    assert "BroadcastExchange" in plan  # 1-row total
    assert "PythonUDF" not in plan


def test_event_key_skew_single_corpus_aggregate(spark, sf_dir):
    """Exactly one corpus-wide shuffle (the per-key count); the heavy-
    hitter top-k is a TakeOrdered on the keys relation, never a global
    sort of raw events."""
    plan = _plan(spark, "event_key_skew", sf_dir)
    assert "TakeOrderedAndProject" in plan
    assert "PythonUDF" not in plan


def test_incremental_probe_broadcasts_the_batch(spark, sf_dir):
    """The index-probe join must broadcast the (small) new batch —
    never cartesian, and the probe side rides BroadcastHashJoins."""
    plan = _plan(spark, "incremental_near_dup", sf_dir)
    assert "Cartesian" not in plan
    assert plan.count("BroadcastExchange") >= 2  # new side + old_sizes


def test_embedding_probe_broadcasts_batch_index_unshuffled(spark, sf_dir):
    """The ANN-ingest probe must broadcast the (small) new vector batch
    against a single scan of the cell index — never cartesian, no
    sort-merge of the index (its only exchange is the build-time
    window count on cell)."""
    plan = _plan(spark, "incremental_embedding_near_dup", sf_dir)
    assert "Cartesian" not in plan
    assert plan.count("BroadcastExchange") >= 2  # batch + ok-cells


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir, tmp_path):
    """Round-5 verdict item 6: on a genuinely skewed join (40% of
    events remapped to ONE user), Spark's AQE skew handling must
    actually SPLIT the hot partition — the final adaptive plan carries
    the skew=true join annotation — while the plain run (skew split
    off) must not, and both must agree with the manual salted remedy
    on the result. Thresholds are scaled to the fixture's shuffle
    bytes, as a real deployment scales them to its own."""
    from genai_batch_processor_spark.operators import skew
    from genai_batch_processor_spark.sources.tables import load_table

    events = load_table(spark, sf_dir, "events")
    dim = skew.build_skew_demo_dim(
        spark, events, str(tmp_path / "dim")
    )
    # sized for the sf0.001 fixture's ~KB-scale hot partition; the
    # minPartitionSize entry matters — the split target clamps to it
    test_conf = {
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes":
            "1024",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "512",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize": "512",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2",
    }
    plain = skew.run_skew_demo(spark, events, "plain", dim=dim)
    aqe = skew.run_skew_demo(
        spark, events, "aqe", demo_conf=test_conf, dim=dim
    )
    salted = skew.run_skew_demo(spark, events, "salted", dim=dim)
    assert aqe["skew_marker"], "AQE run did not split the skewed partition"
    assert not plain["skew_marker"]
    assert plain["rows"] == aqe["rows"] == salted["rows"] > 0
    # exact per-group (count, weighted-sum) agreement: catches a salt
    # fanout duplicating rows or a dropped hot key, which the bare
    # 5-group row count cannot
    assert plain["groups"] == aqe["groups"] == salted["groups"]


def test_count_prunes_project_only_python_work(spark, sf_dir):
    """The count-pruning hazard behind scale_check.FORCE_MATERIALIZE
    (r11): for a Project-only query, Catalyst prunes the per-row work —
    including the Arrow-batched BPE UDF — under .count(), so a
    count-timed leg measures a bare scan. Pin both halves: the query's
    own plan carries ArrowEvalPython; its count plan does not."""
    df = queries.QUERIES["bpe_token_counts"](spark, sf_dir)
    full = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" in full
    cnt = spark._jvm.PythonSQLUtils.explainString(
        df.groupBy().count()._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in cnt
    # and the tool routes the query through the noop-sink path
    from tools.scale_check import FORCE_MATERIALIZE

    assert "bpe_token_counts" in FORCE_MATERIALIZE


def test_bloom_decontamination_probe_before_join(spark, sf_dir):
    """decontaminate_bloom's shape (r13): the Bloom probe (element_at
    bit tests on the packed-long bitmap literal) must sit in a plain
    Filter on the corpus side — i.e. BELOW the residual exact join, so
    at scale ~98% of corpus shingles never reach the join — and the
    whole pipeline stays JVM-side with the bench shingle set broadcast."""
    plan = _plan(spark, "decontaminate_bloom", sf_dir)
    assert "element_at" in plan, "Bloom probe missing from the plan"
    assert "BroadcastHashJoin" in plan, "bench shingles must broadcast"
    for marker in ("BatchEvalPython", "ArrowEvalPython", "MapInPandas"):
        assert marker not in plan, f"Bloom path dropped into Python: {marker}"
    # the probe filter must be UPSTREAM of the join: formatted plans
    # number nodes bottom-up (Scan (1) ... root last), so the Filter
    # node carrying the element_at condition needs a SMALLER id than
    # the join's
    import re

    sections = re.findall(
        r"\((\d+)\) (\w+)[^\n]*\n(.*?)(?=\n\(\d+\) |\Z)", plan, re.S
    )
    probe_ids = [
        int(nid)
        for nid, name, body in sections
        if name == "Filter" and "element_at" in body
    ]
    join_ids = [
        int(nid) for nid, name, _ in sections if "BroadcastHashJoin" in name
    ]
    assert probe_ids and join_ids
    assert min(probe_ids) < min(join_ids)


def test_heavy_hitters_one_sketch_pass_and_broadcast_recount(spark, sf_dir):
    """heavy_hitter_tokens' shape (r13): exactly TWO Python stages (the
    MG candidate pass over each of the recount scan and the distinct)
    would be wrong — the sketch runs once; the exact recount must reach
    the corpus via a BROADCAST left-semi join on the (tiny) candidate
    relation, so the full vocabulary never shuffles."""
    plan = _plan(spark, "heavy_hitter_tokens", sf_dir)
    import re

    # each node prints twice (tree + detail); count detail sections
    mg_nodes = re.findall(r"\(\d+\) MapInPandas", plan)
    assert len(mg_nodes) == 1, "MG candidate pass must run once"
    assert "LeftSemi" in plan and "BroadcastHashJoin" in plan


def test_grouped_heavy_hitters_one_sketch_pass_and_broadcasts(spark, sf_dir):
    """lang_heavy_hitters (r13): same contract as the ungrouped shape —
    ONE MapInPandas node (per-group MG states live INSIDE the single
    pass, not one pass per group) and broadcast joins for both the
    candidate semi-join and the per-group totals."""
    plan = _plan(spark, "lang_heavy_hitters", sf_dir)
    import re

    assert len(re.findall(r"\(\d+\) MapInPandas", plan)) == 1
    assert "LeftSemi" in plan
    assert plan.count("BroadcastExchange") >= 2  # candidates + totals
