"""Scale internals: the fan_out split estimator, the streaming drain's
partition count, and the bucket-parallel prefix-sum kernel behind
assign_ids."""

from __future__ import annotations

import math
import os
import random

import pytest
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import fanout, ids
from genai_batch_processor_spark.sources.tables import load_table
from genai_batch_processor_spark.streaming import windows as sw


# -- fan_out / estimated_scan_partitions -------------------------------------


def test_estimator_matches_fixture_scan_and_no_rdd(spark, sf_dir):
    """A one-file fixture scan must estimate tiny (=> fan_out fires),
    and the estimate must come from the analyzed plan, not an RDD
    conversion (no physical planning: this is the r13-verdict fix)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    est = fanout.estimated_scan_partitions(docs)
    assert est is not None and est >= 1
    assert est < spark.sparkContext.defaultParallelism
    fanned = fanout.fan_out(docs)
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_estimator_none_for_non_file_leaves(spark):
    """Local/range relations cannot be priced from file stats — the
    estimator must decline (fan_out then falls back to the RDD probe)
    rather than guess."""
    assert fanout.estimated_scan_partitions(spark.range(10)) is None


def test_fan_out_skips_when_floor_met(spark, sf_dir):
    """est >= floor must add NO exchange (the at-scale no-op branch)."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    out = fanout.fan_out(docs, floor=1)
    assert out is docs  # same object: no repartition applied


def test_fan_out_fires_on_partition_pruned_scan(spark, tmp_path):
    """A partition filter prunes files after analysis, so the analyzed
    leaf prices all 8 partitions while the scan reads one file: the
    estimator must decline and fan_out must take the exact probe."""
    path = str(tmp_path / "parted")
    (
        spark.range(0, 8000, 1, 1)
        .withColumn("part", F.col("id") % 8)
        .write.partitionBy("part")
        .parquet(path)
    )
    one = spark.read.parquet(path).filter(F.col("part") == 3)
    assert fanout.file_leaf_stats(one) is None
    fanned = fanout.fan_out(one, floor=4)
    plan = fanned._jdf.queryExecution().executedPlan().toString()
    assert "RoundRobinPartitioning" in plan


def test_min_tasks_env_override_validated(spark, sf_dir, monkeypatch):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    monkeypatch.setenv("SPARK_GRAFT_MIN_TASKS", "7")
    assert fanout.min_tasks(docs) == 7
    monkeypatch.setenv("SPARK_GRAFT_MIN_TASKS", "bogus")
    with pytest.warns(UserWarning):
        n = fanout.min_tasks(docs)
    assert n == spark.sparkContext.defaultParallelism


# -- stream_partitions_for ---------------------------------------------------


def test_stream_partitions_small_floor_and_scale_floor(spark, monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_STREAM_PARTITIONS", raising=False)
    base = sw.STREAM_PARTITIONS_BASE
    tgt = sw.STREAM_TARGET_BYTES_PER_PARTITION
    dp = spark.sparkContext.defaultParallelism
    # unknown or tiny volume -> the small-keyspace floor (local twins)
    assert sw.stream_partitions_for(spark, None) == base
    assert sw.stream_partitions_for(spark, 1) == base
    assert sw.stream_partitions_for(spark, base * tgt) == base
    # large volume -> bytes-derived, never below default parallelism
    big = 1000 * tgt
    n = sw.stream_partitions_for(spark, big)
    assert n == max(1000, dp)
    mid = (base + 1) * tgt
    assert sw.stream_partitions_for(spark, mid) == max(base + 1, dp)
    # env override wins; malformed value warns and falls through
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "12")
    assert sw.stream_partitions_for(spark, big) == 12
    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "junk")
    with pytest.warns(UserWarning):
        assert sw.stream_partitions_for(spark, None) == base


def test_stream_state_partitions_derives_from_path(spark, sf_dir):
    """The context manager must hold the derived count for the drain
    and restore the session default afterwards."""
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    events = sf_dir.rstrip("/") + "/events.parquet"
    assert sw.dir_bytes(spark, events) > 0
    with sw.stream_state_partitions(spark, input_path=events):
        held = int(spark.conf.get("spark.sql.shuffle.partitions"))
        assert held == sw.STREAM_PARTITIONS_BASE  # fixture-scale volume
    assert spark.conf.get("spark.sql.shuffle.partitions") == prev


def test_drain_micro_batches_plan_with_start_scope(
    spark, tmp_path, monkeypatch
):
    """Every micro-batch of _drain_foreach_batch must plan its shuffles
    with the count set at drain start: a batch_df-rooted aggregation
    and an outer-session-rooted join both see the override (5, neither
    the floor nor the session default), and the outer conf is restored
    after the drain."""
    import shutil

    from genai_batch_processor_spark.streaming import ingest

    monkeypatch.setenv("SPARK_GRAFT_STREAM_PARTITIONS", "5")
    src = str(tmp_path / "src")
    for i in range(2):
        (
            spark.range(i * 100, (i + 1) * 100, 1, 1)
            .write.mode("append")
            .parquet(src)
        )
    seen: list[tuple[int, int]] = []

    def process(batch_df, epoch_id):
        agg = batch_df.groupBy(F.col("id") % 3).count()
        join = spark.range(200).join(
            batch_df.hint("shuffle_merge"), "id"
        )
        seen.append(
            (agg.rdd.getNumPartitions(), join.rdd.getNumPartitions())
        )

    stream = (
        spark.readStream.schema("id long")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    ckpt = str(tmp_path / "ckpt")
    prev_parts = spark.conf.get("spark.sql.shuffle.partitions")
    prev_aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try:
        ingest._drain_foreach_batch(spark, stream, process, ckpt)
        restored = spark.conf.get("spark.sql.shuffle.partitions")
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", prev_aqe)
        shutil.rmtree(ckpt, ignore_errors=True)
    assert prev_parts != "5"
    assert seen == [(5, 5), (5, 5)]
    assert restored == prev_parts


# -- assign_ids / the prefix-sum kernel ------------------------------------


def _adversarial_doubles() -> list[float | None]:
    random.seed(7)
    vals: list[float | None] = [
        0.0,
        -0.0,
        float("inf"),
        float("-inf"),
        float("nan"),
        5e-324,
        -5e-324,
        1.7976931348623157e308,
        -1.7976931348623157e308,
        None,
        None,
    ]
    for k in range(-1074, 1025, 149):
        v = math.ldexp(1.0, k)
        vals += [
            v,
            math.nextafter(v, float("inf")),
            math.nextafter(v, 0.0),
            -v,
        ]
    vals += [random.uniform(-1e9, 1e9) for _ in range(100)]
    return vals


def test_assign_ids_matches_single_window_on_adversarial_doubles(spark):
    """The equal-width buckets must compose into the single-window
    reference order on doubles that stress the bucket bounds: NULL,
    ±0, ±Inf, NaN, denormals, power-of-two boundaries and ±1.797e308.
    Keys are compared in idx order; NULL and ±0 ties compare as
    blocks (their order within the block is arbitrary)."""
    vals = _adversarial_doubles()
    df = spark.createDataFrame(
        [(i, v) for i, v in enumerate(vals)], "rid long, key double"
    )

    def keys_in_idx_order(out):
        return [
            "null" if k is None else "nan" if math.isnan(k) else k + 0.0
            for k in (
                r["key"] for r in out.orderBy("idx").select("key").collect()
            )
        ]

    got = keys_in_idx_order(ids.assign_ids(df, "key"))
    want = keys_in_idx_order(ids.assign_ids(df, "key", buckets=1))
    assert len(got) == len(vals)
    assert got == want


def test_assign_ids_one_pass_matches_single_window(spark):
    """The bucketed path must produce the exact ordinals of the
    single-window reference on unique keys of every proxy type."""
    import datetime

    random.seed(11)
    day0 = datetime.date(1970, 1, 1)
    for schema, keys in [
        (
            "key date",
            [
                day0 + datetime.timedelta(days=d)
                for d in random.sample(range(-30000, 30000), 300)
            ],
        ),
        ("key long", random.sample(range(-(10**12), 10**12), 300)),
        ("key double", [random.uniform(-1e300, 1e300) for _ in range(300)]),
        (
            "key string",
            [f"{random.randrange(16**8):08x}-{i}" for i in range(300)],
        ),
    ]:
        rows = [(i, k) for i, k in enumerate(keys)]
        df = spark.createDataFrame(rows, "rid long, " + schema)
        got = {r["rid"]: r["idx"] for r in ids.assign_ids(df, "key").collect()}
        want = {
            r["rid"]: r["idx"]
            for r in ids.assign_ids(df, "key", buckets=1).collect()
        }
        assert got == want, f"ordinal mismatch for {schema}"


def test_assign_ids_two_bounded_pre_actions(spark, sf_dir):
    """The ordinal preamble runs exactly two bounded aggregate actions
    (finite min/max, per-bucket totals — at most 4 scheduler jobs under
    AQE), the final plan stays free of SinglePartition exchanges, and
    the bucket offsets reach the optimized plan as ONE folded map
    literal (no per-row array or map construction)."""
    docs = load_table(spark, sf_dir, "documents")
    docs.count()  # warm the file listing outside the measured window
    sc = spark.sparkContext
    bus = sc._jsc.sc().listenerBus()
    store = spark._jsparkSession.sharedState().statusStore()
    tracker = sc.statusTracker()
    bus.waitUntilEmpty()
    execs_before = store.executionsCount()
    jobs_before = len(tracker.getJobIdsForGroup(None))
    out = ids.assign_ids(docs, "doc_id")
    bus.waitUntilEmpty()
    n_actions = store.executionsCount() - execs_before
    n_jobs = len(tracker.getJobIdsForGroup(None)) - jobs_before
    assert n_actions == 2, f"expected 2 pre-actions, saw {n_actions}"
    assert 2 <= n_jobs <= 4, f"expected <= 4 scheduler jobs, saw {n_jobs}"
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "SinglePartition" not in plan
    opt = out._jdf.queryExecution().optimizedPlan().toString()
    assert opt.count("map(keys: [") == 1, opt
    assert "array(" not in opt and "from_json" not in opt, opt
