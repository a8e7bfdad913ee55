"""Deterministic row ids, join-back keys, and the bucket-parallel
exclusive prefix sum they are built on.

The reference relies on input *order*: ``enumerate(data)``
(``openai_batch_processor.py:138``) and a positional zip join
(``examples/vertex_ai/run_text_classifier.py:149``). DataFrames are
unordered, so order must become data: a running count over a stable
key (NOT ``monotonically_increasing_id``, which is partition-dependent
and non-contiguous — SURVEY.md §2 #4).

Scale design: a running window with no PARTITION BY is a
single-reducer sort (every row through ONE task — impossible at
100 TB). :func:`exclusive_prefix_sums` instead cuts the key space into
equal-width VALUE ranges over the key's finite [min, max]: a
per-bucket running window plus a driver-computed per-bucket offset
gives the identical global running sum with parallelism = number of
buckets. ``assign_ids`` is that kernel over a constant 1 (a running
count); ``operators.batching.plan_shards`` runs it over request bytes
and tokens. Value-derived buckets (not ``repartitionByRange``) on
purpose: range-exchange boundaries come from per-execution sampling,
and the offsets job and the final job could see DIFFERENT boundaries
— value bucketing is a pure function of the data, so both jobs agree.
Cost: two small aggregate actions (finite min/max, per-bucket totals)
before the one real shuffle. Buckets are equal in WIDTH, not in row
count: a skewed key distribution makes the buckets skewed (raise
``buckets`` or pre-map the key if so). String keys bucket by a numeric
PROXY — the first 7 UTF-8 bytes zero-padded and read as an integer —
which is monotone non-decreasing w.r.t. Spark's string ordering
(UTF8String compares raw bytes; zero-padding is the infimum of all
extensions; the double rounding above 2^53 is itself monotone), so
per-bucket ranking by the REAL key still composes into the exact
global order. Only exotic key types (binary, struct, …) fall back to
the single-window path (fine for dimension-sized inputs).

``custom_id_from_key`` is the zero-shuffle path when a natural key
already exists (every fixture table has one).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NUMERIC = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType, T.TimestampType,
)


def _order_proxy(order_by: str, dtype) -> Column | None:
    """Numeric bucket coordinate, monotone non-decreasing w.r.t. the
    key's sort order — or None when the type has no cheap proxy."""
    if isinstance(dtype, _NUMERIC):
        return F.col(order_by).cast("double")
    if isinstance(dtype, T.DateType):  # date -> double is not a legal cast
        return F.unix_date(F.col(order_by)).cast("double")
    if isinstance(dtype, T.StringType):
        # First 7 UTF-8 bytes, zero-padded, as a base-256 integer:
        # key1 < key2 (byte-wise, which IS Spark string ordering)
        # implies proxy1 <= proxy2. 7 bytes = 14 hex digits < 2^56,
        # inside conv's long range.
        return F.conv(
            F.hex(F.expr(f"rpad(encode(`{order_by}`, 'UTF-8'), 7, x'00')")),
            16,
            10,
        ).cast("double")
    return None


def exclusive_prefix_sums(
    df: DataFrame,
    *,
    order_by: str,
    cols: list[tuple[Column | str, str]],
    buckets: int | None = None,
) -> DataFrame:
    """Running totals in ``order_by`` order, EXCLUSIVE of the current
    row, without an unpartitioned window. ``cols`` is
    ``[(value, out_col), ...]`` (value: column name or Column); each
    ``out_col`` is a long, 0 on the first row.

    Rows are bucketed into ``buckets`` (default 2 × default
    parallelism) equal-width ranges over the finite [min, max] of the
    key's proxy; NULL, -Inf, +Inf and NaN keys take fixed edge buckets
    in Spark's ascending sort order (NULL first, NaN last). One
    collect of per-bucket totals (all ``cols`` aggregated together)
    gives each bucket's offset, shipped as ONE literal map (folded to
    a constant by the optimizer); within a bucket a window ordered by
    ``order_by`` supplies the local running sum. Keys without a proxy,
    ``buckets <= 1``, and inputs without a usable finite range take
    the single-window reference path. Ties in ``order_by`` are ordered
    arbitrarily, as on the reference path."""
    vals = [F.col(v) if isinstance(v, str) else v for v, _ in cols]
    knum = _order_proxy(order_by, df.schema[order_by].dataType)
    if buckets is None:
        buckets = df.sparkSession.sparkContext.defaultParallelism * 2
    width = 0.0
    if knum is not None and buckets > 1:
        finite = F.when(
            ~F.isnan(knum) & (F.abs(knum) != F.lit(float("inf"))), knum
        )
        lo, hi = df.agg(F.min(finite), F.max(finite)).first()
        if lo is not None:
            # divided before subtracting: hi - lo overflows at ±1.8e308
            width = hi / buckets - lo / buckets
    w = Window.orderBy(order_by)
    offsets = None
    if width > 0:
        bucket = (
            F.when(knum.isNull(), F.lit(-2))
            .when(knum == F.lit(float("-inf")), F.lit(-1))
            .when(knum == F.lit(float("inf")), F.lit(buckets))
            .when(F.isnan(knum), F.lit(buckets + 1))
            .otherwise(
                # k/width - lo/width: monotone in k, never overflows
                F.least(
                    F.floor(knum / F.lit(width) - F.lit(lo / width)),
                    F.lit(buckets - 1),
                )
            )
            .cast("int")
        )
        df = df.withColumn("__psb", bucket)
        totals = sorted(
            tuple(r)
            for r in df.groupBy("__psb")
            .agg(*[F.sum(v).cast("long") for v in vals])
            .collect()
        )
        entries = []
        acc = [0] * len(vals)
        for b, *tots in totals:
            offs = F.array(*[F.lit(a).cast("long") for a in acc])
            entries += [F.lit(b), offs]
            acc = [a + (t or 0) for a, t in zip(acc, tots)]
        offsets = F.create_map(*entries)[F.col("__psb")]
        w = Window.partitionBy("__psb").orderBy(order_by)
    w = w.rowsBetween(Window.unboundedPreceding, -1)
    for i, (v, (_, out_col)) in enumerate(zip(vals, cols)):
        running = F.coalesce(F.sum(v).over(w), F.lit(0))
        if offsets is not None:
            running = running + offsets[i]
        df = df.withColumn(out_col, running.cast("long"))
    return df.drop("__psb")


def assign_ids(
    df: DataFrame,
    order_by: str,
    id_col: str = "idx",
    buckets: int | None = None,
) -> DataFrame:
    """0-based dense ordinal by ``order_by`` (reference ``enumerate``
    semantics, oai:138): :func:`exclusive_prefix_sums` over a constant
    1. ``buckets <= 1`` forces the single-window reference path (tests
    use it as the semantics reference)."""
    return exclusive_prefix_sums(
        df, order_by=order_by, cols=[(F.lit(1), id_col)], buckets=buckets
    )


def custom_id(idx: Column | str, prefix: str = "request") -> Column:
    """Stable join-back key ``request-{i}`` (run_text_classifier.py:50)."""
    c = F.col(idx) if isinstance(idx, str) else idx
    return F.format_string(f"{prefix}-%d", c.cast("long"))


def custom_id_from_key(key: Column | str, prefix: str = "request") -> Column:
    """Shuffle-free key synthesis from a natural key — the 100 TB path."""
    c = F.col(key) if isinstance(key, str) else key
    return F.format_string(f"{prefix}-%d", c.cast("long"))


def retry_custom_id(
    key: Column | str, attempt: int, prefix: str = "request"
) -> Column:
    """Attempt-salted join-back key: ``request-{i}`` on the first
    attempt, ``request-{i}-r{attempt}`` on resubmits. A resubmitted
    request must NOT reuse its failed custom_id — providers reject
    duplicate ids within a batch, and a fresh id keeps each attempt's
    response row distinct in the result relation. ``extract_index``
    still parses the ordinal (the suffix rides after it)."""
    base = custom_id_from_key(key, prefix)
    if attempt <= 1:
        return base
    return F.format_string("%s-r%d", base, F.lit(attempt))


def extract_index(cid: Column | str) -> Column:
    """Parse the ordinal back out of ``request-{i}``
    (run_text_classifier.py:106)."""
    c = F.col(cid) if isinstance(cid, str) else cid
    return F.split(c, "-").getItem(1).cast("long")
