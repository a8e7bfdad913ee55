"""Deduplication operators (north-star, SURVEY.md §2.D): exact,
MinHash+LSH, and SimHash near-dup — each with a DuckDB-SQL twin built
from the SAME constants so every op is oracle-checkable.

The reference has no dedup surface; these are the mandated extensions for
a training-data pipeline. Design for 100 TB:

- exact dedup is a hash group-by (partial agg map-side; one shuffle on
  the text hash, never on the text itself).
- MinHash-LSH: signatures are per-row column math (no shuffle); banding
  explodes to B rows/doc and shuffles on (band, key) — candidate
  generation is the ONLY quadratic-risk step and it is bounded per
  bucket. Verification joins only candidate pairs back to shingle sets.
- SimHash: 16-bit signature; near-dup candidates via 4-bit band equality
  (pigeonhole: hamming ≤ 3 ⇒ at least one of 4 nibbles equal), then
  exact hamming over the XOR. All-pairs comparison never happens.

Skew note: a degenerate bucket (e.g. empty-text shingle) would explode
the candidate join; ``candidate_pairs`` caps bucket size via a window
count (MAX_BUCKET, dropped buckets are reported by the caller's metrics
rather than silently joined).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import hashing, scaling, text as tx
from genai_batch_processor_spark.functions.fanout import fan_out

SHINGLE_N = 3
MINHASH_K = 16
LSH_BANDS = 4
LSH_ROWS = MINHASH_K // LSH_BANDS  # 4
JACCARD_THRESHOLD = 0.8
SIMHASH_BITS = 32
SIMHASH_BANDS = 4
SIMHASH_MAX_HAMMING = 3  # pigeonhole-compatible with 4 bands of 8 bits
# -- scale-adaptive signature width (round-8 verdict item 1) -----------------
# A 32-bit SimHash saturates as the corpus grows, TWICE OVER:
# (1) OUTPUT — signatures of docs sharing a vocabulary concentrate, so
#     the docs inside any hamming-≤3 ball grow with corpus size by
#     construction (measured at sf10, 500k docs: 896x output pairs at
#     100x rows — ball saturation, not near-dup structure);
# (2) CANDIDATES — 8-bit nibble cells number only bands × 256, so at
#     500k docs each (band, nib) cell holds ~2k docs and the in-cell
#     pair explode generates ~2 BILLION candidates before the hamming
#     filter sees one of them.
# Past SIMHASH_WIDEN_DOCS the signature widens to 56 bits in 4 bands
# of 14-BIT nibbles: random-pair hamming concentrates near 28 so
# hamming-≤3 balls stay tiny (fixes 1), and cells number 4 × 2^14 so
# the in-cell population — and with it candidate volume — drops ~64x
# (fixes 2). Band COUNT stays 4: more bands would multiply candidate
# work; the selectivity comes from wider nibbles, and the pigeonhole
# recall guarantee needs only max_hamming < bands. 56 (not 64) keeps
# the signature strictly positive in a signed int64 on BOTH engines —
# no sign-bit contortions in band extraction or the DuckDB twin. Wide
# signatures vote on 60-bit feature hashes (portable_hash60): 32-bit
# features carry no signal above bit 31, so bits 32..55 of a wide
# signature would otherwise be constant. The threshold sits between
# sf1 (50k docs — recorded hashes and scale evidence untouched) and
# the measured saturation point (500k); the DuckDB twins branch on
# the SAME corpus count (sql_adaptive_* helpers), so parity is
# data-dependent at every scale, like adaptive_max_bucket.
SIMHASH_WIDEN_DOCS = 200_000
SIMHASH_WIDE_BITS = 56
SIMHASH_WIDE_BANDS = 4
# the band math (divisibility, pigeonhole recall guarantee) must hold
# at EVERY width — fail at import, not in a plan
for _bits, _bands in ((SIMHASH_BITS, SIMHASH_BANDS),
                      (SIMHASH_WIDE_BITS, SIMHASH_WIDE_BANDS)):
    if _bits % _bands:
        raise ValueError("SimHash bits must divide evenly into bands")
    if not SIMHASH_MAX_HAMMING < _bands:
        raise ValueError(
            "pigeonhole recall needs max_hamming < bands at every width"
        )
del _bits, _bands


def adaptive_simhash_width(n_rows: int) -> tuple[int, int]:
    """Corpus-derived (bits, bands): the fixture-scale 32/4 up to
    SIMHASH_WIDEN_DOCS rows, 56/4 (14-bit nibbles) past it. Monotone
    step, mirrored data-dependently in the DuckDB twins
    (sql_adaptive_simhash_*)."""
    if n_rows <= SIMHASH_WIDEN_DOCS:
        return SIMHASH_BITS, SIMHASH_BANDS
    return SIMHASH_WIDE_BITS, SIMHASH_WIDE_BANDS


MAX_BUCKET = 64  # skew guard for LSH buckets
# -- scale-adaptive bucket cap (round-5 verdict item 1) ----------------------
# The SimHash nibble-band cells number only SIMHASH_BANDS x 2^8, so
# cell population grows LINEARLY with the corpus: at sf1 (50k docs) a
# fixed 64 cap dropped every populated cell and simhash_near_dup
# silently returned zero rows. The adaptive cap grows one unit per
# BUCKET_CAP_DOCS corpus rows — base at every oracle-fixture scale
# (500/5,000 docs both resolve to 64, so recorded hashes are
# untouched), 500 at sf1 — mirrored data-dependently in the DuckDB
# twin (sql_adaptive_max_bucket), so parity holds at EVERY scale, not
# just where the constant happens to match. MAX_BUCKET_CEIL bounds the
# in-cell quadratic ((ceil^2)/2 pairs per cell max); past
# SIMHASH_WIDEN_DOCS the structural remedy — a wider signature, so
# cells shrink and balls stay tiny — is applied AUTOMATICALLY by
# adaptive_simhash_width (r8 verdict item 1), no manual knob.
BUCKET_CAP_DOCS = 100
MAX_BUCKET_CEIL = 4096


def adaptive_max_bucket(n_rows: int, base: int = MAX_BUCKET) -> int:
    """Corpus-derived bucket cap: ``clamp(n/BUCKET_CAP_DOCS, base,
    MAX_BUCKET_CEIL)``. Monotone in ``n_rows`` (property-tested)."""
    return scaling.clamped_linear(
        n_rows, base, MAX_BUCKET_CEIL, BUCKET_CAP_DOCS
    )


def sql_adaptive_max_bucket(table: str = "documents", base: int = MAX_BUCKET) -> str:
    """DuckDB twin of :func:`adaptive_max_bucket` as a scalar subquery
    over ``table`` — the oracle derives the SAME cap from the SAME
    corpus, keeping parity data-dependent rather than fixture-lucky."""
    return scaling.sql_clamped_linear(
        table, base, MAX_BUCKET_CEIL, BUCKET_CAP_DOCS
    )


WINNOW_K = 4  # words per k-gram for winnowing
WINNOW_W = 4  # winnowing window (guarantee: any ≥ k+w-1 word match shares a fp)
WINNOW_MIN_SHARED = 2

_FAMILY = hashing.hash_family(MINHASH_K)


# Fixed sentence hashed through the LIVE shingling pipeline for the
# scheme fingerprint's canary; long enough to yield several shingles at
# any plausible SHINGLE_N.
_SCHEME_CANARY_TEXT = (
    "minhash scheme canary the quick brown fox jumps over the lazy dog"
)
_scheme_fp_cache: dict[tuple[int, int, int, int], str] = {}


def minhash_scheme_fingerprint() -> str:
    """Stable content hash of every constant the at-rest band-index
    LAYOUT depends on: shingle width, signature length, band geometry,
    the universal-hash family's (a, b) parameters, AND a live
    tokenization canary — the actual ``shingle_hashes`` output the
    current implementation produces for a fixed sentence (one 1-row
    constant-folded job, memoized per process). The canary means any
    change to word-splitting, shingle assembly, or the 32-bit hash —
    not just to the constants someone remembered to version — changes
    the fingerprint: a sunk index row (band, key, hs) is only
    meaningful under the exact scheme that produced it, and a probe
    under a retuned scheme would hash the same text to different band
    keys and silently miss every stored near-duplicate. The MinHash
    twin of ``similarity.centroid_fingerprint``: stamped at save
    (sources/index_store.py) and under the streaming sink root
    (streaming/ingest.py), compared at load/restart."""
    import hashlib
    import struct

    from pyspark.sql import SparkSession

    key = (SHINGLE_N, MINHASH_K, LSH_BANDS, LSH_ROWS)
    cached = _scheme_fp_cache.get(key)
    if cached is not None:
        return cached
    # getActiveSession() is THREAD-LOCAL in PySpark: a call from a
    # background maintenance thread or a streaming listener sees None
    # even while the driver session is alive. Fall back to the
    # process-wide instantiated session — and ONLY that: a bare
    # builder.getOrCreate() here would silently construct a brand-new
    # default-config session in a genuinely session-less process, a
    # heavyweight side effect from a function that promises a pure
    # fingerprint. No session anywhere → the loud error stays.
    spark = SparkSession.getActiveSession()
    if spark is None:
        spark = getattr(SparkSession, "_instantiatedSession", None)
    if spark is None:
        raise RuntimeError(
            "minhash_scheme_fingerprint needs a live SparkSession "
            "(in any thread) to run its live shingling canary"
        )
    canary = (
        spark.range(1)
        .select(shingle_hashes(F.lit(_SCHEME_CANARY_TEXT)).alias("hs"))
        .collect()[0]["hs"]
    )
    h = hashlib.sha256()
    for v in key:
        h.update(struct.pack("<q", v))
    for a, b in _FAMILY[:MINHASH_K]:
        h.update(struct.pack("<qq", a, b))
    for c in canary:
        h.update(struct.pack("<q", c))
    fp = h.hexdigest()
    _scheme_fp_cache[key] = fp
    return fp


# -- exact dedup -------------------------------------------------------------


def _fanned(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Project to (id, text) and apply the parallelism floor
    (functions/fanout.py) BEFORE the shingle/MinHash expressions: the
    per-row hashing is the expensive narrow stage of every operator
    below, and a single-split local scan would run it in one task
    (profiled round 13: 2.8 s single-task banding for ngram_jaccard at
    sf0.1 on 32 cores). No-op — no exchange — whenever the scan
    already carries >= default-parallelism partitions, i.e. at any
    real corpus scale."""
    return fan_out(df.select(id_col, text_col))


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Keep the min-id row per distinct text (hash group-by; SURVEY.md
    §2.D 'exact dedup'). Shuffles on a 60-bit text hash, not the text."""
    h = hashing.portable_hash60(text_col).alias("__h")
    survivors = (
        df.select(h, F.col(id_col))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .select(id_col)
    )
    return df.join(survivors, on=id_col, how="inner")


# -- MinHash + LSH -----------------------------------------------------------


def shingle_hashes(
    text: Column | str, n: int = SHINGLE_N, hash_bits: int = 32
) -> Column:
    """Distinct word-shingle hashes (the doc's shingle *set*), 32-bit
    by default; ``hash_bits=60`` switches to portable_hash60 for the
    wide-SimHash feature space (MinHash must stay on 32 — the
    universal-hash family's overflow bound needs h < 2^32).

    NULL text → NULL (not a [NULL] singleton): without the guard every
    NULL document got the SAME degenerate signature downstream — the
    sentinel MinHash and simhash 0 — and NULL docs paired with each
    other as perfect duplicates. NULL-in, NULL-out matches the DuckDB
    twins (fuzz-pinned on a NULL corpus row)."""
    hasher = (
        hashing.portable_hash32 if hash_bits <= 32 else hashing.portable_hash60
    )
    t = tx._c(text)
    return F.when(
        t.isNotNull(),
        F.transform(F.array_distinct(tx.shingles(t, n)), hasher),
    )


def minhash_signature(hashes: Column, k: int = MINHASH_K) -> Column:
    """k-permutation MinHash signature over a shingle-hash array —
    pure per-row column math, no shuffle."""
    # Single aggregate pass: the accumulator is the running elementwise min
    # of the k permuted hashes. One pass means `hashes` (md5-heavy when fed
    # shingle_hashes(text) inline) evaluates once per row — k separate
    # array_min(transform(...)) exprs would re-evaluate it k times (codegen
    # CSE does not reach inside HOF lambdas).
    init = F.array_repeat(F.lit(hashing.MERSENNE_31).cast("long"), k)
    return F.aggregate(
        hashes,
        init,
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[hashing.universal_hash(h, a, b) for a, b in _FAMILY[:k]]
            ),
            lambda x, y: F.least(x, y),
        ),
    )


def band_keys(sig: Column, bands: int = LSH_BANDS, rows: int = LSH_ROWS) -> Column:
    """Array of (band, key) structs: key = portable hash of the band's
    signature slice. Equal key in any band ⇒ candidate pair."""
    return F.array(
        *[
            F.struct(
                F.lit(j).alias("band"),
                hashing.portable_hash60(
                    F.concat_ws("-", F.slice(sig, j * rows + 1, rows))
                ).alias("key"),
            )
            for j in range(bands)
        ]
    )


def _band_index(bands: int) -> Column:
    """Literal band-index array for explode. Exploding a LITERAL array is
    free: the implicit `size(e) > 0` filter that Generate adds constant-
    folds away — exploding an array of computed structs instead would
    re-evaluate the whole (md5-heavy) expression once more in that
    filter, doubling per-row work."""
    return F.explode(F.array(*[F.lit(j) for j in range(bands)]))


def band_key_at(sig: Column, band: Column, rows: int = LSH_ROWS) -> Column:
    """Band key from a MATERIALIZED signature column + dynamic band index
    (cheap per exploded row: hashes `rows` longs, not the corpus text)."""
    return hashing.portable_hash60(
        F.concat_ws("-", F.slice(sig, band * rows + 1, rows))
    )


def _pairs_within_buckets(
    buckets: DataFrame, group_cols: list[str], max_bucket: int
) -> DataFrame:
    """(id_a < id_b) pairs within each bucket via collect_list + explode.

    A bucketed SELF-JOIN would evaluate the (md5-heavy) signature pipeline
    once per join side; aggregating ids into a sorted array evaluates it
    ONCE, and pair generation over a ≤max_bucket array is trivial local
    work. The size cap doubles as the skew guard — degenerate buckets are
    dropped, not joined. Expects an ``__id`` column."""
    grouped = (
        buckets.groupBy(*group_cols)
        .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select(F.col("p.id_a").alias("id_a"), F.col("p.id_b").alias("id_b"))
        .distinct()
    )


def candidate_pairs(
    df: DataFrame, id_col: str, text_col: str, max_bucket: int = MAX_BUCKET
) -> DataFrame:
    """LSH candidate (id_a < id_b) pairs. One explode (B rows/doc), one
    shuffle on (band, key), bucket-size cap against skew."""
    sigs = _fanned(df, id_col, text_col).select(
        F.col(id_col).alias("__id"),
        minhash_signature(shingle_hashes(text_col)).alias("__sig"),
    )
    buckets = sigs.select(
        "__id", "__sig", _band_index(LSH_BANDS).alias("band")
    ).select(
        "__id",
        "band",
        band_key_at(F.col("__sig"), F.col("band")).alias("key"),
    )
    return _pairs_within_buckets(buckets, ["band", "key"], max_bucket)


def jaccard(sh_a: Column, sh_b: Column) -> Column:
    """Exact Jaccard over two distinct-shingle-hash arrays."""
    inter = F.size(F.array_intersect(sh_a, sh_b))
    union = F.size(F.array_union(sh_a, sh_b))
    return inter.cast("double") / union


def near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """MinHash-LSH near-duplicate pairs, Jaccard-verified.

    Returns (id_a, id_b, jaccard) with jaccard ≥ threshold. Only LSH
    candidates are verified — the full cross product never materializes.
    Features are word 3-shingles; see :func:`ngram_jaccard_pairs` for the
    character-n-gram variant."""
    hashed = _fanned(df, id_col, text_col).select(
        F.col(id_col).alias("__id"), shingle_hashes(text_col).alias("__hs")
    )
    return jaccard_pairs_from_hashes(hashed, threshold, max_bucket)


NGRAM_N = 5
NGRAM_STEP = 2  # sparse shingling: halves hash + shuffle cost
NGRAM_JACCARD_THRESHOLD = 0.6


def char_shingle_hashes(
    text: Column | str, n: int = NGRAM_N, step: int = NGRAM_STEP
) -> Column:
    """Distinct character-n-gram 32-bit hashes (n-gram Jaccard features),
    sparse-sampled every ``step`` positions."""
    return F.transform(
        F.array_distinct(tx.char_shingles(text, n, step)),
        hashing.portable_hash32,
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = NGRAM_N,
    threshold: float = NGRAM_JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs (§2.D 'n-gram Jaccard').

    Same MinHash-LSH candidate machinery as :func:`near_dup_pairs` but
    the feature set is character n-grams — robust to tokenization and
    whitespace edits; threshold is lower because char-gram Jaccard of
    paraphrased text sits below word-shingle Jaccard of near-identical
    text."""
    hashed = _fanned(df, id_col, text_col).select(
        F.col(id_col).alias("__id"),
        char_shingle_hashes(text_col, n).alias("__hs"),
    )
    return jaccard_pairs_from_hashes(hashed, threshold, max_bucket)


def jaccard_pairs_from_hashes(
    hashed: DataFrame,
    threshold: float,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Verified (id_a, id_b, jaccard ≥ threshold) pairs from a
    ``(__id, __hs)`` feature-hash relation.

    Single-scan design: the feature-hash set rides along with the id
    into the band buckets, so verification happens inside the bucket
    explosion — ONE pass over the corpus, one shuffle on (band, key),
    no join back to a recomputed shingle relation. The carried set costs
    B× its size in shuffle volume; with B=4 bands that is far cheaper
    than 3 extra corpus scans + 2 shuffled joins (the alternative).
    Pairs colliding in several bands are deduped by a distinct over the
    (small) scored candidate set.
    """
    # The aggregate-based signature references __hs once, so the md5
    # feature hashing still evaluates a single time per row.
    sigs = hashed.select(
        F.struct(F.col("__id").alias("id"), F.col("__hs").alias("hs")).alias(
            "__rec"
        ),
        minhash_signature(F.col("__hs")).alias("__sig"),
    )
    exploded = _banded_rec_pairs(
        sigs,
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.round(jaccard(x["hs"], y["hs"]), 6).alias("jaccard"),
        ),
        max_bucket,
    )
    return (
        exploded.select("p.id_a", "p.id_b", "p.jaccard")
        .distinct()
        .filter(F.col("jaccard") >= threshold)
    )


def _banded_rec_pairs(sigs: DataFrame, pair_fn, max_bucket: int) -> DataFrame:
    """THE LSH candidate plan, shared by every carried-record pair
    family (verified pairs, estimator calibration): band the signature,
    bucket on (band, key), sorted-array in-bucket pairing under the
    size cap, explode ``pair_fn(x, y)`` structs as column ``p``.
    Centralized so band count, the cap predicate, and the id-ordered
    pairing can never drift between the production pair set and an
    audit computed over it.

    ``sigs`` must provide ``__rec`` (a struct whose FIRST field is the
    id — sort_array orders the bucket by it, which is what makes
    ``id_a < id_b`` structural) and ``__sig`` (the MinHash signature
    the caller computed — passed in, not recomputed here, so a caller
    carrying the signature inside ``__rec`` pays the md5 pipeline only
    once)."""
    buckets = sigs.select(
        "__rec", "__sig", _band_index(LSH_BANDS).alias("band")
    ).select(
        "__rec",
        "band",
        band_key_at(F.col("__sig"), F.col("band")).alias("key"),
    )
    grouped = (
        buckets.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list("__rec")).alias("recs"))
        .filter((F.size("recs") >= 2) & (F.size("recs") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("recs"),
            lambda x, i: F.transform(
                F.slice(F.col("recs"), i + 2, F.size(F.col("recs"))),
                lambda y: pair_fn(x, y),
            ),
        )
    )
    return grouped.select(F.explode(pairs).alias("p"))


def minhash_calibration_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Per-candidate-pair estimator audit rows: the MinHash signature
    ESTIMATE of Jaccard (matching components / K) next to the exact
    shingle Jaccard, both in integer milli — the relation a calibration
    report aggregates to decide whether K is large enough for the
    threshold in use (the estimator's std err is ~sqrt(J(1-J)/K); with
    K=16 a 0.8-threshold screen needs the verify step this engine
    always runs — this query QUANTIFIES why).

    Same single-scan carry design as :func:`jaccard_pairs_from_hashes`:
    (id, hs, sig) ride together into the band buckets, so shingling
    and signing evaluate once per row; all arithmetic is integer
    (milli = x*1000 div y), engine-exact.

    Output: (id_a, id_b, true_milli, est_milli).

    NULL-text rows are excluded BEFORE banding: a NULL signature would
    band to the shared ``hash60('')`` key (``concat_ws`` flattens a
    NULL slice to ''), pairing NULL docs with each other — pairs the
    DuckDB twin (whose ``array_to_string`` keeps NULL keys out of the
    join) never emits. jaccard/near-dup paths are shielded by their
    threshold filter; this unfiltered audit needs the explicit guard."""
    hashed = _fanned(df, id_col, text_col).select(
        F.col(id_col).alias("__id"), shingle_hashes(text_col).alias("__hs")
    ).filter(F.col("__hs").isNotNull())
    sigs = hashed.select(
        F.struct(
            F.col("__id").alias("id"),
            F.col("__hs").alias("hs"),
            minhash_signature(F.col("__hs")).alias("sig"),
        ).alias("__rec"),
    ).select("__rec", F.col("__rec.sig").alias("__sig"))

    def _matches(sa, sb):
        return F.size(
            F.filter(F.zip_with(sa, sb, lambda x, y: x == y), lambda v: v)
        )

    exploded = _banded_rec_pairs(
        sigs,
        lambda x, y: F.struct(
            x["id"].alias("id_a"),
            y["id"].alias("id_b"),
            F.size(F.array_intersect(x["hs"], y["hs"])).alias("inter"),
            F.size(F.array_union(x["hs"], y["hs"])).alias("un"),
            _matches(x["sig"], y["sig"]).alias("m"),
        ),
        max_bucket,
    )
    return (
        exploded.select("p.id_a", "p.id_b", "p.inter", "p.un", "p.m")
        .distinct()
        # un == 0 (empty shingle union) would make true_milli NULL while
        # est_milli reads 1000 off matching sentinel signatures, breaking
        # the 0<=true_milli<=1000 invariant. Unreachable today only via
        # shingles()'s whole-text fallback (>=1 shingle for any non-NULL
        # text); make the guard explicit rather than rely on that.
        .filter(F.col("un") > 0)
        .select(
            "id_a",
            "id_b",
            F.expr("inter * 1000 div un").cast("long").alias("true_milli"),
            F.expr(f"m * 1000 div {MINHASH_K}")
            .cast("long")
            .alias("est_milli"),
        )
    )


# -- incremental near-dup (persisted index, probe-only new batches) ----------


def minhash_index(
    df: DataFrame, id_col: str, text_col: str, fanout: bool = True
) -> DataFrame:
    """The persistable LSH index of a corpus: one row per (band, doc)
    carrying ``(band, key, id, hs, bucket_n)`` — the banded bucket
    relation WITH the verification payload AND its bucket's member
    count, so a later batch can probe buckets, Jaccard-verify, and
    apply the combined bucket-size cap without re-reading the indexed
    corpus text OR re-counting its buckets. The B× redundancy of
    ``hs`` is the price of single-join probing; at rest, partition by
    ``band`` (see sources/index_store.py).

    At 100 TB this is the difference between re-shingling the whole
    corpus per ingest batch and an index-probe join whose left side is
    only the new batch — and ``bucket_n`` is what lets the probe skip
    the index-wide aggregation too (one groupBy at BUILD time, free at
    every probe).

    ``fanout=False`` skips the parallelism-floor repartition: pass it
    when ``df`` is a streaming MICRO-BATCH (r13 ADVICE) — micro-batches
    are small by contract, so fan_out's 'no-op at real scale' premise
    never holds there, and a cluster-width exchange per epoch fights
    the micro-batch-sized drain partitioning."""
    base_in = (
        _fanned(df, id_col, text_col)
        if fanout
        else df.select(id_col, text_col)
    )
    hashed = base_in.select(
        F.col(id_col).alias("__id"), shingle_hashes(text_col).alias("__hs")
    )
    sigs = hashed.select(
        F.struct(
            F.col("__id").alias("id"), F.col("__hs").alias("hs")
        ).alias("__rec"),
        minhash_signature(F.col("__hs")).alias("__sig"),
    )
    base = (
        sigs.select("__rec", "__sig", _band_index(LSH_BANDS).alias("band"))
        .select(
            "band",
            band_key_at(F.col("__sig"), F.col("band")).alias("key"),
            F.col("__rec.id").alias("id"),
            F.col("__rec.hs").alias("hs"),
        )
    )
    # window count, not groupBy+join-back: the join would evaluate the
    # md5-heavy base pipeline twice (once for the sizes aggregate, once
    # for the join's left side); the window shuffles once on (band,key)
    # and counts in place.
    return with_bucket_counts(base)


def with_bucket_counts(base: DataFrame) -> DataFrame:
    """Attach/refresh ``bucket_n`` on a ``(band, key, id, hs)``
    relation via a window count (one shuffle, single evaluation).

    Also the REPAIR step after deleting rows from a persisted index
    (takedowns via the partitioned delete): the denormalized
    ``bucket_n`` on surviving rows still counts the removed members,
    which over-applies the combined bucket cap at probe time — refresh
    and rewrite after erasures."""
    from pyspark.sql.window import Window as _W

    return base.drop("bucket_n").withColumn(
        "bucket_n",
        F.count(F.lit(1))
        .over(_W.partitionBy("band", "key"))
        .cast("long"),
    )


def incremental_near_dup_pairs(
    index: DataFrame,
    new_docs: DataFrame,
    id_col: str,
    text_col: str,
    threshold: float = JACCARD_THRESHOLD,
    max_bucket: int = MAX_BUCKET,
    batch_index: DataFrame | None = None,
) -> DataFrame:
    """Near-dup pairs INVOLVING AT LEAST ONE NEW DOCUMENT, probing a
    prebuilt :func:`minhash_index` — old-old pairs are never generated
    (the indexed corpus is presumed already deduped) and the corpus
    text is never touched. Bucket-size caps apply to the COMBINED
    (index + batch) bucket, so results match a from-scratch run over
    the union restricted to new-sided pairs (the oracle replays exactly
    that; the equivalence is property-tested for arbitrary splits).

    Probe plan — THE INDEX NEVER SHUFFLES: the new batch's band rows
    (small by definition) broadcast against a single scan of the
    index; the combined cap uses the index's build-time ``bucket_n``
    plus the batch's own bucket counts, so no probe-time aggregation
    touches the index either. New-new pairs within the batch come from
    the batch-local grouped path, capped by the same combined size.
    Pair ids are normalized (id_a < id_b) across the id spaces; a
    batch id that already exists in the index (a replay) matches only
    OTHER docs — the probe-join self-match is filtered, preserving the
    strict ordering the from-scratch path guarantees structurally.

    The batch's band relation is referenced by both probe paths, so it
    must be materialized once: pass ``batch_index`` (a prebuilt,
    caller-persisted ``minhash_index(new_docs)``) when the caller
    manages lifecycles — e.g. a streaming ingest loop that keeps batch
    indexes as probe extras and unpersists them on completion — else
    the function persists one internally per call (bounded by the
    batch size, but a long-running loop should prefer ``batch_index``
    to avoid accumulating session cache entries). Pass a PERSISTED or
    store-loaded index for the corpus side too — a live unpersisted
    ``minhash_index(corpus)`` plan re-shingles the corpus once per
    reference."""
    new_index = (
        batch_index
        if batch_index is not None
        else minhash_index(new_docs, id_col, text_col).persist()
    )

    # -- old-new: broadcast the batch into one index scan --------------
    new_side = F.broadcast(
        new_index.select(
            "band",
            "key",
            F.col("id").alias("new_id"),
            F.col("hs").alias("new_hs"),
            F.col("bucket_n").alias("new_n"),
        )
    )
    old_new = (
        index.join(new_side, ["band", "key"])
        .filter(F.col("bucket_n") + F.col("new_n") <= max_bucket)
        .filter(F.col("id") != F.col("new_id"))  # replayed-id self-match
        .select(
            F.least(F.col("id"), F.col("new_id")).alias("id_a"),
            F.greatest(F.col("id"), F.col("new_id")).alias("id_b"),
            F.round(
                jaccard(F.col("hs"), F.col("new_hs")), 6
            ).alias("jaccard"),
        )
    )

    # -- new-new: batch-local buckets, capped by the COMBINED size -----
    # (old count for the batch's keys rides in from a semi-aggregated
    # slice of the probe join's own inputs: keys absent → 0)
    old_sizes = (
        index.join(
            F.broadcast(new_index.select("band", "key").distinct()),
            ["band", "key"],
            "left_semi",
        )
        .select("band", "key", "bucket_n")
        .distinct()
        .withColumnRenamed("bucket_n", "old_n")
    )
    rec = F.struct(F.col("id"), F.col("hs"))
    grouped = (
        new_index.groupBy("band", "key")
        .agg(F.sort_array(F.collect_list(rec)).alias("recs"))
        .join(F.broadcast(old_sizes), ["band", "key"], "left")
        .withColumn("old_n", F.coalesce(F.col("old_n"), F.lit(0)))
        .filter(
            (F.size("recs") >= 2)
            & (F.size("recs") + F.col("old_n") <= max_bucket)
        )
    )
    pairs = F.flatten(
        F.transform(
            F.col("recs"),
            lambda x, i: F.transform(
                F.slice(F.col("recs"), i + 2, F.size(F.col("recs"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.round(jaccard(x["hs"], y["hs"]), 6).alias("jaccard"),
                ),
            ),
        )
    )
    new_new = grouped.select(F.explode(pairs).alias("p")).select(
        "p.id_a", "p.id_b", "p.jaccard"
    )

    return (
        old_new.unionByName(new_new)
        .distinct()
        .filter(F.col("jaccard") >= threshold)
    )


# -- near-dup clustering (components + survivors) ----------------------------


def winnow_from_hashes(hs: Column, w: int = WINNOW_W) -> Column:
    """Window minima over an ALREADY-MATERIALIZED ordered k-gram hash
    array. ``hs`` must be a column reference, not an inline expression:
    Spark does no common-subexpression elimination inside higher-order-
    function lambdas, so an inline ``hs`` would be recomputed (shingle +
    md5 over the whole document) once PER WINDOW — O(words²) hashing
    per row, a measured 20× slowdown at sf0.1. Stage the hashes with a
    select/withColumn first (as :func:`winnow_pairs` does)."""
    starts = F.sequence(
        F.lit(1), F.greatest(F.size(hs) - F.lit(w - 1), F.lit(1))
    )
    return F.array_distinct(
        F.transform(starts, lambda s: F.array_min(F.slice(hs, s, w)))
    )


def winnow_fingerprints(
    text: Column | str, k: int = WINNOW_K, w: int = WINNOW_W
) -> Column:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken,
    SIGMOD'03): the ORDERED word k-gram hash sequence is scanned with a
    width-``w`` window and each window contributes its minimum hash.
    Guarantee: two documents sharing any run of ≥ k+w-1 identical words
    share at least one fingerprint — so this catches copied PASSAGES
    (containment), which whole-document MinHash similarity structurally
    misses.

    Convenience single-expression form for small relations and the
    oracle twin; hot paths must stage the hash array and use
    :func:`winnow_from_hashes` (see its scale note)."""
    hs = F.transform(tx.shingles(text, k), hashing.portable_hash32)
    return winnow_from_hashes(hs, w)


def winnow_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_shared: int = WINNOW_MIN_SHARED,
    max_bucket: int = MAX_BUCKET,
) -> DataFrame:
    """Containment-candidate (id_a < id_b) pairs with their shared-
    fingerprint count. Same scale shape as the LSH family: one explode
    (≈ one fp per w words), one shuffle on the fingerprint, sorted
    collect_list + local pair expansion under a bucket cap (degenerate
    fingerprints are dropped, not joined), then a pair-count aggregate
    filtered to ``min_shared``."""
    hashed = _fanned(df, id_col, text_col).select(
        F.col(id_col).alias("__id"),
        F.transform(
            tx.shingles(text_col, WINNOW_K), hashing.portable_hash32
        ).alias("__hs"),
    )
    fps = hashed.select(
        "__id",
        F.explode(winnow_from_hashes(F.col("__hs"))).alias("fp"),
    )
    grouped = (
        fps.groupBy("fp")
        .agg(F.sort_array(F.collect_list("__id")).alias("ids"))
        .filter((F.size("ids") >= 2) & (F.size("ids") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("ids"),
            lambda x, i: F.transform(
                F.slice(F.col("ids"), i + 2, F.size(F.col("ids"))),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).cast("long").alias("n_shared"))
        .filter(F.col("n_shared") >= min_shared)
    )


def sql_winnow_fingerprints(
    expr: str, k: int = WINNOW_K, w: int = WINNOW_W
) -> str:
    hs = (
        f"list_transform({tx.sql_shingles(expr, k)}, "
        f"s -> {hashing.sql_hash32('s')})"
    )
    return (
        f"list_distinct(list_transform("
        f"generate_series(1, greatest(len({hs}) - {w - 1}, 1)), "
        f"s -> list_min(({hs})[s : s + {w - 1}])))"
    )


# Edge-count gate for the driver union-find fast path shared by both
# CC implementations — the same bounded-collect class as the
# documented ANN query side. Budget math counts PYTHON heap, not raw
# longs: collect() yields ~150-byte Row objects, the parent dict holds
# up to 2 edges' worth of int entries, and createDataFrame pickles the
# result back — ~200k edges ≈ 50-100 MB of transient driver memory,
# comfortably inside a default driver and still ~200x the graph any
# capped pair stage here produces. Every iterative distributed round
# costs ~1-2 s of fixed scheduling overhead at ANY data size, so a
# converged 1204-edge graph was paying ~8 s of star rounds for
# microseconds of actual work; beyond the bound the distributed
# rounds engage unchanged.
CC_DRIVER_EDGE_BOUND = 200_000


def _components_driver(edges: DataFrame) -> DataFrame:
    """Union-find over a BOUNDED edge relation (caller gates on edge
    count) with union-by-min, so every root is its component's min id —
    the exact output contract of both distributed CC paths. Collect is
    bounded by the caller's gate; path compression keeps it linear-ish
    in edges."""
    spark = edges.sparkSession
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for r in edges.collect():
        a, b = int(r[0]), int(r[1])
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by min: the larger root attaches under the smaller,
            # so roots remain component minima throughout
            if ra < rb:
                parent[rb] = ra
            else:
                parent[ra] = rb
    return spark.createDataFrame(
        [(n, find(n)) for n in parent],
        "doc_id long, component_id long",
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_edge_bound: int = CC_DRIVER_EDGE_BOUND,
) -> DataFrame:
    """(doc_id, component_id) for every node in a near-dup pair relation;
    component_id = min doc id reachable through pairs.

    Min-label propagation: each round every node takes the min of its own
    and its neighbors' labels — one shuffle join + partial-agg per round,
    rounds bounded by component diameter (near-dup components are
    shallow; typically 2-3 rounds). The driver loop checks convergence by
    count and truncates lineage each round (localCheckpoint) so the plan
    does not grow with iterations — at cluster scale use a reliable
    checkpoint dir, and for adversarially deep graphs swap the update
    rule for alternating large-star/small-star (same join primitive,
    provably O(log²) rounds).

    The pair relation is materialized once up front — iterating over a
    lazily-recomputed LSH pipeline would re-run the expensive candidate
    generation every round. Graphs under ``driver_edge_bound`` edges
    take the union-find fast path (:func:`_components_driver`) instead
    of paying per-round scheduling overhead; pass 0 to force the
    distributed rounds (the property tests do, to keep proving them).
    """
    base = pairs.select(
        F.col(id_a).cast("long").alias("u"), F.col(id_b).cast("long").alias("v")
    ).filter(F.col("u") != F.col("v"))
    # self-loops dropped: a node paired only with itself is not a
    # duplicate of anything (and the star variant agrees — property-
    # tested against union-find in tests/test_properties.py)
    if driver_edge_bound:
        base = base.localCheckpoint(eager=True)
        if base.count() <= driver_edge_bound:
            return _components_driver(base)
        # over the bound: base is already materialized and the
        # symmetrizing union is a narrow recompute over it — a second
        # checkpoint would only add an eager job and ~double the
        # stored edge data at exactly the largest inputs
        edges = base.unionAll(
            base.select(F.col("v").alias("u"), F.col("u").alias("v"))
        )
    else:
        edges = base.unionAll(
            base.select(F.col("v").alias("u"), F.col("u").alias("v"))
        ).localCheckpoint(eager=True)
    labels = (
        edges.select("u")
        .distinct()
        .select("u", F.col("u").alias("comp"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        nbr_min = (
            edges.join(
                labels.select(
                    F.col("u").alias("v2"), F.col("comp").alias("vcomp")
                ),
                F.col("v") == F.col("v2"),
            )
            .groupBy("u")
            .agg(F.min("vcomp").alias("nbr_comp"))
        )
        new = (
            labels.join(nbr_min, "u", "left")
            .select(
                "u",
                F.least(
                    F.col("comp"), F.coalesce("nbr_comp", "comp")
                ).alias("comp"),
            )
            .localCheckpoint(eager=True)
        )
        changed = (
            new.join(labels.select("u", F.col("comp").alias("old")), "u")
            .filter(F.col("comp") != F.col("old"))
            .count()
        )
        labels = new
        if changed == 0:
            break
    else:
        # Exhausting max_iter means labels may not be fixed-point: some
        # duplicates would be over-retained downstream with no signal.
        # Warn loudly rather than silently returning partial components.
        import warnings

        warnings.warn(
            f"connected_components: not converged after {max_iter} rounds "
            f"({changed} labels still changing); results may split "
            "components — raise max_iter or switch to large-star/small-star",
            RuntimeWarning,
            stacklevel=2,
        )
    return labels.select(
        F.col("u").alias("doc_id"), F.col("comp").alias("component_id")
    )


def connected_components_star(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 30,
    driver_edge_bound: int = CC_DRIVER_EDGE_BOUND,
) -> DataFrame:
    """Alternating large-star/small-star connected components — same
    output contract as :func:`connected_components` (component id = min
    reachable id) but O(log²) rounds on ANY graph, including the
    adversarially deep chains where plain min-label propagation needs
    diameter-many rounds (public algorithm: Kiveris et al., "Connected
    Components in MapReduce and Beyond", SoCC'14).

    Each half-round is one groupBy-min plus one join — the same shuffle
    primitive as label propagation; lineage is truncated per round.
    Convergence = the canonical edge set reaches a fixed point (count +
    order-independent checksum), at which point edges form stars
    (node → component min). Graphs under ``driver_edge_bound`` edges
    (the initial checksum already counts them) take the union-find
    fast path; pass 0 to force the star rounds.
    """
    edges = pairs.select(
        F.col(id_a).cast("long").alias("a"),
        F.col(id_b).cast("long").alias("b"),
    ).filter(F.col("a") != F.col("b"))

    def canon(e: DataFrame) -> DataFrame:
        return e.select(
            F.greatest("a", "b").alias("a"), F.least("a", "b").alias("b")
        ).distinct()

    def checksum(e: DataFrame) -> tuple[int, int]:
        # hash sum runs in decimal: full-range longs would overflow an
        # ANSI-mode bigint sum and abort the job (standing rule)
        row = e.agg(
            F.count(F.lit(1)).alias("n"),
            F.coalesce(
                F.sum(F.xxhash64("a", "b").cast("decimal(38,0)")),
                F.lit(0).cast("decimal(38,0)"),
            ).alias("h"),
        ).collect()[0]
        return int(row["n"]), int(row["h"])

    def large_star(e: DataFrame) -> DataFrame:
        sym = e.unionAll(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        mins = sym.groupBy("a").agg(F.min("b").alias("mb")).select(
            "a", F.least("mb", "a").alias("m")
        )
        return (
            sym.filter(F.col("b") > F.col("a"))
            .join(mins, "a")
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
            .filter(F.col("a") != F.col("b"))
            .distinct()
        )

    def small_star(e: DataFrame) -> DataFrame:
        c = canon(e)  # a > b for every edge
        mins = c.groupBy("a").agg(F.min("b").alias("m"))
        via_nbr = (
            c.join(mins, "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        via_self = mins.select("a", F.col("m").alias("b"))
        return via_nbr.unionAll(via_self).filter(
            F.col("a") != F.col("b")
        ).distinct()

    cur = canon(edges).localCheckpoint(eager=True)
    prev_sig = checksum(cur)
    if driver_edge_bound and prev_sig[0] <= driver_edge_bound:
        return _components_driver(cur)
    for _ in range(max_iter):
        cur = small_star(large_star(cur)).localCheckpoint(eager=True)
        sig = checksum(cur)
        if sig == prev_sig:
            break
        prev_sig = sig
    else:
        # Checksums never repeated within the budget. Before letting a
        # possibly-split labeling flow downstream as if valid, run ONE
        # exact fixed-point check (a round + symmetric exceptAll): if
        # the edge set truly moved, fail loudly — a silently wrong
        # dedup clustering is worse than a failed job.
        nxt = small_star(large_star(cur))
        moved = (
            nxt.exceptAll(cur).limit(1).count()
            or cur.exceptAll(nxt).limit(1).count()
        )
        if moved:
            raise RuntimeError(
                f"connected_components_star: not converged after "
                f"{max_iter} rounds (edge set still changing); raise "
                "max_iter"
            )
    # fixed point: every edge is (node, component-min) with node > min
    centers = cur.select(F.col("b").alias("doc_id")).distinct()
    return (
        cur.select(
            F.col("a").alias("doc_id"), F.col("b").alias("component_id")
        )
        .unionAll(
            centers.select(
                "doc_id", F.col("doc_id").alias("component_id")
            )
        )
        .distinct()
    )


def dedup_survivors(
    df: DataFrame, components: DataFrame, id_col: str
) -> DataFrame:
    """One survivor per near-dup component (the min id), all singletons
    kept — the actual DEDUP step over the clustering. Anti join against
    the (small) non-survivor member set; at scale that set is a fraction
    of the corpus and broadcasts."""
    losers = components.filter(
        F.col("doc_id") != F.col("component_id")
    ).select(F.col("doc_id").alias("__loser"))
    return df.join(
        losers, df[id_col] == F.col("__loser"), "left_anti"
    )


# -- benchmark decontamination -----------------------------------------------

CONTAMINATION_N = 5


def contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = CONTAMINATION_N,
) -> DataFrame:
    """Benchmark decontamination: per corpus doc, the number of DISTINCT
    word-n-gram hashes it shares with a benchmark/eval set — docs with
    hits get filtered before training.

    Scale shape: the benchmark shingle set is distinct-aggregated and
    BROADCAST (eval sets are tiny next to a 100 TB corpus), so the
    corpus side is one scan + explode + broadcast-hash-join; the only
    shuffle is the final per-doc count, keyed on the doc id.

    n-grams match on 60-bit hashes, the same as
    :func:`bloom_contamination_hits`: distinct n-grams falsely match
    about |corpus n-grams| × |benchmark n-grams| / 2^bits times, which
    at 32 bits can flag a clean doc even in a 400-doc corpus."""
    bench = (
        benchmark.select(
            F.explode(shingle_hashes(text_col, n, hash_bits=60)).alias("h")
        ).distinct()
    )
    corp = _fanned(corpus, id_col, text_col).select(
        F.col(id_col).alias("__id"),
        F.explode(shingle_hashes(text_col, n, hash_bits=60)).alias("h"),
    )
    return (
        corp.join(F.broadcast(bench), "h")
        .groupBy("__id")
        .agg(F.count_distinct("h").alias("n_hits"))
        .select(F.col("__id").alias(id_col), "n_hits")
    )


# -- SimHash -----------------------------------------------------------------


def simhash(text: Column | str, bits: int = SIMHASH_BITS) -> Column:
    """Bitwise-majority SimHash over distinct-shingle hashes.

    Features are word 3-shingles, not single words: the fixture corpus
    (like real web text) shares a heavy common vocabulary, and word-level
    SimHash collapses toward the majority bit pattern of that shared
    vocab — shingles keep the signature document-specific.

    ``bits`` ≤ 32 votes on 32-bit feature hashes (the recorded
    fixture-scale scheme, byte-identical to every stored hash); wider
    signatures vote on 60-bit features, since a 32-bit feature carries
    no signal above bit 31 and the high signature bits would otherwise
    be constant. ``bits`` ≤ 60 (feature width) and ≤ 62 (signed-int64
    packing); :func:`adaptive_simhash_width` picks the default."""
    if bits > 60:
        raise ValueError("simhash bits must be <= 60 (feature hash width)")
    hs = shingle_hashes(text, hash_bits=32 if bits <= 32 else 60)
    # Single pass over the feature array: per-bit ±1 votes accumulate in an
    # array<int>, then the sign vector packs into one long. One aggregate
    # expression means the (md5-heavy) feature hashing runs ONCE per row —
    # a per-bit F.filter loop would re-evaluate it `bits` times, since
    # codegen CSE does not reach inside higher-order-function lambdas.
    # Bit extraction unrolls to literal integer shifts (shiftright needs a
    # literal count) — all-int64 math, no floating-point pow in the loop.
    votes = F.aggregate(
        hs,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            F.array(
                *[
                    F.shiftright(h, i).bitwiseAND(F.lit(1)).cast("int") * 2
                    - 1
                    for i in range(bits)
                ]
            ),
            lambda a, b: a + b,
        ),
    )
    weights = F.array(*[F.lit(1 << i).cast("long") for i in range(bits)])
    return F.aggregate(
        F.zip_with(
            votes,
            weights,
            lambda v, p: F.when(v >= 0, p).otherwise(F.lit(0).cast("long")),
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    )


def simhash_near_dup_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    max_hamming: int = SIMHASH_MAX_HAMMING,
    max_bucket: int | None = None,
    width: tuple[int, int] | None = None,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming ≤ max_hamming; candidates via
    band equality (never all-pairs). Signatures are computed once: ids
    AND signatures are carried into the bucket aggregation as structs, so
    hamming needs no join back to the signature relation.

    Buckets over ``max_bucket`` members are DROPPED, same skew guard as
    the MinHash path: nibble-band cells number only bands × 2^nib_width
    (4 × 256 here), so cell population grows linearly with the corpus and
    in-cell pair generation quadratically — one hot cell at 100× scale
    would otherwise OOM the collect_list. ``max_bucket=None`` (default)
    derives the cap from the corpus (:func:`adaptive_max_bucket` — one
    bounded count job, then the gate, same measure-then-choose shape as
    CC_DRIVER_EDGE_BOUND): a fixed cap at 10× density dropped every
    populated cell and returned a silently-empty report.

    ``width=None`` (default) also derives the SIGNATURE WIDTH from the
    same corpus count (:func:`adaptive_simhash_width` — r8 verdict
    item 1): past SIMHASH_WIDEN_DOCS the 32-bit hamming-≤3 balls
    saturate (every doc sees more in-ball neighbors purely from corpus
    growth) and the signature widens to 56 bits / 4 bands of
    14-bit nibbles — stricter balls AND ~64x smaller cells — so pair
    growth tracks true near-dup density. Pass an explicit
    ``(bits, bands)`` to pin a width (tests, cross-corpus parity)."""
    if max_bucket is None or width is None:
        n_rows = df.count()
        if max_bucket is None:
            max_bucket = adaptive_max_bucket(n_rows)
        if width is None:
            width = adaptive_simhash_width(n_rows)
    bits, n_bands = width
    if bits % n_bands:
        raise ValueError(f"bits {bits} not divisible by bands {n_bands}")
    sh = _fanned(df, id_col, text_col).select(
        F.struct(
            F.col(id_col).alias("id"), simhash(text_col, bits).alias("sh")
        ).alias("__rec")
    )
    nib_width = bits // n_bands
    mask = (1 << nib_width) - 1
    # literal-index explode + dynamic nibble extraction: the signature
    # is evaluated once; see _band_index for why exploding computed
    # structs would double the work. shiftright needs a literal count,
    # so the dynamic band shift unrolls to a CASE over the (literal)
    # band indexes — exact int64 math at ANY width (the former
    # double-division trick was exact only below 2^53 and would corrupt
    # low-band nibbles of 56-bit signatures).
    sh_col = F.col("__rec.sh")
    nib = F.when(
        F.col("band") == 0,
        F.shiftrightunsigned(sh_col, 0).bitwiseAND(F.lit(mask)),
    )
    for j in range(1, n_bands):
        nib = nib.when(
            F.col("band") == j,
            F.shiftrightunsigned(sh_col, j * nib_width).bitwiseAND(
                F.lit(mask)
            ),
        )
    bands = sh.select(
        "__rec", _band_index(n_bands).alias("band")
    ).select("__rec", "band", nib.cast("long").alias("nib"))
    grouped = (
        bands.groupBy("band", "nib")
        .agg(F.sort_array(F.collect_list("__rec")).alias("recs"))
        .filter((F.size("recs") >= 2) & (F.size("recs") <= max_bucket))
    )
    pairs = F.flatten(
        F.transform(
            F.col("recs"),
            lambda x, i: F.transform(
                F.slice(F.col("recs"), i + 2, F.size(F.col("recs"))),
                lambda y: F.struct(
                    x["id"].alias("id_a"),
                    y["id"].alias("id_b"),
                    F.bit_count(x["sh"].bitwiseXOR(y["sh"])).alias("hamming"),
                ),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .select("p.id_a", "p.id_b", "p.hamming")
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# -- DuckDB oracle fragments -------------------------------------------------


def sql_shingle_hashes(
    expr: str, n: int = SHINGLE_N, hash_bits: int = 32
) -> str:
    # NULL text → NULL, mirroring shingle_hashes: DuckDB's list chain
    # otherwise yields [] for NULL, which (unlike NULL) gives every
    # NULL doc the all-ones simhash — NULL docs would pair as perfect
    # duplicates in the oracle while Spark drops them (fuzz-pinned).
    hasher = (
        hashing.sql_hash32 if hash_bits <= 32 else hashing.sql_hash60
    )
    return (
        f"CASE WHEN {expr} IS NULL THEN NULL ELSE "
        f"list_transform(list_distinct({tx.sql_shingles(expr, n)}), "
        f"s -> {hasher('s')}) END"
    )


def sql_minhash_signature(hashes_expr: str, k: int = MINHASH_K) -> str:
    mins = ", ".join(
        f"list_min(list_transform({hashes_expr}, "
        f"h -> {hashing.sql_universal_hash('h', a, b)}))"
        for a, b in _FAMILY[:k]
    )
    return f"[{mins}]"


def sql_band_key(sig_expr: str, band: int, rows: int = LSH_ROWS) -> str:
    lo = band * rows + 1
    hi = band * rows + rows
    return hashing.sql_hash60(
        f"array_to_string(({sig_expr})[{lo}:{hi}], '-')"
    )


def sql_char_shingle_hashes(
    expr: str, n: int = NGRAM_N, step: int = NGRAM_STEP
) -> str:
    return (
        f"list_transform(list_distinct({tx.sql_char_shingles(expr, n, step)}), "
        f"s -> {hashing.sql_hash32('s')})"
    )


def sql_word_hashes(expr: str, hash_bits: int = 32) -> str:
    """SimHash feature hashes — same shingle features as the Spark side."""
    return sql_shingle_hashes(expr, hash_bits=hash_bits)


def sql_simhash_from_hashes(hs_col: str, bits: int = SIMHASH_BITS) -> str:
    """SimHash over a pre-computed hash-list column (use a CTE to bind
    :func:`sql_word_hashes` to ``hs_col`` first — avoids recomputing the
    list per bit)."""
    terms = " + ".join(
        f"(CASE WHEN 2 * len(list_filter({hs_col}, h -> (h >> {i}) & 1 = 1)) "
        f">= len({hs_col}) THEN {1 << i} ELSE 0 END)"
        for i in range(bits)
    )
    # NULL hash list → NULL signature (the per-bit CASEs would quietly
    # sum to 0 via their ELSE branches — a fake all-zeros signature)
    return (
        f"CASE WHEN {hs_col} IS NULL THEN NULL "
        f"ELSE CAST({terms} AS BIGINT) END"
    )


def _sql_is_narrow(table: str) -> str:
    """The width branch predicate, on the SAME corpus count the Spark
    side's adaptive_simhash_width consumes — parity is data-dependent."""
    return f"(SELECT count(*) FROM {table}) <= {SIMHASH_WIDEN_DOCS}"


def sql_adaptive_word_hashes(expr: str, table: str = "documents") -> str:
    """DuckDB twin of the width-matched feature hashes: 32-bit features
    under the narrow signature, 60-bit under the wide one (see
    :func:`simhash` — high signature bits need high feature bits)."""
    return (
        f"CASE WHEN {_sql_is_narrow(table)} "
        f"THEN {sql_word_hashes(expr)} "
        f"ELSE {sql_word_hashes(expr, hash_bits=60)} END"
    )


def sql_adaptive_simhash_from_hashes(
    hs_col: str, table: str = "documents"
) -> str:
    """DuckDB twin of :func:`adaptive_simhash_width` + :func:`simhash`:
    branches on the corpus count between the 32- and 56-bit signature
    sums, so fixture-scale hashes are byte-identical to the recorded
    narrow scheme and any corpus past SIMHASH_WIDEN_DOCS gets the wide
    one — in BOTH engines, from the SAME count. ``hs_col`` must hold
    :func:`sql_adaptive_word_hashes` output (width-matched features)."""
    return (
        f"CASE WHEN {_sql_is_narrow(table)} "
        f"THEN ({sql_simhash_from_hashes(hs_col, SIMHASH_BITS)}) "
        f"ELSE ({sql_simhash_from_hashes(hs_col, SIMHASH_WIDE_BITS)}) END"
    )


def sql_adaptive_simhash_bands(
    src: str, sh_col: str, table: str = "documents"
) -> str:
    """Band fan-out twin: UNION ALL over the larger band count, each
    branch gated by ``WHERE j < active_bands`` and computing its nibble
    under the ACTIVE width's geometry (8-bit nibbles narrow, 14-bit
    wide) — the same corpus-count branch every adaptive fragment
    uses."""
    narrow_nib = SIMHASH_BITS // SIMHASH_BANDS
    wide_nib = SIMHASH_WIDE_BITS // SIMHASH_WIDE_BANDS
    n_bands = (
        f"(CASE WHEN {_sql_is_narrow(table)} "
        f"THEN {SIMHASH_BANDS} ELSE {SIMHASH_WIDE_BANDS} END)"
    )
    branches = []
    for j in range(max(SIMHASH_BANDS, SIMHASH_WIDE_BANDS)):
        nib_expr = (
            f"(CASE WHEN {_sql_is_narrow(table)} "
            f"THEN ({sh_col} >> {j * narrow_nib}) & {(1 << narrow_nib) - 1} "
            f"ELSE ({sh_col} >> {j * wide_nib}) & {(1 << wide_nib) - 1} END)"
        )
        branches.append(
            f"SELECT doc_id, {sh_col}, {j} AS band, {nib_expr} AS nib "
            f"FROM {src} WHERE {j} < {n_bands}"
        )
    return " UNION ALL ".join(branches)


# -- Bloom-prefiltered decontamination ----------------------------------------
#
# contamination_hits broadcasts the benchmark shingle set and hash-joins
# every corpus shingle against it. That is the right plan while the eval
# side fits a broadcast; once it does not (multi-benchmark suites at
# 100 TB), the exact join becomes a shuffle of the EXPLODED corpus —
# corpus_rows x shingles_per_doc rows moving for a join that discards
# almost all of them. A Bloom filter over the benchmark shingles is a
# fixed-size bitmap (BLOOM_BITS bits, kilobytes) that ships to every
# task as a plan literal and drops non-matching shingles AT THE SCAN,
# before any shuffle. Bloom filters have no false negatives, so the
# residual exact join (which kills the false positives) returns exactly
# the un-prefiltered answer — which is what makes the operator
# oracle-checkable end to end (the DuckDB twin is the plain exact join).

BLOOM_BITS = 1 << 16  # floor: 64 Kibit = 1024 packed longs (~10 bits per
#   element of a few-hundred-doc eval suite); FP rate only affects
#   selectivity, never the answer
BLOOM_BITS_CAP = 1 << 20  # 3 x 20-bit probe windows = 60 = the hash width
BLOOM_BITS_PER_ELEMENT = 10  # target ~10 bits/shingle: fill ~0.26, FP ~1.7%
BLOOM_HASHES = 3  # probes per shingle, carved from one 60-bit hash


def adaptive_bloom_bits(n_shingles: int) -> int:
    """Bitmap size for a benchmark of ``n_shingles`` distinct shingles:
    the next power of two >= BLOOM_BITS_PER_ELEMENT x n_shingles,
    clamped to [BLOOM_BITS, BLOOM_BITS_CAP]. Same corpus-derived-
    parameter idiom as adaptive_simhash_width/adaptive_max_bucket: the
    caller never hand-sizes the filter, and a 10x bigger eval suite
    widens the bitmap instead of silently saturating it. Power of two
    keeps the probe's mask arithmetic exact; the cap is the last size
    whose three probe windows still fit the 60-bit hash (saturation
    past the cap falls back to the loud BLOOM_FILL_WARN warning)."""
    need = max(1, n_shingles) * BLOOM_BITS_PER_ELEMENT
    bits = 1 << (need - 1).bit_length()
    return min(max(bits, BLOOM_BITS), BLOOM_BITS_CAP)


def _bloom_positions(h: Column, bits: int = BLOOM_BITS) -> list[Column]:
    """BLOOM_HASHES bit positions from one portable 60-bit hash: three
    disjoint log2(bits)-wide windows (3 x 20 <= 60 at the cap), so
    Spark and any future twin derive identical positions from the same
    md5."""
    width = bits.bit_length() - 1
    return [
        F.shiftright(h, i * width).bitwiseAND(F.lit(bits - 1))
        for i in range(BLOOM_HASHES)
    ]


# bit masks for the packed-long probe; 1<<63 wraps to long's sign bit
_BLOOM_MASKS = [(1 << i) if i < 63 else -(1 << 63) for i in range(64)]


def bloom_positions_py(h: int, bits: int) -> list[int]:
    """Driver-side twin of :func:`_bloom_positions` — same windows of
    the same 60-bit hash, so a bitmap built on the driver and a probe
    built in the plan agree bit for bit."""
    width = bits.bit_length() - 1
    return [(h >> (i * width)) & (bits - 1) for i in range(BLOOM_HASHES)]


def bloom_bitmap_from_hashes(hashes: list[int], bits: int) -> list[int]:
    """Pack a shingle-hash list into bits/64 signed int64 bitmap words
    (array-literal-friendly: 1-16k longs in the plan, not a bits-sized
    element array)."""
    words = [0] * (bits // 64)
    for h in hashes:
        for p in bloom_positions_py(h, bits):
            words[p >> 6] |= 1 << (p & 63)
    # two's-complement into signed int64 range for the long-array literal
    return [w - (1 << 64) if w >= (1 << 63) else w for w in words]


def bloom_bitmap(
    bench: DataFrame, text_col: str, n: int, bits: int = BLOOM_BITS
) -> list[int]:
    """The benchmark shingle set's Bloom filter, built from ONE scan of
    the benchmark side: the distinct shingle hashes collect to the
    driver (8 bytes per shingle — the same order of magnitude as the
    bitmap being built; a benchmark too big to collect this way is one
    that saturates every legal bitmap size anyway) and pack locally."""
    hashes = [
        r["h"]
        for r in bench.select(
            F.explode(shingle_hashes(text_col, n, hash_bits=60)).alias("h")
        )
        .distinct()
        .collect()
    ]
    return bloom_bitmap_from_hashes(hashes, bits)


BLOOM_FILL_WARN = 0.75  # above this, pass rate ~ fill^3 stops paying for
#   the probe (at 0.75: ~42% of non-matching shingles still pass)


def bloom_fill(words: list[int]) -> float:
    """Fraction of set bits in a packed bitmap (selectivity diagnostic)."""
    set_bits = sum(bin(w & ((1 << 64) - 1)).count("1") for w in words)
    return set_bits / (len(words) * 64)


def bloom_contamination_hits(
    corpus: DataFrame,
    benchmark: DataFrame,
    id_col: str,
    text_col: str,
    n: int = CONTAMINATION_N,
    bits: int | None = None,
) -> DataFrame:
    """contamination_hits with a Bloom pre-filter on the corpus side.

    Plan shape: corpus scan -> explode shingles -> Bloom probe (three
    element_at bit tests against the packed-long bitmap literal,
    codegen'd, no UDF; measured ~6x cheaper per row than the equivalent
    substr probe on a '0'/'1' bitmap string) -> residual exact join
    with the distinct benchmark shingles -> per-doc distinct count.
    Identical output to the exact operator (no false negatives; the
    join removes false positives).

    ``bits=None`` sizes the bitmap from the benchmark's distinct
    shingle count (:func:`adaptive_bloom_bits`), so a growing eval
    suite widens the filter instead of silently saturating it. The
    whole build is ONE benchmark-side job: the distinct shingle hashes
    collect to the driver (eval-suite-sized; same order as the bitmap
    itself) and both the size decision and the packed words derive
    locally. Saturation is never a correctness problem, only a wasted
    probe — but it is a SILENT waste, so a benchmark that fills the
    bitmap past BLOOM_FILL_WARN even at the chosen size (only possible
    at the BLOOM_BITS_CAP clamp, or under an explicit ``bits``) raises
    a loud warning telling the caller to fall back to
    :func:`contamination_hits`."""
    bench = (
        benchmark.select(
            F.explode(shingle_hashes(text_col, n, hash_bits=60)).alias("h")
        ).distinct()
    )
    hashes = [r["h"] for r in bench.collect()]
    if bits is None:
        bits = adaptive_bloom_bits(len(hashes))
    bitmap = bloom_bitmap_from_hashes(hashes, bits)
    fill = bloom_fill(bitmap)
    if fill > BLOOM_FILL_WARN:
        import warnings

        warnings.warn(
            f"Bloom bitmap fill {fill:.2f} > {BLOOM_FILL_WARN} at "
            f"bits={bits}: the probe passes "
            f"~{fill ** BLOOM_HASHES:.0%} of non-matching shingles and no "
            "longer pays for itself — use contamination_hits",
            RuntimeWarning,
            stacklevel=2,
        )
    words = F.lit(bitmap)
    masks = F.lit(_BLOOM_MASKS)
    # fan_out before the shingle hashing + probe (the corpus-side
    # per-row hot path); no-op at scale.
    corp = _fanned(corpus, id_col, text_col).select(
        F.col(id_col).alias("__id"),
        F.explode(shingle_hashes(text_col, n, hash_bits=60)).alias("h"),
    )
    probe = None
    for p in _bloom_positions(F.col("h"), bits):
        word = F.element_at(words, (F.shiftright(p, 6) + 1).cast("int"))
        mask = F.element_at(masks, (p.bitwiseAND(F.lit(63)) + 1).cast("int"))
        t = word.bitwiseAND(mask) != 0
        probe = t if probe is None else (probe & t)
    return (
        corp.filter(probe)
        .join(F.broadcast(bench), "h")
        .groupBy("__id")
        .agg(F.count_distinct("h").alias("n_hits"))
        .select(F.col("__id").alias(id_col), "n_hits")
    )
