"""Named queries over the fixture tables — one per implemented operator
family (SURVEY.md §2), each paired with a DuckDB oracle in
``oracles.py``. ``__spark_entry__.py`` re-exports both for the driver.

Query callables take ``(spark, sf_dir)`` and return a DataFrame with
stable, flat, explicitly-aliased column names (driver hash-compares
against the oracle after sorting columns by name).
"""

from __future__ import annotations

import threading
from concurrent.futures import Future

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from genai_batch_processor_spark.functions import bpe as bpefn
from genai_batch_processor_spark.functions import hashing, ids, text as tx
from genai_batch_processor_spark.inference import mock
from genai_batch_processor_spark.operators import (
    batching,
    chunking,
    curation,
    dedup,
    joinback,
    requests,
    responses,
    sampling,
    similarity,
    temporal,
)
from genai_batch_processor_spark.operators.clustering import (
    KMEANS_K as _KMEANS_K,
)
from genai_batch_processor_spark.sources import schemas
from genai_batch_processor_spark.sources.tables import load_table

ANN_N_QUERIES = 8  # query-set size for the similarity-search fixtures

LABELS = mock.DEFAULT_LABELS


def _documents_with_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return ids.assign_ids(docs, "doc_id")


# -- session-shared stages ---------------------------------------------------
# Expensive intermediate relations (MinHash pairs, band / span / cell
# indexes, trained centroids, ANN top-k sets) are built once per
# session and reused by every later query that consumes them. Every
# *_shared helper below goes through the one store behind _shared.

_STAGE_CACHE_MAX = 8  # completed entries kept per stage name
_stages: dict[tuple, Future] = {}
_stages_lock = threading.Lock()


def _shared(spark: SparkSession, sf_dir: str, name: str, *params, build):
    """Get-or-build the session-shared stage ``name`` over ``sf_dir``.

    The store is keyed by ``(appId, sf_dir, name, *params)``; ``build``
    is a no-argument callable that applies the stage's own
    materialization (``.persist()`` or ``.localCheckpoint(eager=True)``)
    or returns a driver-side value. The lock guards only the store,
    never a build: distinct keys build concurrently, a build may
    request other stages without deadlock, and a key requested twice
    at once builds once — later callers wait on the in-flight future.
    A build that raises leaves no entry behind, so the next call
    rebuilds. Past _STAGE_CACHE_MAX completed entries of one stage
    name the oldest is dropped (DataFrames unpersisted), so iterating
    many sf_dirs in one session cannot grow cached memory without
    bound.

    Staleness: entries live for the whole session. If the files under
    ``sf_dir`` are regenerated mid-session the stage keeps serving the
    old data, the same contract as Spark's own file-status cache; call
    invalidate_shared_stages after rewriting a fixture.

    Executor loss depends on the materialization:

    - a persisted stage keeps its lineage, so lost blocks are
      recomputed from the source files;
    - a ``localCheckpoint`` leaf has no lineage, so a lost block fails
      every job that consumes it until invalidate_shared_stages drops
      the entry and the next call rebuilds it. ``unpersist()`` does
      nothing on a checkpointed frame: its blocks are freed by the
      ContextCleaner once the dropped entry held the last reference.
    """
    key = (spark.sparkContext.applicationId, sf_dir, name, *params)
    with _stages_lock:
        fut = _stages.get(key)
        owner = fut is None
        if owner:
            fut = _stages[key] = Future()
    if not owner:
        return fut.result()
    try:
        value = build()
    except BaseException as exc:
        with _stages_lock:
            if _stages.get(key) is fut:
                del _stages[key]
        fut.set_exception(exc)
        raise
    with _stages_lock:
        fut.set_result(value)
        if _stages.get(key) is fut:  # not invalidated mid-build
            _stages[key] = _stages.pop(key)  # evict in completion order
        done = [k for k, f in _stages.items() if k[2] == name and f.done()]
        evicted = [
            _stages.pop(k)
            for k in done[: max(0, len(done) - _STAGE_CACHE_MAX)]
        ]
    _unpersist(evicted)
    return value


def _unpersist(futures: list[Future]) -> None:
    for fut in futures:
        if fut.done() and isinstance(fut.result(), DataFrame):
            fut.result().unpersist()


def invalidate_shared_stages(
    sf_dir: str | None = None, name: str | None = None
) -> int:
    """Drop every session-shared stage, or only those built over
    ``sf_dir`` and/or named ``name``, unpersisting DataFrames: the
    staleness hook after a fixture or table is regenerated mid-session
    (see _shared). Returns the number of entries dropped."""
    with _stages_lock:
        keys = [
            k
            for k in _stages
            if (sf_dir is None or k[1] == sf_dir)
            and (name is None or k[2] == name)
        ]
        dropped = [_stages.pop(k) for k in keys]
    _unpersist(dropped)
    return len(dropped)


def _near_dup_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified MinHash near-dup pairs, shared by near_dup_pairs /
    dedup_components / dedup_components_star / dedup_survivors. Each
    of those used to re-shingle and re-hash the whole corpus; the pair
    relation is tiny (one row per verified duplicate pair), so it is
    persisted once and every family member after the first reads the
    materialized stage. At 100 TB the same seam is a parquet temp
    table written by the signature job and scanned by the downstream
    dedup jobs."""
    return _shared(
        spark,
        sf_dir,
        "near_dup_pairs",
        build=lambda: dedup.near_dup_pairs(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ).persist(),
    )


def _components_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted label-propagation clustering per (session,
    sf_dir), shared by dedup_components, dedup_survivors, and
    dedup_cluster_stats — three queries otherwise re-running the same
    iterative CC over the shared pair stage. (dedup_components_star
    deliberately stays separate: it exists to prove the alternative
    algorithm produces identical labels.)"""
    return _shared(
        spark,
        sf_dir,
        "components",
        build=lambda: dedup.connected_components(
            _near_dup_pairs_shared(spark, sf_dir)
        ).persist(),
    )


def _simhash_pairs_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One persisted SimHash pair stage per (session, sf_dir), shared
    by simhash_near_dup and the method-agreement audit — the audit
    references the pair relation twice in one plan, and without the
    persist the banding fan-out would execute twice (round-4 review
    finding; mirrors _near_dup_pairs_shared). The corpus size the
    width and bucket cap derive from is the shared ``doc_count``
    scalar q_simhash also reads (r9 advice: one count per session,
    not one per invocation)."""

    def build() -> DataFrame:
        docs = load_table(spark, sf_dir, "documents")
        n = _shared(spark, sf_dir, "doc_count", build=docs.count)
        return dedup.simhash_near_dup_pairs(
            docs,
            "doc_id",
            "text",
            max_bucket=dedup.adaptive_max_bucket(n),
            width=dedup.adaptive_simhash_width(n),
        ).persist()

    return _shared(spark, sf_dir, "simhash_pairs", build=build)


def _trained_centroids_shared(
    spark: SparkSession, sf_dir: str, k: int | None = None
) -> list:
    """Trained IVF centroids, shared by the IVF family, SemDeDup and
    the incremental embedding probes: training is 2 Lloyd iterations
    over the corpus — identical every time (deterministic init +
    scaled-integer means), so train once per (session, sf_dir, k).
    The value is k × dim floats of driver state, the same footprint
    the trainer itself holds.

    ``k=None`` derives k from the embedding corpus
    (clustering.adaptive_k — the SemDeDup raise-k-at-scale contract,
    automatic since round 6); the IVF family passes an explicit
    KMEANS_K because its recall semantics are pinned by the
    n_probe/n_cells ratio, not by cell population. The key carries
    the RESOLVED k, so at fixture scales (where adaptive k ==
    KMEANS_K) one training still serves every consumer."""
    from genai_batch_processor_spark.operators import clustering

    if k is None:
        k = _shared(
            spark,
            sf_dir,
            "adaptive_k",
            build=lambda: clustering.adaptive_k(
                load_table(spark, sf_dir, "embeddings").count()
            ),
        )
    return _shared(
        spark,
        sf_dir,
        "centroids",
        k,
        build=lambda: clustering.centroids_from_cells(
            clustering.kmeans_cells(
                load_table(spark, sf_dir, "embeddings"), k=k
            )
        ),
    )


def _ann_queries(spark: SparkSession, sf_dir: str):
    emb = load_table(spark, sf_dir, "embeddings")
    return emb, emb.filter(F.col("vec_id") < ANN_N_QUERIES)


def _ivf_scored_shared(
    spark: SparkSession, sf_dir: str, trained: bool
) -> DataFrame:
    """One materialized IVF candidate relation per (session, sf_dir,
    centroid provenance), scored ONCE at the maximum probe setting —
    this makes r13's 'scores each candidate once' claim literally true
    (r13 verdict item 9: the plain shared plan was inlined per union
    branch; Spark does not CSE across branches without a
    materialization). Size: |queries| × corpus/cells × max_probe rows,
    so it grows with the corpus (a few thousand rows at fixture scale,
    where |queries| is the fixed audit set). Consumers: the per-method
    top-k stage below (both IVF variants) and the probe sweep's
    slices."""

    def build() -> DataFrame:
        emb, qs = _ann_queries(spark, sf_dir)
        cents = (
            _trained_centroids_shared(spark, sf_dir, k=_KMEANS_K)
            if trained
            else None
        )
        return similarity.scored_ivf_candidates(
            emb, qs, centroids=cents, n_probe=max(_SWEEP_PROBES)
        ).localCheckpoint(eager=True)

    return _shared(
        spark,
        sf_dir,
        "ivf_scored",
        "trained" if trained else "plain",
        build=build,
    )


def _topk_method_shared(
    spark: SparkSession, sf_dir: str, method: str
) -> DataFrame:
    """One materialized top-k relation per (session, sf_dir, ANN
    method), shared by the individual ``embedding_topk_*`` queries,
    ``rrf_fusion``, the brute-force truth set, and the recall audits
    (r13 verdict item 4) — the ``_near_dup_pairs_shared`` idiom: the
    FIRST in-session consumer pays the method's full scoring build,
    every later consumer reads the materialized leaf (bounded:
    n_queries × k rows). The audit queries previously re-inlined all
    four method trees into one union plan, paying ~3 s of Catalyst
    planning per run on top of re-scoring relations the individual
    queries also compute."""

    def build() -> DataFrame:
        emb, qs = _ann_queries(spark, sf_dir)
        if method == "exact":
            df = similarity.topk_bruteforce(emb, qs)
        elif method == "int8":
            df = similarity.topk_int8(emb, qs)
        elif method == "lsh":
            df = similarity.topk_lsh(emb, qs)
        elif method in ("ivf", "ivf_trained"):
            scored = _ivf_scored_shared(
                spark, sf_dir, trained=(method == "ivf_trained")
            )
            df = similarity.topk_from_scored(
                scored.select("query_id", "neighbor_id", "cosine")
            )
        else:  # pragma: no cover - caller typo guard
            raise ValueError(f"unknown ANN method {method!r}")
        return df.localCheckpoint(eager=True)

    return _shared(spark, sf_dir, "ann_topk", method, build=build)


def _ann_truth_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force ANN truth set (query_id, neighbor_id), shared by
    embedding_ann_recall and ivf_recall_sweep — a projection of the
    shared exact top-k leaf (one brute-force scan per session serves
    the truth, q_embedding_topk AND rrf_fusion's exact branch)."""
    return _topk_method_shared(spark, sf_dir, "exact").select(
        "query_id", "neighbor_id"
    )


def _request_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → ids → prompt → typed request struct (#3-#6, #33-34)."""
    docs = _documents_with_ids(spark, sf_dir)
    prompt = requests.classification_prompt("text", LABELS)
    docs = docs.withColumn("prompt", prompt)
    content = F.array(requests.text_part(F.col("prompt")))
    return requests.build_openai_requests(
        docs, id_col="idx", user_content=content
    )


def _response_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full wire round-trip: request → JSONL → mock respond → JSONL →
    typed parse (#8, #12, mock boundary). JSON serialization happens both
    directions so the scan/encode operators are genuinely exercised."""
    reqs = _request_pipeline(spark, sf_dir)
    line = F.to_json(F.col("request")).alias("request_line")
    reqs = reqs.withColumn("request_line", line)
    # wire: parse the line back (as the provider would) and mock-respond
    parsed = F.from_json(F.col("request_line"), schemas.OPENAI_REQUEST)
    wire_prompt = F.element_at(
        F.element_at(parsed["body"]["messages"], -1)["content"], -1
    )["text"]
    resp_struct = mock.mock_response_columns(parsed["custom_id"], wire_prompt)
    reqs = reqs.withColumn("response_line", F.to_json(resp_struct))
    return reqs.withColumn(
        "resp", responses.parse_response_json("response_line")
    )


# -- lifecycle queries -------------------------------------------------------


def q_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#4 row enumeration + #5 key synthesis."""
    docs = _documents_with_ids(spark, sf_dir)
    return docs.select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        ids.custom_id("idx").alias("custom_id"),
    )


def q_build_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#3/#33/#34 request projection, flattened to scalars for checking."""
    reqs = _request_pipeline(spark, sf_dir)
    return reqs.select(
        "doc_id",
        F.col("request.custom_id").alias("custom_id"),
        F.col("request.method").alias("method"),
        F.col("request.url").alias("url"),
        F.col("request.body.model").alias("model"),
        F.col("request.body.max_tokens").alias("max_tokens"),
        F.col("request.body.temperature").alias("temperature"),
        F.col("request.body.response_format.type").alias("response_format"),
        F.size(F.col("request.body.messages")).alias("n_messages"),
        F.element_at(
            F.element_at(F.col("request.body.messages"), -1)["content"], -1
        )["text"].alias("prompt"),
    )


def q_azure_model_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#6 conditional column rewrite (Azure deployment overrides model)."""
    docs = _documents_with_ids(spark, sf_dir)
    content = F.array(requests.text_part(F.col("text")))
    reqs = requests.build_openai_requests(
        docs, id_col="idx", user_content=content, azure_deployment="my-deploy"
    )
    return reqs.select(
        "doc_id", F.col("request.body.model").alias("model")
    )


def q_mock_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#12 result scan + #38 status branch + #39/#45 extraction."""
    piped = _response_pipeline(spark, sf_dir)
    return piped.select(
        F.col("resp.custom_id").alias("custom_id"),
        responses.status_branch(F.col("resp")).alias("status"),
        responses.extract_content(F.col("resp")).alias("content"),
    )


def q_extract_answer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#40 structured-answer parse out of forced-JSON content."""
    piped = _response_pipeline(spark, sf_dir)
    return piped.select(
        "doc_id",
        responses.extract_answer(
            responses.extract_content(F.col("resp"))
        ).alias("answer"),
    )


def q_error_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#13 error-relation split → per-relation counts."""
    piped = _response_pipeline(spark, sf_dir)
    results, errors = responses.split_errors(piped, "resp")
    return results.select(F.lit("results").alias("relation")).union(
        errors.select(F.lit("errors").alias("relation"))
    ).groupBy("relation").agg(F.count("*").alias("n")).orderBy("relation")


def q_joinback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#35/#36 key-ordered join-back of answers onto inputs."""
    piped = _response_pipeline(spark, sf_dir)
    inputs = piped.select("idx", "doc_id", "lang")
    resps = piped.select(
        F.col("resp.custom_id").alias("custom_id"),
        responses.extract_answer(
            responses.extract_content(F.col("resp"))
        ).alias("answer"),
        responses.status_branch(F.col("resp")).alias("status"),
    )
    joined = joinback.attach_results(inputs, resps, id_col="idx")
    return joined.select("doc_id", "lang", "status", "answer")


def q_response_joinback_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming twin of joinback (streaming/ingest.py): mock result
    shards written as 4 JSONL files, ingested as a file-source stream
    (2 files per trigger → multiple micro-batches), parsed with the
    SAME typed schema as the batch scanner, and stream-static joined
    back to the inputs. Same oracle as the batch joinback — incremental
    ingestion must reproduce the batch join exactly."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import ingest
    from genai_batch_processor_spark.streaming import windows as sw

    piped = _response_pipeline(spark, sf_dir)
    outdir = tempfile.mkdtemp(prefix=f"resp_shards_{uuid.uuid4().hex[:8]}_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_resp_stream_")
    name = f"response_joinback_stream_{uuid.uuid4().hex[:8]}"
    try:
        (
            piped.select(F.col("response_line").alias("value"))
            .repartition(4)
            .write.mode("overwrite")
            .text(outdir)
        )
        stream = ingest.stream_response_lines(
            spark, outdir, max_files_per_trigger=2
        )
        joined = ingest.joinback_stream(
            stream, piped.select("idx", "doc_id", "lang")
        )
        # Stateless stream-static join, but each micro-batch's join
        # shuffle still plans at the session default — size it for
        # micro-batch volume like the stateful twins (no state store
        # here, so this only narrows per-epoch jobs).
        with sw.stream_state_partitions(spark, input_path=outdir):
            sw.run_to_memory(joined, name, "append", ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(outdir, ignore_errors=True)
    return sw.snapshot_and_drop(spark, name).select(
        "doc_id", "lang", "status", "answer"
    )


def q_label_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#47 aggregates: label × lang distribution of mock answers."""
    joined = q_joinback(spark, sf_dir)
    return (
        joined.filter(F.col("status") == "ok")
        .groupBy("lang", "answer")
        .agg(F.count("*").alias("n"))
    )


def q_vertex_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#19/#21 vertex request + envelope, flattened."""
    docs = _documents_with_ids(spark, sf_dir)
    reqs = requests.build_vertex_requests(
        docs, user_text=F.col("text"), max_output_tokens=50
    )
    env = requests.vertex_envelope(F.col("request"))
    return reqs.select(
        "doc_id",
        env["request"]["contents"].getItem(0)["role"].alias("role"),
        env["request"]["contents"]
        .getItem(0)["parts"]
        .getItem(0)["text"]
        .alias("text_part"),
        env["request"]["generationConfig"]["max_output_tokens"].alias(
            "max_output_tokens"
        ),
        env["request"]["generationConfig"]["temperature"].alias("temperature"),
    )


def q_question_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """#41 substring extraction over a synthesized exam-style prompt."""
    docs = _documents_with_ids(spark, sf_dir)
    exam = docs.withColumn(
        "exam_prompt",
        F.format_string(
            "Answer the exam.\nQuestion: %s\nOptions: 1,2,3,4",
            F.substring("text", 1, 40),
        ),
    )
    return exam.select(
        "doc_id",
        responses.question_preview("exam_prompt").alias("question"),
    )


# -- north-star: dedup -------------------------------------------------------


def q_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup via hash group-by (§2.D). The fixture has no exact
    dups, so the corpus is unioned with a shifted copy of itself; the
    survivor set must be exactly the original ids, each with 2 copies."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = docs.select(
        (F.col("doc_id") + F.lit(100000)).alias("doc_id"), "text"
    )
    unioned = docs.unionAll(shifted)
    return (
        unioned.groupBy(hashing.portable_hash60("text").alias("__h"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").cast("long").alias("n_copies"),
        )
        .select("doc_id", "n_copies")
    )


def q_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature per document (flattened to a string for the
    driver's value hash)."""
    from genai_batch_processor_spark.functions.fanout import fan_out

    docs = load_table(spark, sf_dir, "documents")
    sig = dedup.minhash_signature(dedup.shingle_hashes("text"))
    # fan_out before the md5-heavy signature (no-op at scale).
    return fan_out(docs.select("doc_id", "text")).select(
        "doc_id", F.concat_ws("-", sig).alias("signature")
    )


def q_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding candidate pairs (pre-verification)."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.candidate_pairs(docs, "doc_id", "text")


def q_near_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-LSH near-duplicates, Jaccard-verified at ≥ 0.8 (shared
    materialized stage — see _near_dup_pairs_shared)."""
    return _near_dup_pairs_shared(spark, sf_dir)


def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup clustering: connected components over the verified
    MinHash-LSH pair graph (iterative min-label propagation; DuckDB twin
    is a recursive-CTE transitive closure). Shared persisted stage —
    see _components_shared."""
    return _components_shared(spark, sf_dir)


def q_dedup_components_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same clustering via alternating large-star/small-star
    (operators/dedup.py:connected_components_star) — O(log²) rounds on
    arbitrarily deep pair graphs where label propagation needs
    diameter-many. Shares dedup_components' oracle: both algorithms must
    produce identical labels."""
    pairs = _near_dup_pairs_shared(spark, sf_dir)
    return dedup.connected_components_star(pairs)


def q_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The actual dedup: one survivor (min id) per near-dup component,
    singletons kept."""
    docs = load_table(spark, sf_dir, "documents")
    comps = _components_shared(spark, sf_dir)
    return dedup.dedup_survivors(docs, comps, "doc_id").select(
        "doc_id", "lang", "source"
    )


def q_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc SimHash at the corpus-derived width (r8 verdict item 1:
    32-bit at every fixture scale — recorded hashes untouched — 56-bit
    past SIMHASH_WIDEN_DOCS, where 32-bit hamming balls saturate; the
    oracle branches on the same count)."""
    from genai_batch_processor_spark.functions.fanout import fan_out

    docs = load_table(spark, sf_dir, "documents")
    n = _shared(spark, sf_dir, "doc_count", build=docs.count)
    bits, _ = dedup.adaptive_simhash_width(n)
    # fan_out before the per-doc SimHash (profiled: one 1.6 s task at
    # sf0.1 without it; no-op at scale).
    return fan_out(docs.select("doc_id", "text")).select(
        "doc_id", dedup.simhash("text", bits).alias("simhash")
    )


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (hamming ≤ 3 via nibble banding; shared
    persisted stage — see _simhash_pairs_shared)."""
    pairs = _simhash_pairs_shared(spark, sf_dir)
    return pairs.select(
        "id_a", "id_b", F.col("hamming").cast("int").alias("hamming")
    )


# -- north-star: similarity search ------------------------------------------


def q_embedding_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for the first ANN_N_QUERIES vectors
    (session-shared stage: one exact scan also serves the recall
    audits' truth set and rrf_fusion — r13 verdict item 4)."""
    return _topk_method_shared(spark, sf_dir, "exact")


def q_embedding_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-bit LSH-bucketed top-5 (the scale path; recall < 1);
    session-shared with embedding_ann_recall's lsh branch."""
    return _topk_method_shared(spark, sf_dir, "lsh")


def q_embedding_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched Pandas-UDF brute-force top-5 — same oracle as the
    JVM path; demonstrates the vectorized-Python boundary pattern."""
    emb = load_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < ANN_N_QUERIES)
    return similarity.topk_bruteforce_pandas(emb, queries)


def q_embedding_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs within sign-bit cells."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.embedding_near_dup_pairs(emb)


def _embedding_survivors(emb: DataFrame, pairs: DataFrame) -> DataFrame:
    """Shared dedup tail: pair graph → star components → min-id
    survivors, (vec_id, label) — ONE copy of the survivor contract for
    both embedding-dedup families (LSH cells and SemDeDup)."""
    comps = dedup.connected_components_star(pairs)
    return dedup.dedup_survivors(emb, comps, "vec_id").select(
        "vec_id", "label"
    )


def q_embedding_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end EMBEDDING dedup: cosine near-dup pairs (bucketed,
    capped) → large-star/small-star components → one survivor per
    cluster — the semantic-dedup analog of the MinHash pipeline, on the
    modality where paraphrases collide that text shingles never catch.
    Oracle: recursive-CTE transitive closure over the same pair SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    return _embedding_survivors(
        emb, similarity.embedding_near_dup_pairs(emb)
    )


# -- north-star: text analysis ----------------------------------------------


def q_doc_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document text metrics: counts, quality score, language guess,
    rolling-hash fingerprint (§2.D text analysis)."""
    from genai_batch_processor_spark.functions.fanout import fan_out

    docs = load_table(spark, sf_dir, "documents")
    # Six heavy per-row text expressions over a single-split local scan
    # ran as one task; fan_out first (no-op at scale).
    return fan_out(docs.select("doc_id", "text")).select(
        "doc_id",
        tx.word_count("text").alias("n_words"),
        tx.token_count("text").alias("n_tokens"),
        F.round(tx.mean_word_length("text"), 6).alias("mean_word_len"),
        tx.quality_score("text").alias("quality"),
        tx.lang_guess("text").alias("lang_guess"),
        tx.fingerprint("text").alias("fingerprint"),
    )


def q_lang_id_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic vs the fixture's true lang column."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", tx.lang_guess("text").alias("guessed"))
        .groupBy("lang", "guessed")
        .agg(F.count("*").alias("n"))
    )


def q_term_frequencies(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 lowercase alphabetic terms: explode → hash-agg → top-k.

    Scale: groupBy(word) partial-aggregates map-side before the shuffle;
    the final top-k is a single global sort of the (small) aggregated
    relation, not of the exploded corpus."""
    docs = load_table(spark, sf_dir, "documents")
    words = docs.select(
        F.explode(tx.words(F.lower("text"))).alias("term")
    ).filter(F.col("term").rlike("^[a-z]+$"))
    return (
        words.groupBy("term")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(100)
    )


def q_source_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source aggregate quality/token stats. Double sums go through
    scaled-integer accumulation (order-independent) so the result is
    engine-exact; the single final division is deterministic."""
    docs = load_table(spark, sf_dir, "documents")
    # round before the long cast: Spark's double→long cast truncates while
    # DuckDB's rounds, so an explicit round keeps the twins in lockstep
    q6 = F.round(tx.quality_score("text") * F.lit(1_000_000), 0).cast("long")
    return (
        docs.select("source", q6.alias("q6"), tx.token_count("text").alias("tok"))
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("tok").cast("long").alias("total_tokens"),
            (
                F.sum("q6").cast("double")
                / (F.count("*") * F.lit(1_000_000.0))
            ).alias("avg_quality"),
        )
    )


# -- north-star: multimodal columns ------------------------------------------


def q_multimodal_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal request assembly (#42/#43): deterministic fake image
    bytes (utf-8 of a text prefix — the container has no image libs) →
    base64 data-URI → [text part, image part] content array."""
    docs = _documents_with_ids(spark, sf_dir)
    fake_png = F.encode(F.substring("text", 1, 24), "utf-8")
    data_uri = F.concat(
        F.lit("data:image/png;base64,"), F.base64(fake_png)
    )
    content = F.array(
        requests.text_part(F.col("text")), requests.image_part(data_uri)
    )
    reqs = requests.build_openai_requests(
        docs, id_col="idx", user_content=content, model="o4-mini"
    )
    msg = F.element_at(F.col("request.body.messages"), -1)
    return reqs.select(
        "doc_id",
        F.size(msg["content"]).alias("n_parts"),
        msg["content"].getItem(0)["type"].alias("part0_type"),
        msg["content"].getItem(1)["type"].alias("part1_type"),
        msg["content"].getItem(1)["image_url"]["url"].alias("image_uri"),
        # o-series conditional shaping (#44): max_completion_tokens set,
        # temperature absent
        F.col("request.body.max_completion_tokens").alias("max_completion_tokens"),
        F.col("request.body.temperature").alias("temperature"),
    )


# -- events: time-window & stateful-style aggregates -------------------------


def q_events_hourly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 1-hour window aggregation over the events table (batch
    form of the streaming windowed agg; same window() op works under
    Structured Streaming with a watermark)."""
    ev = load_table(spark, sf_dir, "events")
    win = F.window("ts", "1 hour")
    return (
        ev.groupBy(win.alias("w"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
            "event_type",
            "n",
            "total_value",
        )
    )


def q_user_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: 30-minute inactivity gap → per-user session count
    and max session size (gaps-and-islands via lag + running sum)."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gap = F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w)
    sessioned = ev.withColumn(
        "new_sess",
        F.when(gap.isNull() | (gap > 30 * 60), F.lit(1)).otherwise(F.lit(0)),
    ).withColumn("sess_id", F.sum("new_sess").over(w))
    per_sess = sessioned.groupBy("user_id", "sess_id").agg(
        F.count("*").alias("n_events")
    )
    return per_sess.groupBy("user_id").agg(
        F.max("sess_id").cast("long").alias("n_sessions"),
        F.max("n_events").cast("long").alias("max_session_events"),
    )


def q_events_json_props(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-as-string column access (§1 mapping): extract props.k."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    return (
        ev.select("event_type", k.alias("k"))
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum("k").cast("long").alias("sum_k"),
            F.min("k").alias("min_k"),
            F.max("k").alias("max_k"),
        )
    )


# -- relational coverage (§2.C: joins/aggs/windows/sorts/set ops) ------------


def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1-shaped scan+filter+agg (pushdown-friendly: predicate and
    column pruning reach the parquet scan). Money math in decimal."""
    li = load_table(spark, sf_dir, "lineitem")
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(dec("l_quantity")).cast("double").alias("sum_qty"),
            F.sum(dec("l_extendedprice")).cast("double").alias("sum_base_price"),
            F.sum(
                dec("l_extendedprice") * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
            )
            .cast("double")
            .alias("sum_disc_price"),
            F.count("*").alias("count_order"),
        )
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join chain with broadcast dims: region ⋈ nation ⋈ customer ⋈
    orders. The two small dims are explicitly broadcast; the big fact
    join shuffles on the key Catalyst picks (AQE re-plans at runtime)."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    reg = F.broadcast(load_table(spark, sf_dir, "region"))
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .join(reg, nat.n_regionkey == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region"))
        .agg(
            F.count("*").alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,4)"))
            .cast("double")
            .alias("revenue"),
        )
    )


def q_top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windowed top-k: 3 highest-spending customers per nation."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    spend = (
        orders.groupBy("o_custkey")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("spend_dec")
        )
    )
    joined = (
        cust.join(spend, cust.c_custkey == spend.o_custkey)
        .join(nat, cust.c_nationkey == nat.n_nationkey)
        .select(
            "n_name", "c_custkey", F.col("spend_dec").cast("double").alias("spend")
        )
    )
    w = Window.partitionBy("n_name").orderBy(
        F.col("spend").desc(), F.col("c_custkey").asc()
    )
    return (
        joined.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select(
            F.col("n_name").alias("nation"),
            "c_custkey",
            F.col("rnk").cast("int").alias("rnk"),
            "spend",
        )
    )


def q_customer_order_setops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set operations (§2.C 'absent in reference'): customers with open
    ('O') vs finished ('F') orders — intersect / except both ways,
    tagged and unioned into one relation."""
    orders = load_table(spark, sf_dir, "orders")
    o_cust = (
        orders.filter(F.col("o_orderstatus") == "O")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    f_cust = (
        orders.filter(F.col("o_orderstatus") == "F")
        .select(F.col("o_custkey").alias("custkey"))
        .distinct()
    )
    both = o_cust.intersect(f_cust).withColumn("set_op", F.lit("both"))
    only_o = o_cust.subtract(f_cust).withColumn("set_op", F.lit("only_open"))
    only_f = f_cust.subtract(o_cust).withColumn("set_op", F.lit("only_finished"))
    return (
        both.unionAll(only_o)
        .unionAll(only_f)
        .groupBy("set_op")
        .agg(F.count("*").alias("n_customers"))
    )


def q_embedding_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-cell approximate top-5 (deterministic centroid stand-ins);
    ranked over the session-shared scored candidate relation
    (scores-once via _ivf_scored_shared; default n_probe equals the
    relation's max probe, so the rank filter over it IS topk_ivf)."""
    return _topk_method_shared(spark, sf_dir, "ivf")


def q_embedding_topk_ivf_trained(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """IVF top-5 over TRAINED cells: kmeans_cells (2 Lloyd iterations,
    operators/clustering.py) supplies the centroid relation, collected
    once (k × dim doubles) and inlined into the shuffle-free cell
    assignment — the trainer → index wiring the literal-centroid
    stand-in (embedding_topk_ivf) defers. The DuckDB oracle replays the
    exact training iterations (scaled-integer means ⇒ bit-identical
    centroids), so assignment, probing and ranking all match.
    Ranked over the session-shared trained scored relation (explicit
    KMEANS_K inside _ivf_scored_shared: IVF recall semantics are
    pinned by the n_probe/n_cells ratio — the adaptive-k default is
    SemDeDup's contract, not this one's)."""
    return _topk_method_shared(spark, sf_dir, "ivf_trained")


def q_embedding_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@k of every approximate ANN path against the brute-force
    truth — the quality contract of the scale paths: at 100 TB only the
    approximate variants are viable, so their recall must be MEASURED,
    not assumed. Deterministic inputs ⇒ exact expected recall, so the
    oracle pins it to the bit.

    Shape: each method's (query_id, neighbor_id) pairs are tagged and
    unioned, LEFT-joined against the (bounded: n_queries × k rows,
    broadcast) truth set, then one tiny per-method aggregate. The
    denominator |truth| rides along as a broadcast 1-row aggregate —
    no driver collect anywhere (the trained centroids come from the
    shared per-session trainer cache)."""
    # Every branch reads its method's session-shared materialized
    # top-k leaf (_topk_method_shared, r13 verdict item 4): the first
    # in-session consumer pays each method's scoring build; this
    # audit's own plan is then four bounded leaves + broadcast joins
    # instead of four re-inlined scoring trees (~3 s of Catalyst
    # planning per run, profiled) that re-scored what the individual
    # topk queries already compute.
    # Cold-session prefetch (guide §2.6 — overlap independent jobs):
    # the old single union plan ran the four scoring branches
    # concurrently inside one action; building the shared leaves
    # serially would forfeit that, so the first consumer builds them
    # from a small thread pool (methods key distinct stage entries, and
    # _shared builds a key requested concurrently only once; Spark
    # schedules concurrent actions FIFO, back-filling the tail). The
    # trained-IVF build trains the shared centroids if this session
    # hasn't yet.
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=5) as pool:
        list(
            pool.map(
                lambda m: _topk_method_shared(spark, sf_dir, m),
                ("exact", "int8", "ivf", "ivf_trained", "lsh"),
            )
        )
    truth = _ann_truth_shared(spark, sf_dir)
    methods = {
        name: _topk_method_shared(spark, sf_dir, name).select(
            "query_id", "neighbor_id"
        )
        for name in ("int8", "ivf", "ivf_trained", "lsh")
    }
    tagged = None
    for name, df in methods.items():
        part = df.select(
            F.lit(name).alias("method"), "query_id", "neighbor_id"
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    hits = tagged.join(
        F.broadcast(truth.withColumn("__hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    n_truth = F.broadcast(
        truth.agg(F.count(F.lit(1)).alias("n_truth"))
    )
    return (
        hits.groupBy("method")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"),
        )
        .crossJoin(n_truth)
        .select(
            "method",
            F.col("n_returned").cast("long").alias("n_returned"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.col("n_truth").cast("long").alias("n_truth"),
            (
                F.col("n_hit").cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
    )


_SWEEP_PROBES = (1, 2, 4)  # ascending; the shared scoring runs at max()


def q_ivf_recall_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall/cost knob sweep for trained IVF (round-9 verdict item 6):
    recall@5 vs the brute-force truth at n_probe ∈ {1, 2, 4} — the
    measured tradeoff curve a 100 TB operator reads BEFORE choosing a
    probe setting (embedding_ann_recall pins only the default).
    Deterministic trained cells make every point exact, so the DuckDB
    oracle pins each recall to the bit and monotonicity in n_probe is
    verified data, not an assumption. Same bounded shape as
    embedding_ann_recall: persisted truth computed once, broadcast hit
    join, denominator as a broadcast 1-row aggregate."""
    truth = _ann_truth_shared(spark, sf_dir)
    # Score ONCE at the largest n_probe, carrying each candidate's
    # probe_rank (the position of its cell in the query's sorted cell
    # list); the n_probe=p sweep point is exactly the probe_rank <= p
    # slice, so the three sweep branches share one corpus scan, one
    # centroid-literal tree and one cosine pass instead of three
    # (optimization round 13: 3x duplicated literal argmin trees cost
    # ~2 s of Catalyst planning + serial single-task scoring per run;
    # restructure measured 4.8 s -> 2.7 s, results bit-identical —
    # cells are disjoint, so slice(sorted, 1, p) == probe_rank <= p).
    # r14: the scored relation is the session-shared MATERIALIZED one
    # (also ranked by embedding_topk_ivf_trained and ann_recall), so
    # 'scores each candidate once' now holds across branches AND
    # consumers — r13's plan inlined the subtree per union branch.
    scored = _ivf_scored_shared(spark, sf_dir, trained=True)
    tagged = None
    for n_probe in _SWEEP_PROBES:
        part = similarity.topk_from_scored(
            scored.filter(F.col("probe_rank") <= n_probe).select(
                "query_id", "neighbor_id", "cosine"
            ),
            similarity.TOPK_DEFAULT,
        ).select(
            F.lit(n_probe).cast("int").alias("n_probe"),
            "query_id",
            "neighbor_id",
        )
        tagged = part if tagged is None else tagged.unionAll(part)
    hits = tagged.join(
        F.broadcast(truth.withColumn("__hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    n_truth = F.broadcast(truth.agg(F.count(F.lit(1)).alias("n_truth")))
    return (
        hits.groupBy("n_probe")
        .agg(
            F.count(F.lit(1)).alias("n_returned"),
            F.sum(F.coalesce("__hit", F.lit(0))).alias("n_hit"),
        )
        .crossJoin(n_truth)
        .select(
            "n_probe",
            F.col("n_returned").cast("long").alias("n_returned"),
            F.col("n_hit").cast("long").alias("n_hit"),
            F.col("n_truth").cast("long").alias("n_truth"),
            (
                F.col("n_hit").cast("double")
                / F.col("n_truth").cast("double")
            ).alias("recall"),
        )
    )


def q_events_asof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click joined to the user's most recent prior (or
    simultaneous) purchase; age of that purchase in micros."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts", "value"
    )
    joined = temporal.asof_join(
        clicks,
        purchases.withColumnRenamed("event_id", "purchase_id"),
        on="user_id",
        right_seq="purchase_id",
        right_cols=["purchase_id", "value"],
    )
    return joined.select(
        "event_id",
        "user_id",
        "asof_purchase_id",
        (F.unix_micros("ts") - F.unix_micros("asof_ts")).alias("age_micros"),
    )


def q_vertex_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vertex response-relation parse (#26-28/#46): mock JSONL lines in
    the Vertex shape → typed parse → candidates/error branch
    (ex-vcls:153-166 semantics)."""
    docs = _documents_with_ids(spark, sf_dir)
    cid = ids.custom_id("idx")
    label = mock.label_expr(F.col("text"))
    err = mock.is_error_expr(cid)
    line = F.to_json(
        F.struct(
            F.when(
                ~err,
                F.struct(
                    F.array(
                        F.struct(
                            F.struct(
                                F.array(F.struct(label.alias("text"))).alias(
                                    "parts"
                                )
                            ).alias("content")
                        )
                    ).alias("candidates"),
                    F.lit(None).cast("struct<message:string>").alias("error"),
                ),
            )
            .otherwise(
                F.struct(
                    F.lit(None)
                    .cast(
                        "array<struct<content:struct<parts:array<struct<text:string>>>>>"
                    )
                    .alias("candidates"),
                    F.struct(F.lit(mock.ERROR_MESSAGE).alias("message")).alias(
                        "error"
                    ),
                )
            )
            .alias("response")
        )
    )
    parsed = docs.select(
        "doc_id", F.from_json(line, schemas.VERTEX_RESPONSE).alias("r")
    )
    cand_text = F.col("r.response.candidates")[0]["content"]["parts"][0]["text"]
    return parsed.select(
        "doc_id",
        F.when(F.col("r.response.error").isNotNull(), F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        cand_text.alias("answer"),
    )


def q_lang_source_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical aggregate (§2.C grouping sets): ROLLUP(lang, source)
    — per-(lang,source), per-lang, and grand-total rows in one pass."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.rollup("lang", "source").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-n-gram Jaccard near-dup pairs (§2.D 'n-gram Jaccard') —
    MinHash-LSH candidates over char-5-gram sets, exact-Jaccard verified."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.ngram_jaccard_pairs(docs, "doc_id", "text")


def q_order_priority_returns(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-SEMI join (§2.C joins: absent in reference, first-class here):
    orders having ≥1 returned lineitem, counted per priority (TPC-H Q4
    shape). The semi join shuffles only the join keys — no lineitem
    payload crosses the wire, and the EXISTS never duplicates orders."""
    orders = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    returned = li.filter(F.col("l_returnflag") == "R").select("l_orderkey")
    sem = orders.join(
        returned, orders.o_orderkey == returned.l_orderkey, "left_semi"
    )
    return sem.groupBy("o_orderpriority").agg(F.count("*").alias("n_orders"))


def q_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-ANTI join: customers with no OPEN ('O') orders, per nation.
    The status filter pushes into the orders scan before the anti join."""
    cust = load_table(spark, sf_dir, "customer")
    orders = (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_custkey")
    )
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    silent = cust.join(
        orders, cust.c_custkey == orders.o_custkey, "left_anti"
    )
    return (
        silent.join(nat, silent.c_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.count("*").alias("n_customers"))
    )


PRICE_BRACKETS: list[tuple[str, float, float]] = [
    ("low", 900.0, 925.0),
    ("mid", 925.0, 950.0),
    ("high", 950.0, 975.0),
    ("top", 975.0, 1000.0),
]


def q_price_bracket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (theta) join against a broadcast bracket dim: each part lands
    in the bracket whose [lo, hi) interval contains its retail price.
    Non-equi predicate ⇒ BroadcastNestedLoopJoin — correct strategy for a
    4-row dim; the fact side never shuffles."""
    part = load_table(spark, sf_dir, "part")
    br = F.broadcast(
        spark.createDataFrame(
            PRICE_BRACKETS, "bracket string, lo double, hi double"
        )
    )
    return (
        part.join(
            br,
            (part.p_retailprice >= br.lo) & (part.p_retailprice < br.hi),
        )
        .groupBy("bracket")
        .agg(
            F.count("*").alias("n_parts"),
            F.sum("p_size").cast("long").alias("total_size"),
            F.min("p_retailprice").alias("min_price"),
            F.max("p_retailprice").alias("max_price"),
        )
    )


def q_events_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE aggregate (§2.C grouping sets, beyond ROLLUP): all four
    groupings of (event_type, day) in one pass."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
        .cube("event_type", "day")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def q_lang_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct aggregate: per-language vocabulary size and term volume.
    count(DISTINCT term) expands to a two-stage agg (partial distinct on
    (lang, term), then count) — no row ever carries the full term set."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "lang", F.explode(tx.words(F.lower("text"))).alias("term")
    ).filter(F.col("term").rlike("^[a-z]+$"))
    return terms.groupBy("lang").agg(
        F.countDistinct("term").alias("vocab"),
        F.count("*").alias("n_terms"),
    )


def q_events_value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact percentile aggregates (interpolated, quantile_cont
    semantics) per event type — engine-exact against DuckDB. At scale
    swap F.percentile for percentile_approx (t-digest, mergeable
    partial agg) and accept the documented approximation."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.round(F.percentile("value", 0.5), 6).alias("p50"),
        F.round(F.percentile("value", 0.95), 6).alias("p95"),
        F.count("*").alias("n"),
    )


def q_events_hourly_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured Streaming twin of events_hourly: readStream over the
    events fixture → watermarked tumbling-window agg → availableNow
    drain into the memory sink; returns the completed result relation.
    Oracle-paired with the SAME SQL as the batch query — the stream must
    reproduce the batch aggregation exactly (a live run would drop data
    later than the 2h watermark; an availableNow backfill sees all)."""
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    name = f"events_hourly_stream_{uuid.uuid4().hex[:8]}"
    stream = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    agg = sw.hourly_counts(stream)
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        # The windowed agg keeps one state store per shuffle partition;
        # size them for the stream's input volume like every other
        # stateful twin (r14: volume-derived, not the constant 8 —
        # the small floor locally, cluster width at scale).
        with sw.stream_state_partitions(
            spark, input_path=sf_dir.rstrip("/") + "/events.parquet"
        ):
            sw.run_to_memory(agg, name, "complete", ckpt)
    finally:
        # availableNow drained to completion — the checkpoint is dead
        # state; leaving it would leak one dir per invocation.
        import shutil

        shutil.rmtree(ckpt, ignore_errors=True)
    return sw.snapshot_and_drop(spark, name)


def q_user_stats_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom STATEFUL streaming op (applyInPandasWithState,
    streaming/windows.py:user_stats_stream): per-user running event count
    + last event type, drained with availableNow into the memory sink.

    Update-mode sinks emit one row per user per micro-batch; the FINAL
    state per user is the row with max n_events (the count is monotonic,
    so no ties across batches). Oracle = per-user count / argmax-by-
    (micros ts, event_id) SQL — the stateful stream must reproduce the
    batch answer exactly on a bounded input."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    name = f"user_stats_stream_{uuid.uuid4().hex[:8]}"
    stream = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    out = sw.user_stats_stream(stream)
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        with sw.stream_state_partitions(
            spark, input_path=sf_dir.rstrip("/") + "/events.parquet"
        ):
            sw.run_to_memory(out, name, "update", ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    tbl = sw.snapshot_and_drop(spark, name)
    w = Window.partitionBy("user_id").orderBy(F.col("n_events").desc())
    return (
        tbl.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def q_supplier_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-nation supplier account-balance rollup (broadcast dim join;
    money sums in decimal so the result is order-independent)."""
    sup = load_table(spark, sf_dir, "supplier")
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    return (
        sup.join(nat, sup.s_nationkey == nat.n_nationkey)
        .groupBy(F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_suppliers"),
            F.sum(F.col("s_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_acctbal"),
            F.max("s_acctbal").alias("max_acctbal"),
        )
    )


def q_embedding_label_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label corpus stats over the embedding column: count and mean
    vector norm. Norm sums go through scaled-integer accumulation
    (order-independent) like source_quality, so the mean is engine-exact."""
    from genai_batch_processor_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    norm6 = F.round(V.norm("embedding") * F.lit(1_000_000), 0).cast("long")
    return (
        emb.select("label", norm6.alias("n6"))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.sum("n6").cast("double")
                / (F.count("*") * F.lit(1_000_000.0))
            ).alias("avg_norm"),
        )
    )


def q_order_revenue_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: the fact-fact orders ⋈ lineitem join (largest
    shuffle in the schema) with date predicates pushed into both scans,
    then top-10 revenue orders. The final top-k is a TakeOrdered over the
    aggregated relation — no global sort of the join output."""
    orders = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1995-03-15")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1995-03-15")
    )
    dec = lambda c: F.col(c).cast("decimal(18,4)")  # noqa: E731
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
        )
        .agg(
            F.sum(
                dec("l_extendedprice")
                * (F.lit(1).cast("decimal(18,4)") - dec("l_discount"))
            )
            .cast("double")
            .alias("revenue")
        )
        .orderBy(F.col("revenue").desc(), F.col("l_orderkey").asc())
        .limit(10)
    )


def q_lang_source_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arbitrary GROUPING SETS ((lang), (source)) through the SQL entry
    point — the per-lang and per-source marginals in one pass, without
    the (lang, source) cross detail rollup/cube would add."""
    load_table(spark, sf_dir, "documents").createOrReplaceTempView(
        "documents_v"
    )
    return spark.sql(
        """
        SELECT lang, source,
               count(*) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM documents_v
        GROUP BY GROUPING SETS ((lang), (source))
        """
    )


def q_user_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal conversion funnel over events: users who viewed, then
    clicked within one day of their first view, then purchased within
    one day of that click. Each stage is a keyed aggregate + an
    equi-join on user_id with the temporal band as a join filter — no
    window over the whole event stream, shuffles only on user_id."""
    ev = load_table(spark, sf_dir, "events")

    def first_after(event_type: str, prev: DataFrame, prev_ts: str, out: str):
        e = ev.filter(F.col("event_type") == event_type).select(
            "user_id", "ts"
        )
        return (
            e.join(prev, "user_id")
            .filter(
                (F.col("ts") >= F.col(prev_ts))
                & (F.col("ts") <= F.col(prev_ts) + F.expr("INTERVAL 1 DAY"))
            )
            .groupBy("user_id")
            .agg(F.min("ts").alias(out))
        )

    views = (
        ev.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("first_view"))
    )
    clicks = first_after("click", views, "first_view", "first_click")
    purchases = first_after("purchase", clicks, "first_click", "first_purchase")
    funnel = views.join(clicks, "user_id", "left").join(
        purchases, "user_id", "left"
    )
    return funnel.agg(
        F.count("user_id").alias("n_view"),
        F.count("first_click").alias("n_click_after_view"),
        F.count("first_purchase").alias("n_purchase_after_click"),
    )


def q_tfidf_top_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document: term-frequency and document-
    frequency aggregates joined on term, corpus size attached via a
    broadcast 1-row cross join (never a driver-side collect), then a
    per-document rank window. Ranking uses the ROUNDED score so Spark
    and the oracle order bit-identical values (ln may differ by 1 ulp
    between libm implementations; 6-decimal rounding absorbs it)."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(tx.words(F.lower("text"))).alias("term")
    ).filter(F.col("term").rlike("^[a-z]+$"))
    tf = terms.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    total = docs.agg(F.count("*").alias("nd"))
    scored = (
        tf.join(dfreq, "term")
        .crossJoin(F.broadcast(total))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf")
                * F.log(F.col("nd").cast("double") / F.col("df")),
                6,
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "term", F.col("rnk").cast("int").alias("rnk"), "tfidf")
    )


def q_above_avg_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated scalar subquery (TPC-H Q17/Q22 flavor) through
    spark.sql: customers above their own nation's average balance.
    Catalyst decorrelates the subquery into an aggregate + join — no
    per-row re-execution; the average runs in decimal so the threshold
    is order-independent on both engines."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer_v"
    )
    load_table(spark, sf_dir, "nation").createOrReplaceTempView("nation_v")
    return spark.sql(
        """
        SELECT n.n_name AS nation,
               count(*) AS n_above_avg,
               CAST(max(c.c_acctbal) AS DOUBLE) AS max_acctbal
        FROM customer_v c
        JOIN nation_v n ON c.c_nationkey = n.n_nationkey
        WHERE c.c_acctbal > (
          SELECT CAST(avg(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
          FROM customer_v c2
          WHERE c2.c_nationkey = c.c_nationkey
        )
        GROUP BY n.n_name
        """
    )


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_source_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-diversity metric for curation: per-source language count
    and Gini-Simpson index 1 - sum(p_i^2) — a mix dominated by one
    language scores near 0, an even mix near 1. All ratios are exact
    int/int divisions in double, so the index is engine-identical."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.groupBy("source", "lang").agg(
        F.count(F.lit(1)).alias("n")
    )
    # 1 - sum(n_i^2)/N^2: integer sums are exact and order-free; the
    # single double division at the end is deterministic (a float
    # sum of p_i^2 would depend on aggregation order). The squares and
    # the N*N product run in decimal — a source with >~3e9 docs would
    # overflow a bigint product and (under ANSI mode) abort the job.
    n19 = F.col("n").cast("decimal(19,0)")
    s19 = F.sum("n").cast("decimal(19,0)")
    return per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_langs"),
        F.sum("n").cast("long").alias("n_docs"),
        (
            F.lit(1.0)
            - F.sum(n19 * n19).cast("double")
            / (s19 * s19).cast("double")
        ).alias("gini_simpson"),
    )


def q_source_lang_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot reshaping: per-source doc counts spread into one column per
    language. The value list is explicit, so the output schema is static
    (a discovery pivot would need an extra distinct pass and produce a
    data-dependent schema — wrong for a production pipeline)."""
    docs = load_table(spark, sf_dir, "documents")
    pivoted = (
        docs.groupBy("source").pivot("lang", PIVOT_LANGS).count().na.fill(0)
    )
    return pivoted.select(
        "source", *[F.col(c).cast("long").alias(c) for c in PIVOT_LANGS]
    )


def q_doc_attr_map(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MapType round-trip (§1 maps sparse config knobs to
    map<string,string>): build an attribute map per document, explode it
    with the map generator, aggregate per (key, value). The explode is a
    Generate node — B entries per row, no shuffle until the count agg."""
    docs = load_table(spark, sf_dir, "documents")
    attrs = F.create_map(
        F.lit("lang"), F.col("lang"), F.lit("source"), F.col("source")
    )
    return (
        docs.select(F.explode(attrs).alias("key", "value"))
        .groupBy("key", "value")
        .agg(F.count("*").alias("n"))
    )


# -- training-data curation: sampling / splits / scrubbing / decontam --------

SAMPLE_RATES = {"en": 0.8, "de": 0.4}
SAMPLE_DEFAULT_RATE = 0.2
QUOTA_PER_SOURCE = 10
BENCHMARK_MAX_DOC_ID = 20


def q_doc_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling (source/language mixing): keep
    rows whose md5 hash coordinate clears the per-lang rate — a pure
    row-local filter (zero shuffle), reproducible bit-for-bit on any
    engine and any cluster size (operators/sampling.py)."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.stratified_sample(
        docs, "doc_id", "lang", SAMPLE_RATES, SAMPLE_DEFAULT_RATE
    ).select("doc_id", "lang", "source")


def q_quality_weighted_sample(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Quality-WEIGHTED subsampling (new in r8): each document survives
    with probability equal to its own composite quality score — the
    curation rule that tilts a fixed token budget toward higher-quality
    text without a hard threshold's cliff
    (operators/sampling.py:weighted_sample). Pure row-local hash
    filter: zero shuffle, bit-for-bit reproducible, per-row monotone in
    the weight. Output carries the integer-milli weight so the oracle
    pins the weight computation too, not just membership."""
    docs = load_table(spark, sf_dir, "documents")
    w = tx.quality_score("text")
    return sampling.weighted_sample(docs, "doc_id", w).select(
        "doc_id",
        "source",
        F.round(w * 1000, 0).cast("int").alias("w_milli"),
    )


def q_split_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """train/val/test assignment as a pure function of the doc id
    (hash-bucket percentages) — held-out membership survives reruns and
    engine changes; per-(split, lang) counts."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", sampling.assign_split("doc_id"))
        .groupBy("split", "lang")
        .agg(F.count(F.lit(1)).alias("n"))
    )


def q_source_quota(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source volume cap: at most QUOTA_PER_SOURCE docs per source,
    chosen by hash rank (unbiased subsample, not head-of-file bias).
    One shuffle on source; output bounded by quota — skew-proof."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.quota_sample(
        docs, "doc_id", "source", QUOTA_PER_SOURCE
    ).select("doc_id", "source")


def q_pii_redaction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub (emails + phone patterns) as pure regexp_replace — the
    standard pre-training redaction pass, no UDF. Synthetic PII is
    injected deterministically (every 7th doc) so the op has real work;
    the redacted text is fingerprinted for engine-exact comparison."""
    docs = load_table(spark, sf_dir, "documents")
    injected = F.when(
        F.col("doc_id") % 7 == 0,
        F.concat(
            F.col("text"),
            F.lit(" contact user"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com or call 555-0142."),
        ),
    ).otherwise(F.col("text"))
    t = docs.select("doc_id", injected.alias("t2"))
    return t.select(
        "doc_id",
        tx.email_count("t2").alias("n_emails"),
        tx.phone_count("t2").alias("n_phones"),
        hashing.portable_hash60(tx.redact_pii("t2")).alias("redacted_fp"),
    )


def q_doc_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repetition-ratio quality signal (1 - distinct/total words):
    boilerplate and spam score high and get filtered before training."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.round(tx.repetition_ratio("text"), 6).alias("repetition"),
    )


def q_runner_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The distributed live-inference path (mapInPandas runner,
    inference/runner.py) made oracle-checkable: per-partition client,
    micro-batches, retry machinery — and the output must STILL equal the
    pure-column mock, so it shares mock_responses' oracle.

    The client class is defined inside this function ON PURPOSE:
    cloudpickle then ships it by value, so Python workers that cannot
    import this repo (a caller's vanilla session) still run it. The
    algorithm is the documented mock determinism rule (inference/mock.py
    FIXTURES.md contract) with its constants captured as literals."""
    from genai_batch_processor_spark.inference import runner

    docs = _documents_with_ids(spark, sf_dir)
    docs = docs.withColumn(
        "prompt", requests.classification_prompt("text", LABELS)
    ).withColumn("custom_id", ids.custom_id("idx"))

    labels = tuple(LABELS)
    modulus, residue = mock.ERROR_MODULUS, mock.ERROR_RESIDUE
    err_msg = mock.ERROR_MESSAGE

    def factory():
        import hashlib

        def h32(s: str) -> int:
            return int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16)

        class _Client:
            def complete_batch(self, rows):
                out = []
                for cid, prompt in rows:
                    if h32(cid) % modulus == residue:
                        out.append(
                            {
                                "custom_id": cid,
                                "error": {"message": err_msg},
                                "response": None,
                            }
                        )
                        continue
                    label = labels[h32(prompt) % len(labels)]
                    out.append(
                        {
                            "custom_id": cid,
                            "error": None,
                            "response": {
                                "status_code": 200,
                                "body": {
                                    "choices": [
                                        {
                                            "message": {
                                                "content": '{"answer": "%s"}'
                                                % label,
                                                "refusal": None,
                                            }
                                        }
                                    ]
                                },
                            },
                        }
                    )
                return out

        return _Client()

    out = runner.run_inference(docs, factory, micro_batch_size=64)
    return out.select(
        F.col("resp.custom_id").alias("custom_id"),
        responses.status_branch(F.col("resp")).alias("status"),
        responses.extract_content(F.col("resp")).alias("content"),
    )


def q_events_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 1-hour per-user aggregate via a RANGE window frame on
    event-time seconds — the sliding-window analytics shape (alerting,
    rate features). Decimal-exact sum so the frame total is
    order-independent; peers at the same second are included on both
    engines by RANGE semantics."""
    ev = load_table(spark, sf_dir, "events")
    sec = F.expr("unix_micros(ts) div 1000000")
    w = (
        Window.partitionBy("user_id")
        .orderBy(sec)
        .rangeBetween(-3600, 0)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).alias("n_1h"),
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
        .alias("sum_1h"),
    )


def q_balance_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile(4) quartiles of customer balance WITHIN each nation
    (deterministic: unique order by balance, custkey), rolled up to
    per-(nation, quartile) counts and boundary balances."""
    cust = load_table(spark, sf_dir, "customer")
    nat = F.broadcast(load_table(spark, sf_dir, "nation"))
    w = Window.partitionBy("n_name").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    return (
        cust.join(nat, cust.c_nationkey == nat.n_nationkey)
        .withColumn("quartile", F.ntile(4).over(w))
        .groupBy(F.col("n_name").alias("nation"), "quartile")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.min("c_acctbal").alias("min_bal"),
            F.max("c_acctbal").alias("max_bal"),
        )
    )


def q_user_sessions_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING sessionization: event-time session_window (30 min gap)
    per user, drained with availableNow in complete mode, then rolled up
    to the same per-user shape as the batch islands query
    (user_sessions). Oracle = micros-precision islands SQL with the
    session_window merge rule (new session iff gap >= 30 min) — the
    streaming operator must reproduce batch sessionization exactly."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    name = f"user_sessions_stream_{uuid.uuid4().hex[:8]}"
    stream = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    sess = sw.session_aggs(stream)
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        with sw.stream_state_partitions(
            spark, input_path=sf_dir.rstrip("/") + "/events.parquet"
        ):
            sw.run_to_memory(sess, name, "complete", ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        sw.snapshot_and_drop(spark, name)
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_sessions"),
            F.max("n_events").alias("max_session_events"),
        )
    )


def q_events_sliding_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING hopping windows: the 1h/30min sliding aggregation over
    readStream with watermark, drained availableNow in complete mode —
    must equal the batch events_sliding exactly (same oracle)."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    name = f"events_sliding_stream_{uuid.uuid4().hex[:8]}"
    stream = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    agg = sw.sliding_counts(stream.withWatermark("ts", "2 hours"))
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        with sw.stream_state_partitions(
            spark, input_path=sf_dir.rstrip("/") + "/events.parquet"
        ):
            sw.run_to_memory(agg, name, "complete", ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return sw.snapshot_and_drop(spark, name)


def q_events_dedup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAMING exact dedup: two streams over the same events file are
    unioned (every event arrives twice), then watermark-bounded
    dropDuplicates recovers the distinct set — drained with availableNow
    into an append-mode memory sink and aggregated per type. Oracle =
    the plain batch aggregation: the stream must erase the duplication
    exactly."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    name = f"events_dedup_stream_{uuid.uuid4().hex[:8]}"
    s1 = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    s2 = sw.stream_events(spark, sf_dir, glob_filter="events.parquet")
    deduped = sw.dedup_events_stream(s1.unionAll(s2)).select(
        "event_id", "event_type", "value"
    )
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        with sw.stream_state_partitions(
            spark, input_path=sf_dir.rstrip("/") + "/events.parquet"
        ):
            sw.run_to_memory(deduped, name, "append", ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return (
        sw.snapshot_and_drop(spark, name)
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
    )


def q_lang_distinct_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language vocabulary cardinality via the deterministic KMV
    sketch (functions/sketches.py) next to the exact count — the
    engine-portable answer to approx_count_distinct, oracle-checked to
    the last bit because both engines replay the same md5 min-k."""
    from genai_batch_processor_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "lang", F.explode(F.split(F.lower("text"), " ")).alias("term")
    ).filter(F.col("term").rlike("^[a-z]+$"))
    est = sketches.kmv_distinct(terms, "lang", "term")
    exact = terms.groupBy("lang").agg(
        F.count_distinct("term").alias("exact_distinct")
    )
    return est.join(exact, "lang")


def q_video_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal frame sampling: each binary payload fans out to 1..4
    frame rows through the Arrow-batched 1→many sampler
    (operators/multimodal.py:sample_video_frames). The stub's md5 chain
    is replayed exactly by the DuckDB oracle, so the fan-out count,
    schema, and per-frame fingerprints are all verified."""
    from genai_batch_processor_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", mm.fake_image_bytes(F.col("text")).alias("data")
    )
    return mm.sample_video_frames(media)


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: corpus docs sharing any 5-gram with
    the 'benchmark' slice (doc_id < 20 stands in for an eval set) are
    flagged with their overlap count. Benchmark shingles broadcast;
    corpus scanned once (operators/dedup.py:contamination_hits)."""
    docs = load_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") < BENCHMARK_MAX_DOC_ID)
    corpus = docs.filter(F.col("doc_id") >= BENCHMARK_MAX_DOC_ID)
    return dedup.contamination_hits(corpus, bench, "doc_id", "text")


DECON_BLOOM_N = 4  # word 4-grams — independent of decontaminate's 5-grams
DECON_BLOOM_MOD = 17  # eval slice: doc_id % 17 == 3, spread across the corpus
DECON_BLOOM_MAX_ID = 2000  # ...and FIXED-SIZE: eval suites don't scale with
#   the corpus, so the slice caps at ~118 docs at every SF (which is also
#   what keeps the Bloom's fill factor — hence selectivity — flat as the
#   corpus side grows 100x)


def q_decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination with a Bloom pre-filter on the corpus side
    (operators/dedup.py:bloom_contamination_hits): the benchmark
    shingle set folds into a packed-long bitmap plan-literal — sized
    adaptively at ~10 bits per benchmark shingle — that drops
    non-matching corpus shingles AT THE SCAN — the scale path for eval
    suites too big to broadcast, where the exact join would otherwise
    shuffle the whole exploded corpus. No false
    negatives, so the residual exact join returns exactly the
    un-prefiltered answer (the oracle is the plain exact join). Eval
    slice is a fixed-size mod-class of doc_id (spread, not
    head-of-file) and 4-grams, both deliberately different from
    `decontaminate`'s head-slice 5-grams."""
    docs = load_table(spark, sf_dir, "documents")
    is_bench = (F.col("doc_id") % DECON_BLOOM_MOD == 3) & (
        F.col("doc_id") < DECON_BLOOM_MAX_ID
    )
    return dedup.bloom_contamination_hits(
        corpus=docs.filter(~is_bench),
        benchmark=docs.filter(is_bench),
        id_col="doc_id",
        text_col="text",
        n=DECON_BLOOM_N,
    )


def q_heavy_hitter_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokens above 2% of the corpus via a Misra-Gries candidate pass
    (functions/sketches.py:heavy_hitters): bounded per-partition
    summaries -> broadcast candidate semi-join -> exact recount, so the
    only full-vocabulary shuffle a naive GROUP BY would pay never
    happens — at 100 TB the shuffle is sized by the candidate set
    (<= MG_K x partitions), not the long tail. The final threshold is
    exact, so the result is partitioning-independent and the oracle is
    the plain GROUP BY ... HAVING."""
    from genai_batch_processor_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(tx.words(F.lower("text"))).alias("token")
    ).filter(F.col("token").rlike("^[a-z]+$"))
    return sketches.heavy_hitters(toks, "token").orderBy("token")


def q_lang_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-LANGUAGE heavy hitters (the per-domain stopword/boilerplate
    detection shape): one Misra-Gries state per (partition, lang)
    (functions/sketches.py:grouped_heavy_hitters), the pigeonhole
    guarantee localized per group, then a broadcast candidate
    semi-join + per-lang exact recount against the lang's own total —
    so neither the per-lang vocabularies nor the long tail ever
    shuffle. Exact per-group threshold ⇒ partitioning-independent;
    oracle = the per-group GROUP BY ... HAVING."""
    from genai_batch_processor_spark.functions import sketches

    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "lang", F.explode(tx.words(F.lower("text"))).alias("token")
    ).filter(F.col("token").rlike("^[a-z]+$"))
    return sketches.grouped_heavy_hitters(toks, "lang", "token").orderBy(
        "lang", "token"
    )


# -- deep relational shapes (TPC-H Q2/Q17/Q21 flavors) -----------------------
#
# The reference has no engine-level joins or subqueries at all (SURVEY.md
# §2.C "Joins — absent"); these queries pin down the decorrelation /
# semi-anti-join surface a relational user of the engine needs, via the
# SQL entry point so Catalyst's RewriteCorrelatedScalarSubquery +
# RewritePredicateSubquery do the planning.


def q_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: for each small part, the supplier(s) selling it at
    the global minimum price. The correlated min subquery decorrelates
    into one aggregate over lineitem joined back on l_partkey — one scan
    of the fact, no per-row re-execution; the p_size filter is pushed
    into the part scan."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "supplier_v"
    )
    return spark.sql(
        """
        SELECT DISTINCT p.p_partkey, s.s_name,
               l.l_extendedprice AS min_price
        FROM part_v p
        JOIN lineitem_v l ON l.l_partkey = p.p_partkey
        JOIN supplier_v s ON s.s_suppkey = l.l_suppkey
        WHERE p.p_size <= 5
          AND l.l_extendedprice = (
            SELECT min(l2.l_extendedprice) FROM lineitem_v l2
            WHERE l2.l_partkey = p.p_partkey)
        """
    )


def q_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17 shape: yearly revenue locked in lines whose quantity is
    below half the part's average. Correlated avg decorrelates into a
    partial-aggregated groupBy(l_partkey) joined back to the fact; the
    threshold runs through an exact decimal sum so it is
    order-independent on both engines."""
    load_table(spark, sf_dir, "part").createOrReplaceTempView("part_v")
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    return spark.sql(
        """
        SELECT CAST(count(*) AS BIGINT) AS n_small_lines,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4)))
                    AS DOUBLE) / 7.0 AS avg_yearly
        FROM lineitem_v l
        JOIN part_v p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#11'
          AND l.l_quantity < (
            SELECT 0.5 * (CAST(sum(CAST(l2.l_quantity AS DECIMAL(18,6)))
                               AS DOUBLE) / count(*))
            FROM lineitem_v l2
            WHERE l2.l_partkey = l.l_partkey)
        """
    )


def q_lone_return_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: per supplier, returned lines in finalized
    multi-supplier orders where no OTHER supplier had a return. The
    EXISTS becomes a left-semi join and the NOT EXISTS a left-anti join
    on l_orderkey — both shuffle-partitioned on the same key as the
    l1⋈orders join, so AQE can reuse the exchange."""
    load_table(spark, sf_dir, "supplier").createOrReplaceTempView(
        "supplier_v"
    )
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders_v")
    return spark.sql(
        """
        SELECT s.s_name, CAST(count(*) AS BIGINT) AS n_lone_returns
        FROM supplier_v s
        JOIN lineitem_v l1 ON l1.l_suppkey = s.s_suppkey
        JOIN orders_v o ON o.o_orderkey = l1.l_orderkey
        WHERE o.o_orderstatus = 'F'
          AND l1.l_returnflag = 'R'
          AND EXISTS (
            SELECT 1 FROM lineitem_v l2
            WHERE l2.l_orderkey = l1.l_orderkey
              AND l2.l_suppkey <> l1.l_suppkey)
          AND NOT EXISTS (
            SELECT 1 FROM lineitem_v l3
            WHERE l3.l_orderkey = l1.l_orderkey
              AND l3.l_suppkey <> l1.l_suppkey
              AND l3.l_returnflag = 'R')
        GROUP BY s.s_name
        """
    )


def q_price_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates (corr / covariance / stddev) computed from
    exact decimal moment sums, then finished in double — the
    order-of-summation nondeterminism of a naive corr() over doubles
    never appears, so the result is bit-stable on any partitioning and
    engine. One scan, partial-aggregable (all five moments are plain
    sums)."""
    load_table(spark, sf_dir, "lineitem").createOrReplaceTempView(
        "lineitem_v"
    )
    return spark.sql(
        """
        WITH m AS (
          SELECT l_returnflag,
                 CAST(count(*) AS DOUBLE) AS n,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4)))
                      AS DOUBLE) AS sx,
                 CAST(sum(CAST(l_discount AS DECIMAL(9,6)))
                      AS DOUBLE) AS sy,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_discount AS DECIMAL(9,6)))
                      AS DOUBLE) AS sxy,
                 CAST(sum(CAST(l_extendedprice AS DECIMAL(18,4))
                          * CAST(l_extendedprice AS DECIMAL(18,4)))
                      AS DOUBLE) AS sxx,
                 CAST(sum(CAST(l_discount AS DECIMAL(9,6))
                          * CAST(l_discount AS DECIMAL(9,6)))
                      AS DOUBLE) AS syy
          FROM lineitem_v
          GROUP BY l_returnflag
        )
        SELECT l_returnflag AS returnflag,
               CAST(n AS BIGINT) AS n_lines,
               (n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))
                 AS corr_price_discount,
               (sxy - sx * sy / n) / (n - 1) AS covar_samp,
               sqrt((n * sxx - sx * sx) / (n * (n - 1))) AS stddev_price
        FROM m
        """
    )


def q_embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid of the embedding column: posexplode to
    (label, dim, val) and average each coordinate. Means go through
    scaled-integer sums (order-independent, engine-exact); the explode
    fans 64× but feeds straight into a partial aggregate, so the shuffle
    carries only label×dim partial sums — at 100 TB this is the same
    map-side-combine shape as a word count, not a 64× shuffle."""
    emb = load_table(spark, sf_dir, "embeddings")
    pe = emb.select(
        "label", F.posexplode("embedding").alias("dim", "val")
    )
    v6 = F.round(F.col("val").cast("double") * 1_000_000, 0).cast("long")
    return (
        pe.select("label", "dim", v6.alias("v6"))
        .groupBy("label", "dim")
        .agg(
            F.count("*").alias("n_vecs"),
            (
                F.sum("v6").cast("double")
                / (F.count("*") * F.lit(1_000_000.0))
            ).alias("avg_val"),
        )
    )


def q_quality_unpivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long reshape (the inverse of source_lang_pivot): per-source
    quality aggregates unpivoted to (source, metric, value) rows via
    stack() — a generate, not a shuffle; the aggregate underneath is the
    only exchange."""
    docs = load_table(spark, sf_dir, "documents")
    tok = tx.token_count("text")
    q6 = F.round(tx.quality_score("text") * 1_000_000, 0).cast("long")
    wide = docs.groupBy("source").agg(
        F.count("*").cast("double").alias("m_docs"),
        (F.sum(tok).cast("double") / F.count("*")).alias("m_tokens"),
        (
            F.sum(q6).cast("double")
            / (F.count("*") * F.lit(1_000_000.0))
        ).alias("m_quality"),
    )
    return wide.select(
        "source",
        F.expr(
            "stack(3, 'n_docs', m_docs, 'avg_tokens', m_tokens,"
            " 'avg_quality', m_quality) AS (metric, value)"
        ),
    )


def q_embedding_topk_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantized-retrieve / exact-rescore ANN: int8 code scoring
    shortlists 2k candidates (4× less memory traffic — the bandwidth
    lever at serving scale), exact cosine rescores only the shortlist
    (operators/similarity.py:topk_int8). Code dots are exact integer
    sums, so shortlist and results replay identically in DuckDB.
    Session-shared with embedding_ann_recall's int8 branch and
    rrf_fusion's quantized branch."""
    return _topk_method_shared(spark, sf_dir, "int8")


def q_embedding_quantization(spark: SparkSession, sf_dir: str) -> DataFrame:
    """int8 quantization audit over the embedding corpus: per-vector
    scale, worst reconstruction error, and saturation count
    (functions/vectors.py:quantize_int8_stats) — the memory-4× lever
    for serving ANN at 100 TB, with order-free stats so both engines
    agree without a summation-order contract."""
    from genai_batch_processor_spark.functions import vectors as V

    emb = load_table(spark, sf_dir, "embeddings")
    q = V.quantize_int8_stats("embedding")
    return emb.select(
        "vec_id",
        q["scale"].alias("scale"),
        q["max_abs_err"].alias("max_abs_err"),
        q["n_saturated"].alias("n_saturated"),
    )


def q_doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking: each document exploded into 64-word
    windows with 16-word overlap (operators/chunking.py) — the 1→many
    step before request building on real corpora. Pure JVM
    sequence+slice fan-out, no shuffle; the final short chunk rule is
    replayed exactly by the DuckDB twin."""
    from genai_batch_processor_spark.operators import chunking

    docs = load_table(spark, sf_dir, "documents")
    return chunking.chunk_documents(docs)


def q_chunk_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing: chunks assigned to 512-word training bins by
    cumulative offset WITHIN each source (per-source windows
    parallelize; a global packing order would serialize at scale).
    Output is the per-bin fill relation — the padding-waste metric a
    training pipeline actually watches."""
    from genai_batch_processor_spark.operators import chunking

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunking.chunk_documents(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    return chunking.pack_chunks(
        chunks, group_col="source", order_cols=["doc_id", "chunk_idx"]
    )


def q_nation_revenue_pareto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pareto/ABC analysis: nations ranked by revenue with each one's
    cumulative share of the total. The windows run over the 25-row
    nation aggregate (facts reduced first); shares divide exact decimal
    sums so the curve is engine-identical."""
    orders = load_table(spark, sf_dir, "orders")
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    per_nation = (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias(
                "rev"
            )
        )
    )
    w_rank = Window.orderBy(F.col("rev").desc(), F.col("n_name").asc())
    w_cum = w_rank.rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    total = Window.partitionBy()
    return per_nation.select(
        "n_name",
        F.row_number().over(w_rank).alias("rank"),
        F.col("rev").cast("double").alias("revenue"),
        (
            F.sum("rev").over(w_cum).cast("double")
            / F.sum("rev").over(total).cast("double")
        ).alias("cum_share"),
    )


def q_events_asof_forward(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of with tolerance (pandas merge_asof surface): each
    click joined to the same user's next purchase within 2 hours —
    still one shuffle + one window (operators/temporal.py:asof_join,
    direction='forward'). Deterministic ties: equal-timestamp purchases
    resolve to the lowest event id, which the window-SQL oracle spells
    out explicitly."""
    from genai_batch_processor_spark.operators import temporal

    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "user_id", F.col("event_id").alias("click_id"), "ts"
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", F.col("event_id").alias("purchase_id"), "ts"
    )
    joined = temporal.asof_join(
        clicks,
        purchases,
        on="user_id",
        right_seq="purchase_id",
        right_cols=["purchase_id"],
        direction="forward",
        tolerance_seconds=7200,
        how="inner",
    )
    return joined.select(
        "user_id",
        "click_id",
        "asof_purchase_id",
        (F.unix_micros("asof_ts") - F.unix_micros("ts")).alias("lag_us"),
    )


def q_top_balance_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """percent_rank over a UNIQUE ordering (balance, custkey — ties
    broken by key, so the rank is deterministic), rolled up to the top
    decile per nation. Completes the ranking-function family next to
    row_number (top_customers_per_nation) and ntile
    (balance_quartiles)."""
    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation")
    w = Window.partitionBy("c_nationkey").orderBy(
        F.col("c_acctbal").asc(), F.col("c_custkey").asc()
    )
    ranked = cust.select(
        "c_nationkey",
        "c_acctbal",
        F.percent_rank().over(w).alias("pr"),
    ).filter(F.col("pr") >= 0.9)
    return (
        ranked.join(F.broadcast(nat), ranked.c_nationkey == nat.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_top_decile"),
            F.min("c_acctbal").alias("decile_floor"),
        )
    )


def q_salted_event_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof aggregation: events has ~5 event_type values over the
    whole table — the textbook hot-key shape. The salted two-phase
    aggregate (operators/skew.py) spreads each type over 16 reducers
    before merging; the oracle is the PLAIN group-by, proving the salt
    is invisible in the result."""
    from genai_batch_processor_spark.operators import skew

    ev = load_table(spark, sf_dir, "events")
    return skew.salted_sum_count(
        ev, ["event_type"], "value", entropy_col="event_id"
    )


def q_salted_nation_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-proof join: customer⋈nation with the small side replicated
    16× and broadcast, the big side salted on c_custkey — each of the 25
    hot n_nationkey values spreads over 16 tasks instead of one. The
    oracle is the plain join + group-by: salting must not change row
    multiplicity."""
    from genai_batch_processor_spark.operators import skew

    cust = load_table(spark, sf_dir, "customer")
    nat = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nationkey"), "n_name"
    )
    joined = skew.salted_join(cust, nat, "c_nationkey", "c_custkey")
    return joined.groupBy("n_name").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
        .cast("double")
        .alias("total_balance"),
    )


def q_nation_trade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral revenue flow between two nations by
    ship year — the six-table join with TWO aliases of the nation dim
    (supplier side and customer side). Both nation filters reach their
    scans; all four dims broadcast; only the fact⋈orders join
    shuffles."""
    for t in ("lineitem", "orders", "customer", "supplier", "nation"):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT n2.n_name AS supp_nation, n1.n_name AS cust_nation,
               year(l.l_shipdate) AS l_year,
               CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                        * (CAST(1 AS DECIMAL(18,4))
                           - CAST(l.l_discount AS DECIMAL(18,4))))
                    AS DOUBLE) AS revenue
        FROM lineitem_v l
        JOIN orders_v o ON l.l_orderkey = o.o_orderkey
        JOIN customer_v c ON o.o_custkey = c.c_custkey
        JOIN nation_v n1 ON c.c_nationkey = n1.n_nationkey
        JOIN supplier_v s ON l.l_suppkey = s.s_suppkey
        JOIN nation_v n2 ON s.s_nationkey = n2.n_nationkey
        WHERE (n2.n_name = 'NATION_1' AND n1.n_name = 'NATION_2')
           OR (n2.n_name = 'NATION_2' AND n1.n_name = 'NATION_1')
        GROUP BY n2.n_name, n1.n_name, year(l.l_shipdate)
        """
    )


def q_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: one nation's share of revenue among EUROPE
    customers by order year — conditional aggregation (decimal-exact
    numerator and denominator in one pass) over the full star join,
    finished with a single double division."""
    for t in (
        "lineitem", "orders", "customer", "supplier", "nation", "region"
    ):
        load_table(spark, sf_dir, t).createOrReplaceTempView(f"{t}_v")
    return spark.sql(
        """
        SELECT year(o.o_orderdate) AS o_year,
               CAST(sum(CASE WHEN n2.n_name = 'NATION_1'
                             THEN CAST(l.l_extendedprice AS DECIMAL(18,4))
                                  * (CAST(1 AS DECIMAL(18,4))
                                     - CAST(l.l_discount AS DECIMAL(18,4)))
                             ELSE CAST(0 AS DECIMAL(19,8)) END)
                    AS DOUBLE)
                 / CAST(sum(CAST(l.l_extendedprice AS DECIMAL(18,4))
                            * (CAST(1 AS DECIMAL(18,4))
                               - CAST(l.l_discount AS DECIMAL(18,4))))
                        AS DOUBLE) AS mkt_share,
               CAST(count(*) AS BIGINT) AS n_lines
        FROM lineitem_v l
        JOIN orders_v o ON l.l_orderkey = o.o_orderkey
        JOIN customer_v c ON o.o_custkey = c.c_custkey
        JOIN nation_v n1 ON c.c_nationkey = n1.n_nationkey
        JOIN region_v r ON n1.n_regionkey = r.r_regionkey
        JOIN supplier_v s ON l.l_suppkey = s.s_suppkey
        JOIN nation_v n2 ON s.s_nationkey = n2.n_nationkey
        WHERE r.r_name = 'EUROPE'
        GROUP BY year(o.o_orderdate)
        """
    )


def q_click_purchase_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STREAM-STREAM interval join: purchases attributed to the same
    user's clicks within 1 hour (streaming/windows.py:
    click_purchase_join) — watermarks on both sides + the event-time
    range condition bound the buffered state on a live run; the
    availableNow drain must emit exactly the batch join, which is what
    the micros-precision oracle checks."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    name = f"click_purchase_stream_{uuid.uuid4().hex[:8]}"
    clicks = sw.stream_events(
        spark, sf_dir, glob_filter="events.parquet"
    ).filter(F.col("event_type") == "click")
    purchases = sw.stream_events(
        spark, sf_dir, glob_filter="events.parquet"
    ).filter(F.col("event_type") == "purchase")
    joined = sw.click_purchase_join(clicks, purchases)
    ckpt = tempfile.mkdtemp(prefix="ckpt_stream_")
    try:
        with sw.stream_state_partitions(
            spark, input_path=sf_dir.rstrip("/") + "/events.parquet"
        ):
            sw.run_to_memory(joined, name, "append", ckpt)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
    return sw.snapshot_and_drop(spark, name)


def q_events_sliding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HOPPING (sliding) windows: 1-hour windows every 30 minutes —
    each event lands in exactly two windows. F.window's slide duration
    is a generate + partial agg, not a self-join; the oracle builds the
    same two window starts per event with time_bucket and a shifted
    union."""
    from genai_batch_processor_spark.streaming import windows as sw

    ev = load_table(spark, sf_dir, "events")
    return sw.sliding_counts(ev)


def q_user_value_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unbounded-frame analytic: each event's share of its user's total
    value. The denominator is a decimal-exact partition sum (no frame →
    one pass, no sort needed beyond the partition shuffle); share is a
    single double division, NULL-safe for zero totals."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id")
    denom = (
        F.sum(F.col("value").cast("decimal(18,6)"))
        .over(w)
        .cast("double")
    )
    return ev.select(
        "event_id",
        "user_id",
        F.try_divide(F.col("value"), denom).alias("value_share"),
    )


def _bigram_pairs(text_col: str):
    """(head, follower) struct array per document. The words array is
    let-bound (functions/exprs.bind): referenced inline, the per-bigram
    lambda would re-split the document once per bigram — the O(words²)
    HOF-lambda hazard."""
    from genai_batch_processor_spark.functions.exprs import bind

    empty = F.array().cast("array<struct<head:string,follower:string>>")
    return bind(
        tx.words(text_col),
        lambda ws: F.when(
            F.size(ws) > 1,
            F.transform(
                F.sequence(F.lit(1), F.size(ws) - 1),
                lambda i: F.struct(
                    F.element_at(ws, i).alias("head"),
                    F.element_at(ws, i + 1).alias("follower"),
                ),
            ),
        ).otherwise(empty),
    )


def q_bigram_followers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional probabilities: for each frequent head word,
    the most likely follower and P(follower | head) — count-based LM
    statistics, exact int/int division so both engines agree to the
    bit. Ties break lexicographically; heads below the frequency floor
    drop (their estimates are noise)."""
    docs = load_table(spark, sf_dir, "documents")
    bg = docs.select(F.explode(_bigram_pairs("text")).alias("p")).select(
        F.col("p.head").alias("head"),
        F.col("p.follower").alias("follower"),
    )
    counts = bg.groupBy("head", "follower").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    w_head = Window.partitionBy("head")
    w_rank = Window.partitionBy("head").orderBy(
        F.col("n_pair").desc(), F.col("follower").asc()
    )
    return (
        counts.withColumn("n_head", F.sum("n_pair").over(w_head))
        .withColumn("__rn", F.row_number().over(w_rank))
        .filter(
            (F.col("__rn") == 1) & (F.col("n_head") >= BIGRAM_MIN_COUNT)
        )
        .select(
            "head",
            "follower",
            F.col("n_pair").cast("long").alias("n_pair"),
            F.col("n_head").cast("long").alias("n_head"),
            (
                F.col("n_pair").cast("double")
                / F.col("n_head").cast("double")
            ).alias("p_follow"),
        )
    )


def q_word_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram (2-gram) language statistics: consecutive word pairs via
    an index-sequence transform (JVM lambda — no explode of a
    quadratic), counted corpus-wide with a frequency floor. The
    n-gram-LM-style companion to term_frequencies; the fan-out feeds a
    partial aggregate so the shuffle carries (bigram, partial-count)
    pairs only."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = F.transform(
        _bigram_pairs("text"),
        lambda p: F.concat_ws(" ", p["head"], p["follower"]),
    )
    return (
        docs.select(F.explode(pairs).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= BIGRAM_MIN_COUNT)
    )


BIGRAM_MIN_COUNT = 20


def q_doc_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LM-based quality scoring — the filter that separates fluent text
    from boilerplate/garbage in training-data curation: per-document
    total bigram log-probability under add-one-smoothed conditional
    stats TRAINED ON THE CORPUS ITSELF (two relational passes: count,
    then score via a join on the bigram key — the same shape at 100 TB,
    with the stats relation far smaller than the corpus fan-out).

    Engine-exactness with floats: each bigram's ln P is rounded to
    integer MILLI-NATS before summation, so the per-doc total is an
    order-free integer sum — no float accumulation order can split the
    engines. Documents with fewer than two words have no bigrams and
    drop out (their LM score is undefined)."""
    docs = _documents_with_ids(spark, sf_dir)
    doc_pairs = docs.select(
        "doc_id", F.explode(_bigram_pairs("text")).alias("p")
    ).select(
        "doc_id",
        F.col("p.head").alias("head"),
        F.col("p.follower").alias("follower"),
    )
    counts = doc_pairs.groupBy("head", "follower").agg(
        F.count(F.lit(1)).alias("n_pair")
    )
    w_head = Window.partitionBy("head")
    stats = counts.withColumn("n_head", F.sum("n_pair").over(w_head))
    # Vocabulary size from the already-aggregated counts relation —
    # counting distinct followers over doc_pairs would re-run the full
    # corpus bigram explode a third time for the identical number
    # (round-3 VERDICT nit; one less corpus-wide fan-out at 100 TB).
    vocab = F.broadcast(
        counts.agg(
            F.count_distinct("follower").cast("long").alias("v")
        )
    )
    stats = stats.crossJoin(vocab)
    logp_milli = F.round(
        F.log(
            (F.col("n_pair") + F.lit(1)).cast("double")
            / (F.col("n_head") + F.col("v")).cast("double")
        )
        * F.lit(1000)
    ).cast("long")
    scored = doc_pairs.join(stats, ["head", "follower"]).select(
        "doc_id", logp_milli.alias("lp")
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_bigrams"),
        F.sum("lp").cast("long").alias("total_logp_milli"),
    )


def q_hourly_value_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window-over-aggregate: hourly totals per event_type with the
    delta vs the previous OBSERVED hour (lag over the tiny hourly
    relation, partitioned by type — no global ordering, no raw-fact
    window)."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v")
    )
    w = Window.partitionBy("event_type").orderBy("w.start")
    return hourly.select(
        F.date_format("w.start", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type",
        F.col("v").cast("double").alias("total_value"),
        (F.col("v") - F.lag("v").over(w)).cast("double").alias("delta"),
    )


def q_distinct_buyers_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional distinct aggregation: per day, distinct purchasing
    users vs distinct active users in one pass (count_distinct expands
    to Spark's two-stage distinct aggregate — keys shuffle, not rows)."""
    ev = load_table(spark, sf_dir, "events")
    buyer = F.when(
        F.col("event_type") == "purchase", F.col("user_id")
    )
    return (
        ev.groupBy(F.to_date("ts").alias("d"))
        .agg(
            F.count_distinct("user_id").alias("active_users"),
            F.count_distinct(buyer).alias("buying_users"),
        )
        .select(
            F.date_format("d", "yyyy-MM-dd").alias("day"),
            "active_users",
            "buying_users",
        )
    )


def q_events_daily_spine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-filled time series: a generated date spine (sequence +
    explode between min and max day — driver never materializes it)
    LEFT-joined to the daily counts, absent days zero-filled. The spine
    generation is one row exploded JVM-side; the join is broadcast
    (a spine is always tiny relative to facts)."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n")
    )
    bounds = ev.agg(
        F.min(F.to_date("ts")).alias("lo"),
        F.max(F.to_date("ts")).alias("hi"),
    )
    spine = bounds.select(
        F.explode(
            F.sequence("lo", "hi", F.expr("INTERVAL 1 DAY"))
        ).alias("d")
    )
    return spine.join(daily, "d", "left").select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        F.coalesce("n", F.lit(0)).cast("long").alias("n_events"),
    )


def q_doc_word_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order array functions JVM-side: filter (long words),
    transform + array_max (longest word length), exists (digit token) —
    the lambda expressions run inside codegen, never in Python; DuckDB's
    list_filter/list_transform twins mirror each."""
    docs = load_table(spark, sf_dir, "documents")
    ws = tx.words("text")
    return docs.select(
        "doc_id",
        F.size(
            F.filter(ws, lambda w: F.length(w) > 6)
        ).alias("n_long_words"),
        F.array_max(
            F.transform(ws, lambda w: F.length(w))
        ).alias("max_word_len"),
        F.exists(ws, lambda w: w.rlike("[0-9]")).alias(
            "has_digit_token"
        ),
    )


def q_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal decode/feature-extract boundary as an oracle-paired
    query: deterministic fake image bytes → Arrow-batched mapInPandas
    pseudo-decode (operators/multimodal.py:decode_image_stub — the
    exact seam where PIL decode+resize would run) → width/height/
    feature vector. The DuckDB twin replays the md5 math, holding the
    Python boundary to bit-level parity; the feature vector crosses the
    compare as scaled integers so float formatting never does."""
    from genai_batch_processor_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", mm.fake_image_bytes(F.col("text")).alias("data")
    )
    feats = mm.decode_image_stub(media)
    f6 = F.transform(
        "feature",
        lambda x: F.round(x.cast("double") * 1_000_000, 0)
        .cast("long")
        .cast("string"),
    )
    return feats.select(
        "doc_id",
        "width",
        "height",
        "n_bytes",
        F.array_join(f6, "-").alias("feature6"),
    )


def q_daily_activity_full_outer(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """FULL OUTER join of two pre-aggregated daily relations (order
    volume vs event volume) — days present in either side survive with
    NULLs on the absent side. Both inputs reduce to a few hundred rows
    before the join, so the full-outer shuffle moves aggregates, never
    facts."""
    orders = load_table(spark, sf_dir, "orders")
    ev = load_table(spark, sf_dir, "events")
    od = orders.groupBy(
        F.to_date("o_orderdate").alias("d")
    ).agg(F.count(F.lit(1)).alias("n_orders"))
    ed = ev.groupBy(F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("n_events")
    )
    joined = od.join(ed, "d", "full_outer")
    return joined.select(
        F.date_format("d", "yyyy-MM-dd").alias("day"),
        "n_orders",
        "n_events",
    )


def q_value_histogram_quantiles(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """MERGEABLE quantiles: fixed-width histogram (0.5-wide buckets) →
    cumulative counts → quantile = lower edge of the first bucket whose
    cumulative count reaches ceil(p·n). Exact percentiles
    (events_value_percentiles) shuffle every value; the histogram is a
    bounded-size partial aggregate that merges associatively — the
    1000-executor path for p99 over 100 TB, with error bounded by the
    bucket width. Integer bucket counts make it engine-exact, unlike
    percentile_approx's implementation-defined sketch."""
    ev = load_table(spark, sf_dir, "events")
    bucket = F.floor(F.col("value") * 2).cast("long")
    hist = ev.groupBy("event_type", bucket.alias("bucket")).agg(
        F.count(F.lit(1)).alias("n")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    c = hist.select(
        "event_type",
        "bucket",
        F.sum("n").over(wcum).alias("cum"),
        F.sum("n").over(wall).alias("total"),
    )

    def est(p: float, name: str):
        hit = F.when(
            F.col("cum") >= F.ceil(F.lit(p) * F.col("total")),
            F.col("bucket"),
        )
        return (F.min(hit).cast("double") / 2.0).alias(name)

    return c.groupBy("event_type").agg(
        est(0.5, "p50_est"),
        est(0.95, "p95_est"),
        est(0.99, "p99_est"),
        F.max("total").cast("long").alias("n"),
    )


def q_events_daily_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical (hypertable-style) rollup: the DAILY aggregate is
    computed FROM the hourly aggregate, not from raw events — sums of
    sums and sums of counts re-aggregate exactly because every measure
    is decomposable and the hourly sums are decimal-exact. At 100 TB
    this is the continuous-aggregate pattern: materialize hours once,
    serve days/months from 24×/720× less data. Oracle = direct daily
    aggregation over raw events, proving the two-level path is
    lossless."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.window("ts", "1 hour").alias("w"), "event_type"
    ).agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("value").cast("decimal(18,6)")).alias("v"),
    )
    return (
        hourly.groupBy(
            F.date_format("w.start", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.sum("n").alias("n"),
            F.sum("v").cast("double").alias("total_value"),
        )
    )


def q_daily_new_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention-style analytics: per day, first-time users and the
    running cumulative total. The running sum windows over the tiny
    per-day aggregate (≤ a few hundred rows), not the event fact —
    the fact is reduced by two partial aggregations (user→first day,
    day→count) before any window runs, so no single-reducer pass ever
    sees raw events."""
    ev = load_table(spark, sf_dir, "events")
    first_seen = ev.groupBy("user_id").agg(
        F.min(F.to_date("ts")).alias("first_day")
    )
    daily = first_seen.groupBy("first_day").agg(
        F.count(F.lit(1)).alias("new_users")
    )
    w = Window.orderBy("first_day").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return daily.select(
        F.date_format("first_day", "yyyy-MM-dd").alias("day"),
        "new_users",
        F.sum("new_users").over(w).alias("cum_users"),
    )


def q_kmeans_cells(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ITERATIVE algorithm: 2 Lloyd iterations of k-means over the
    embedding corpus (operators/clustering.py) — the trainer for the
    IVF cell table that embedding_topk_ivf stubs with literals.
    Assignment is shuffle-free (literal centroids + struct-min argmin);
    each update is one partial-aggregated (cell, dim) shuffle; driver
    state is bounded at k×dim doubles. The DuckDB twin replays both
    iterations exactly (scaled-integer centroid means), so the final
    centroid table is engine-identical to the last bit."""
    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    return clustering.kmeans_cells(emb)


def q_kmeans_assign_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-gated agreement audit of the Arrow batch argmin
    (clustering.assign_cells_arrow — the large-k scale path the
    adaptive-k gate auto-selects) against the oracle-exact literal
    argmin: both assign the full embedding corpus against the SAME
    shared trained centroids, and the result is one row of
    (n_vecs, n_agree, agree_ppm).

    The DuckDB twin asserts TOTAL agreement (agree_ppm == 1e6): numpy
    pairwise summation vs the positional fold differ only in the last
    ulp, which can flip an argmin only for scores within an ulp of
    each other — identical vectors (the one systematic tie source)
    never produce that across DIFFERENT cells, so any disagreement is
    a real defect in the scale path. This is the same pairing style as
    embedding_ann_recall (oracle pins the exact expected quality of an
    approximate path), promoted from a property test so the driver's
    own gate covers the Arrow twin (round-5 verdict item 4).

    Scale: two shuffle-free assignment scans + one vec_id join; the
    aggregate is a single row."""
    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids_shared(spark, sf_dir, k=_KMEANS_K)
    lit = clustering.assign_cells(emb, cents).select(
        "vec_id", F.col("cell").alias("cell_lit")
    )
    arr = clustering.assign_cells_arrow(emb, cents).select(
        "vec_id", F.col("cell").alias("cell_arrow")
    )
    return (
        lit.join(arr, "vec_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_vecs"),
            F.sum(
                F.when(
                    F.col("cell_lit") == F.col("cell_arrow"), 1
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_agree"),
        )
        .select(
            "n_vecs",
            "n_agree",
            F.expr("n_agree * 1000000 div n_vecs")
            .cast("long")
            .alias("agree_ppm"),
        )
    )


def q_prompt_dedup_requests(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Prompt-level exact dedup of the submit set (operators/batching.py):
    one representative per distinct prompt, with multiplicity. The cost
    lever the reference leaves on the table — it submits every row
    (oai:138-145) even when prompts repeat; here duplicates never cross
    the paid provider boundary."""
    docs = _documents_with_ids(spark, sf_dir)
    docs = docs.withColumn(
        "prompt", requests.classification_prompt("text", LABELS)
    )
    groups = batching.prompt_groups(docs, "prompt", "idx")
    return groups.select("rep_idx", "n_rows", "prompt")


def q_prompt_dedup_fanout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full dedup sandwich around the provider boundary: distinct
    prompts → mock inference on representatives ONLY → responses fanned
    back to every original row. Fanned rows inherit the representative's
    custom_id and error state — the true semantics of submitting one
    request per distinct prompt."""
    docs = _documents_with_ids(spark, sf_dir)
    docs = docs.withColumn(
        "prompt", requests.classification_prompt("text", LABELS)
    )
    groups = batching.prompt_groups(docs, "prompt", "idx")
    reps = batching.representatives(docs, "prompt", "idx")
    resp = reps.select(
        F.col("idx").alias("rep_idx"),
        mock.mock_response_columns(
            ids.custom_id("idx"), F.col("prompt")
        ).alias("resp"),
    ).select(
        "rep_idx",
        F.col("resp.custom_id").alias("rep_custom_id"),
        F.when(F.col("resp.error").isNotNull(), F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.get_json_object(
            F.element_at(F.col("resp.response.body.choices"), 1)[
                "message"
            ]["content"],
            "$.answer",
        ).alias("answer"),
    )
    mapping = docs.select("doc_id", "idx", "prompt").join(
        groups.select("prompt", "rep_idx"), "prompt"
    )
    fanned = batching.fan_out_responses(
        resp, mapping, rep_col="rep_idx", id_col="idx"
    )
    return fanned.select("doc_id", "rep_custom_id", "status", "answer")


def q_batch_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Provider-cap shard planning (operators/batching.py): every row
    assigned a JSONL shard honoring BOTH the line cap and the byte cap
    via a bucket-parallel exclusive prefix sum — the missing step
    between the reference's single-file upload (oai:127-161) and the
    public 50k-request / 200 MB batch limits. Caps here are shrunk so
    both constraints bind at fixture scale."""
    docs = _documents_with_ids(spark, sf_dir)
    sized = docs.withColumn("n_bytes", F.octet_length("text").cast("long"))
    planned = batching.plan_shards(
        sized,
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=40,
        max_bytes=16_384,
    )
    return planned.select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        "n_bytes",
        "byte_shard",
        "line_shard",
        "shard_key",
    )


def q_audio_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal audio windowing: each binary clip fans out to 1..6
    analysis-window rows through the Arrow-batched 1→many stub
    (operators/multimodal.py:window_audio_stub); md5 chain replayed
    exactly by the oracle, so fan-out count, fingerprints, and the
    integer pseudo-levels are all verified."""
    from genai_batch_processor_spark.operators import multimodal as mm

    docs = load_table(spark, sf_dir, "documents")
    media = docs.select(
        "doc_id", mm.fake_image_bytes(F.col("text")).alias("data")
    )
    return mm.window_audio_stub(media)


def _snapshot_v2(docs: DataFrame) -> DataFrame:
    """Deterministic v2 mutation shared by snapshot_changes /
    incremental_inference (both oracles replay the same hash-rate
    coordinates): 5% deleted, 10% text-edited, 3% re-keyed additions."""
    deleted = sampling.hash_coord("doc_id", "snap-del") < int(
        0.05 * sampling.COORD_MOD
    )
    edited = sampling.hash_coord("doc_id", "snap-mod") < int(
        0.10 * sampling.COORD_MOD
    )
    v2 = docs.filter(~deleted).withColumn(
        "text",
        F.when(edited, F.concat(F.col("text"), F.lit(" [v2]"))).otherwise(
            F.col("text")
        ),
    )
    added = docs.filter(
        sampling.hash_coord("doc_id", "snap-add")
        < int(0.03 * sampling.COORD_MOD)
    ).withColumn("doc_id", F.col("doc_id") + F.lit(10_000_000))
    return v2.unionByName(added)


def q_snapshot_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot diff (operators/snapshot.py): documents vs a
    deterministically mutated v2 (5% deleted, 10% text-edited, 3%
    re-keyed additions — all hash-rate derived, so the oracle replays
    the mutation). Returns every non-unchanged key with its change
    class — the relation an incremental pipeline feeds back through the
    submit path."""
    from genai_batch_processor_spark.operators import snapshot

    docs = load_table(spark, sf_dir, "documents")
    v2 = _snapshot_v2(docs)
    diff = snapshot.snapshot_diff(
        docs, v2, ["doc_id"], ["text", "lang", "source"]
    )
    return diff.filter(F.col("change") != snapshot.UNCHANGED)


def q_incremental_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flagship incremental pipeline: only rows the snapshot diff marks
    added/changed cross the paid inference boundary; unchanged rows
    keep their v1 answers and deleted keys drop out — the 100 TB refresh
    pattern (re-answering ~13%% of the corpus, not all of it).

    Composition: snapshot.incremental_rows (diff + semi join) → request
    prompt → mock inference → union with the carried-forward v1 result
    relation. ``recomputed`` records which boundary each row's answer
    came from. custom_ids derive from the natural key
    (ids.custom_id_from_key — zero-shuffle), so a key's error fate is
    stable across snapshot versions."""
    from genai_batch_processor_spark.operators import snapshot

    docs = load_table(spark, sf_dir, "documents")
    v2 = _snapshot_v2(docs)

    def answered(df: DataFrame, recomputed: bool) -> DataFrame:
        prompt = requests.classification_prompt("text", LABELS)
        cid = ids.custom_id_from_key("doc_id")
        err = mock.is_error_expr(cid)
        return df.select(
            "doc_id",
            F.when(err, F.lit("error")).otherwise(F.lit("ok")).alias(
                "status"
            ),
            F.when(~err, mock.label_expr(prompt)).alias("answer"),
            F.lit(recomputed).alias("recomputed"),
        )

    todo = snapshot.incremental_rows(
        docs, v2, ["doc_id"], ["text", "lang", "source"]
    )
    fresh = answered(todo, recomputed=True)
    # carried-forward v1 results: v2 keys NOT being recomputed
    carried = answered(
        v2.join(todo.select("doc_id"), "doc_id", "left_anti"),
        recomputed=False,
    )
    return fresh.unionByName(carried)


def q_retry_responses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Failed-row resubmission: attempt-1 errors are re-submitted once
    under an attempt-salted custom_id (functions/ids.py:
    retry_custom_id) — the reference surfaces its error relation and
    stops (oai:244-258); a production pipeline feeds it back. Output
    pins each row's attempt count and final status; rows whose salted
    retry id ALSO errors stay failed (deterministic mock fate)."""
    docs = _documents_with_ids(spark, sf_dir)
    prompt = requests.classification_prompt("text", LABELS)
    docs = docs.withColumn("prompt", prompt)

    cid1 = ids.retry_custom_id("idx", 1)
    err1 = mock.is_error_expr(cid1)
    cid2 = ids.retry_custom_id("idx", 2)
    err2 = mock.is_error_expr(cid2)

    first = docs.withColumn("err1", err1)
    ok_first = first.filter(~F.col("err1")).select(
        "doc_id",
        F.lit(1).alias("attempts"),
        F.lit("ok").alias("status"),
        mock.label_expr(F.col("prompt")).alias("answer"),
    )
    retried = first.filter(F.col("err1")).withColumn("err2", err2)
    second = retried.select(
        "doc_id",
        F.lit(2).alias("attempts"),
        F.when(F.col("err2"), F.lit("error"))
        .otherwise(F.lit("ok"))
        .alias("status"),
        F.when(~F.col("err2"), mock.label_expr(F.col("prompt"))).alias(
            "answer"
        ),
    )
    return ok_first.unionByName(second)


# Training-mixture config shared by the curriculum/mixture queries and
# their oracles: upweight three sources, downweight one, rest default.
MIX_WEIGHTS = {"src0": 4.0, "src7": 2.0, "src13": 2.0, "src3": 0.25}
# Small enough that some sources' rates BIND (rate < 1) at sf0.01 while
# others cap at 1 — both branches of the planner exercised.
MIX_TOKEN_BUDGET = 500


def q_curriculum_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weight-proportional curriculum interleave: virtual consumption
    time = hash × 1/weight, a pure row-local integer (zero shuffle —
    operators/sampling.py:curriculum_time). The head of the vt order
    shows upweighted sources overrepresented exactly as the weights
    dictate; TakeOrdered bounds the head selection (no global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    vt = sampling.curriculum_time("doc_id", "source", MIX_WEIGHTS)
    head = (
        docs.select("doc_id", "source", vt.alias("vt"))
        .orderBy("vt", "doc_id")
        .limit(200)
    )
    return head.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_head")
    )


def q_mixture_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture planning (operators/sampling.py:
    mixture_plan): per-source available tokens vs the budget×weight
    target, resolved to an integer sampling rate. The plan is the tiny
    relation a 100 TB run broadcasts back onto the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.withColumn("n_tokens", tx.token_count("text"))
    return sampling.mixture_plan(
        sized, "doc_id", "source", "n_tokens", MIX_WEIGHTS, MIX_TOKEN_BUDGET
    )


def q_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The applied mixture: plan broadcast onto the corpus, hash-rate
    filter per source, per-source kept rows + kept tokens. End-to-end
    derivation stays integer, so the oracle pins the sampled corpus
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.withColumn("n_tokens", tx.token_count("text"))
    plan = sampling.mixture_plan(
        sized, "doc_id", "source", "n_tokens", MIX_WEIGHTS, MIX_TOKEN_BUDGET
    )
    kept = sampling.apply_mixture(sized, plan, "doc_id", "source")
    return kept.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_kept"),
        F.sum("n_tokens").cast("long").alias("kept_tokens"),
    )


BPE_MIX_TOKEN_BUDGET = 1200  # separate budget for the subword-priced
                             # plan: BPE fertility > 1 inflates
                             # available_tokens vs the word-count plan


def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-EXACT accounting via the vendored byte-level BPE
    (functions/bpe.py, r10 verdict item 3): per-document subword token
    count (Arrow-batched pandas_udf, per-executor pre-token memo), the
    regex word count it replaces, and their ratio in integer milli —
    the real fertility a 100 TB mixture must price, per doc. Oracle:
    the committed recorded-count relation produced by an INDEPENDENT
    encoder implementation (tools/gen_bpe_fixtures.py, Sennrich
    formulation vs the engine's priority formulation) joined on
    md5(text) — two algorithms agreeing, not one checking itself."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        bpefn.token_count_bpe("text").alias("n_bpe_tokens"),
        tx.token_count("text").cast("long").alias("n_words"),
    ).withColumn(
        "fertility_milli",
        F.expr("n_bpe_tokens * 1000 div nullif(n_words, 0)").cast("long"),
    )


def q_bpe_compression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer compression rate per language — the standard
    tokenizer-quality metric (bytes per BPE token; a tokenizer that
    compresses one language worse makes its documents pay more context
    window per byte of content). Pure aggregate over octet_length (JVM)
    and the Arrow-batched BPE count; integer milli ratio so no float
    crosses the oracle boundary. Oracle replays the recorded
    independent-encoder relation."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang",
        F.octet_length("text").cast("long").alias("n_bytes"),
        bpefn.token_count_bpe("text").alias("n_tok"),
    )
    return (
        sized.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("n_bytes").cast("long").alias("total_bytes"),
            F.sum("n_tok").cast("long").alias("total_bpe_tokens"),
        )
        .withColumn(
            "bytes_per_token_milli",
            F.expr("total_bytes * 1000 div total_bpe_tokens").cast(
                "long"
            ),
        )
    )


def q_bpe_token_counts_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming twin of the per-lang BPE token accounting: documents
    arrive as a file STREAM (1 file per trigger → multiple
    micro-batches), the Arrow-batched token_count_bpe runs inside each
    micro-batch, and a complete-mode streaming aggregation maintains
    per-lang running totals — live token accounting over an ingest
    stream (what a 100 TB pipeline's intake dashboard actually
    watches). Drained availableNow into the memory sink; the final
    snapshot must equal the batch answer exactly (same
    recorded-relation oracle as the batch BPE family)."""
    import shutil
    import tempfile
    import uuid

    from genai_batch_processor_spark.streaming import windows as sw

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "text"
    )
    name = f"bpe_counts_stream_{uuid.uuid4().hex[:8]}"
    shards = tempfile.mkdtemp(prefix="bpe_stream_shards_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_bpe_stream_")
    try:
        docs.repartition(4).write.mode("overwrite").parquet(shards)
        stream = (
            spark.readStream.schema("doc_id long, lang string, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        agg = (
            stream.select(
                "lang", bpefn.token_count_bpe("text").alias("n_tok")
            )
            .groupBy("lang")
            .agg(
                F.count(F.lit(1)).cast("long").alias("n_docs"),
                F.sum("n_tok").cast("long").alias("total_bpe_tokens"),
            )
        )
        with sw.stream_state_partitions(spark, input_path=shards):
            sw.run_to_memory(agg, name, "complete", ckpt)
        # Materialize the (|langs|-row) snapshot and DROP the memory-
        # sink view (r12 ADVICE): each invocation registered a fresh
        # uuid-named table, so a long bench sweep accumulated unbounded
        # temp views in the shared session.
        return sw.snapshot_and_drop(spark, name)
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(shards, ignore_errors=True)


# Fixture-scale caps for the token-budgeted shard plan: chosen so all
# THREE constraints produce boundaries on the documents table (mean doc
# ≈ 298 bytes / 156 BPE tokens → byte boundaries every ~53 rows, token
# boundaries every ~36, line cap splits runs over 30).
SHARD_TOK_MAX_LINES = 30
SHARD_TOK_MAX_BYTES = 16_384
SHARD_TOK_MAX_TOKENS = 6_000


def q_batch_shards_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted shard planning (r12 verdict item 2): the OpenAI
    batch queue is capped in enqueued prompt TOKENS per model on top of
    the 50k-line / 200 MB file caps (oai:127-161 uploads one file with
    no cap awareness at all), so plan_shards takes a third, token-
    denominated budget keyed on the Arrow-batched token_count_bpe —
    same bucket-parallel exclusive-prefix-sum shape, both prefix sums
    in ONE pass. Every shard is ≤ max_bytes AND ≤ max_tokens AND ≤
    max_lines, strictly. Oracle replays the recorded independent-
    encoder token relation and the same prefix-floor arithmetic."""
    docs = _documents_with_ids(spark, sf_dir)
    sized = docs.withColumn(
        "n_bytes", F.octet_length("text").cast("long")
    ).withColumn("n_tokens", bpefn.token_count_bpe("text"))
    planned = batching.plan_shards(
        sized,
        id_col="idx",
        bytes_col="n_bytes",
        max_lines=SHARD_TOK_MAX_LINES,
        max_bytes=SHARD_TOK_MAX_BYTES,
        tokens_col="n_tokens",
        max_tokens=SHARD_TOK_MAX_TOKENS,
    )
    return planned.select(
        "doc_id",
        F.col("idx").cast("long").alias("idx"),
        "n_bytes",
        "n_tokens",
        "byte_shard",
        "token_shard",
        "line_shard",
        "shard_key",
    )


_V2_MERGES: list | None = None


def _v2_merges() -> list:
    """The committed v2 tokenizer, loaded ONCE per driver process
    through the verifying governed loader (format version + content
    fingerprint + live encode canary — functions/bpe.py)."""
    global _V2_MERGES
    if _V2_MERGES is None:
        _V2_MERGES = bpefn.load_merges(bpefn.V2_MERGES_PATH)
    return _V2_MERGES


def q_bpe_loaded_tokenizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full governed-tokenizer loop inside the gate (r12 verdict
    item 1): the 384-merge v2 vocabulary — trained BY
    train_merges_distributed on the multi-table fixture corpus,
    persisted via governed save_merges — is LOADED through the
    verifying loader (format version + content fingerprint + live
    encode canary) and encodes every document AND its classification
    prompt, next to the committed 32-merge table. Document words are
    Zipf-frequent in the v2 training corpus (single tokens — the milli
    ratio shows the vocabulary-size effect vs v1), while the prompt
    TEMPLATE words are outside it (deep subword splits) — both paths
    of a real tokenizer. Oracle replays the recorded independent-
    encoder relations for both tables, so a green row proves
    train → persist → load → encode → oracle end to end."""
    docs = load_table(spark, sf_dir, "documents")
    v2 = _v2_merges()
    return docs.select(
        "doc_id",
        "lang",
        bpefn.token_count_bpe("text", merges=v2).alias("n_tokens_v2"),
        bpefn.token_count_bpe(
            requests.classification_prompt("text", LABELS), merges=v2
        ).alias("n_prompt_tokens_v2"),
        bpefn.token_count_bpe("text").alias("n_tokens_v1"),
    ).withColumn(
        "v2_vs_v1_milli",
        F.expr("n_tokens_v2 * 1000 div nullif(n_tokens_v1, 0)").cast(
            "long"
        ),
    )


def q_mixture_plan_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """mixture_plan re-keyed on REAL subword tokens (r10 verdict item
    3): identical integer plan derivation, but available/target/rate
    are priced in BPE tokens instead of regex words — the unit training
    budgets and context windows are actually denominated in. Same tiny
    |strata|-row output a planner broadcasts onto the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.withColumn("n_tokens", bpefn.token_count_bpe("text"))
    return sampling.mixture_plan(
        sized,
        "doc_id",
        "source",
        "n_tokens",
        MIX_WEIGHTS,
        BPE_MIX_TOKEN_BUDGET,
    )



def _length_buckets_of(sized) -> DataFrame:
    """Shared percentile-bucket/padding pipeline for the word-count and
    BPE length_buckets twins (r11 review: the 30-line body must live
    once — a threshold or padding fix that misses one twin breaks its
    oracle parity). ``sized`` is a single-column ("t") token-count
    relation; engine-exact thresholds via F.percentile (== DuckDB
    quantile_cont), integer padding arithmetic, broadcast 1-row
    threshold aggregate."""
    thresholds = F.broadcast(
        sized.agg(
            F.percentile("t", 0.25).alias("q1"),
            F.percentile("t", 0.50).alias("q2"),
            F.percentile("t", 0.75).alias("q3"),
        )
    )
    bucketed = sized.crossJoin(thresholds).select(
        "t",
        F.when(F.col("t") <= F.col("q1"), 0)
        .when(F.col("t") <= F.col("q2"), 1)
        .when(F.col("t") <= F.col("q3"), 2)
        .otherwise(3)
        .cast("int")
        .alias("bucket"),
    )
    return (
        bucketed.groupBy("bucket")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.max("t").cast("long").alias("max_tokens"),
            F.sum("t").cast("long").alias("sum_tokens"),
        )
        .select(
            "bucket",
            "n_docs",
            "max_tokens",
            (F.col("max_tokens") * F.col("n_docs") - F.col("sum_tokens"))
            .cast("long")
            .alias("padding_tokens"),
        )
    )


def q_length_buckets_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """length_buckets re-keyed on REAL subword tokens (r11, extends
    the r10-verdict BPE family): padding waste is paid in the tokens
    the accelerator actually pads, and word-count buckets mis-bucket
    exactly the high-fertility documents whose padding dominates. Same
    engine-exact shape as length_buckets (exact percentile thresholds,
    broadcast 1-row aggregate, integer padding arithmetic); the BPE
    column is the Arrow-batched count, oracle replayed from the
    recorded independent-encoder relation."""
    docs = load_table(spark, sf_dir, "documents")
    return _length_buckets_of(
        docs.select(bpefn.token_count_bpe("text").alias("t"))
    )


def q_chunk_packing_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """chunk_packing re-keyed on REAL subword tokens (r11 verdict item
    1 — completes the BPE family): context windows are denominated in
    BPE tokens, and a 512-WORD bin overflows a fixed-token window on
    exactly the high-fertility documents bpe_token_counts quantifies.
    Same offset-packing shape as chunk_packing (cumulative window
    within source, integer bin arithmetic), sized by the Arrow-batched
    token_count_bpe over each chunk text against the PACK_BUDGET_BPE
    token budget. Oracle: chunk texts from the operator-owned SQL twin
    joined to the recorded independent-encoder relation on
    md5(chunk_text) — loud error if the relation is stale."""
    from genai_batch_processor_spark.operators import chunking

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunking.chunk_documents(docs).join(
        docs.select("doc_id", "source"), "doc_id"
    )
    sized = chunks.withColumn(
        "n_bpe_tokens", bpefn.token_count_bpe("chunk_text")
    )
    return chunking.pack_chunks(
        sized,
        group_col="source",
        order_cols=["doc_id", "chunk_idx"],
        budget_words=chunking.PACK_BUDGET_BPE,
        n_words_col="n_bpe_tokens",
        packed_col="packed_tokens",
    )


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Passage-level containment dedup via winnowing fingerprints
    (operators/dedup.py:winnow_pairs): documents sharing ≥2 winnowed
    k-gram minima are candidate copy pairs even when whole-doc
    similarity is low — the case MinHash-LSH structurally misses."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_pairs(docs, "doc_id", "text")


def q_chunk_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Map-reduce inference over long documents: chunk → per-chunk
    request/answer → majority vote per document (ties broken by label
    order). The standard pattern when a document exceeds the context
    window — the reference can only submit whole items
    (oai:127-145); here the 1→many chunk stage and the many→1 vote are
    both relational. Chunks whose custom_id draws the deterministic
    error fate abstain; a document keeps (n_chunks, n_voted) so
    coverage loss is visible."""
    from genai_batch_processor_spark.operators import chunking

    docs = load_table(spark, sf_dir, "documents")
    chunks = chunking.chunk_documents(docs)
    cid = F.format_string("chunk-%d-%d", "doc_id", "chunk_idx")
    prompt = requests.classification_prompt("chunk_text", LABELS)
    answered = chunks.select(
        "doc_id",
        mock.is_error_expr(cid).alias("err"),
        mock.label_expr(prompt).alias("answer"),
    )
    totals = answered.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_chunks"),
        F.sum(F.when(~F.col("err"), 1).otherwise(0))
        .cast("long")
        .alias("n_voted"),
    )
    votes = (
        answered.filter(~F.col("err"))
        .groupBy("doc_id", "answer")
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("n").desc(), F.col("answer").asc()
    )
    winner = (
        votes.withColumn("__rk", F.row_number().over(w))
        .filter(F.col("__rk") == 1)
        .select("doc_id", "answer")
    )
    return totals.join(winner, "doc_id", "left")


# Public per-1k-token prices in micro-USD (illustrative constants; the
# point is the integer cost arithmetic and the broadcast dim join).
MODEL_PRICES = (
    ("gpt-4o-mini", 150, 600),
    ("gpt-4o", 2500, 10000),
    ("o3-mini", 1100, 4400),
)


def q_request_cost_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-submit cost accounting: per-model request counts, prompt
    tokens, and estimated input cost. Token counts via the JVM-side
    tokenizer (functions/text.py); the price dim is a 3-row broadcast
    join; cost stays in integer nano-USD (tokens × micro-USD-per-1k) so
    no float crosses the oracle boundary."""
    docs = _documents_with_ids(spark, sf_dir)
    prices = spark.createDataFrame(
        list(MODEL_PRICES), "model string, in_per_1k long, out_per_1k long"
    )
    model_idx = hashing.portable_hash32(F.col("doc_id").cast("string")) % 3
    mapping = F.array(*[F.lit(m) for m, _, _ in MODEL_PRICES])
    routed = docs.select(
        F.element_at(mapping, model_idx.cast("int") + 1).alias("model"),
        tx.token_count(
            requests.classification_prompt("text", LABELS)
        ).alias("n_tokens"),
    )
    return (
        routed.join(F.broadcast(prices), "model")
        .groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_requests"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("n_tokens") * F.col("in_per_1k"))
            .cast("long")
            .alias("input_cost_nano_usd"),
        )
    )


def q_request_cost_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """request_cost_estimate re-keyed on REAL subword tokens (r11
    verdict item 1): provider billing is denominated in BPE tokens, and
    word-count pricing under-bills exactly the high-fertility prompts.
    Identical routing (portable doc_id hash → 3-row broadcast price
    dim) and integer nano-USD arithmetic; the token column is the
    Arrow-batched token_count_bpe over the full prompt text. Oracle:
    prompt texts rebuilt from the shared CLASSIFY_TEMPLATE constant,
    joined to the recorded independent-encoder relation on
    md5(prompt)."""
    docs = _documents_with_ids(spark, sf_dir)
    prices = spark.createDataFrame(
        list(MODEL_PRICES), "model string, in_per_1k long, out_per_1k long"
    )
    model_idx = hashing.portable_hash32(F.col("doc_id").cast("string")) % 3
    mapping = F.array(*[F.lit(m) for m, _, _ in MODEL_PRICES])
    routed = docs.select(
        F.element_at(mapping, model_idx.cast("int") + 1).alias("model"),
        bpefn.token_count_bpe(
            requests.classification_prompt("text", LABELS)
        ).alias("n_tokens"),
    )
    return (
        routed.join(F.broadcast(prices), "model")
        .groupBy("model")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_requests"),
            F.sum("n_tokens").cast("long").alias("total_tokens"),
            F.sum(F.col("n_tokens") * F.col("in_per_1k"))
            .cast("long")
            .alias("input_cost_nano_usd"),
        )
    )


def q_training_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training shuffle (operators/batching.py):
    (shard, pos) from a portable hash of (seed, key) — reproducible
    pseudo-random consumption order with no global sort."""
    docs = load_table(spark, sf_dir, "documents")
    ordered = batching.training_order(
        docs, "doc_id", seed="epoch-0", n_shards=8
    )
    return ordered.select("doc_id", "shard", "pos")


def q_bm25_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 relevance scoring — the retrieval primitive behind
    query-targeted corpus curation (pull the documents most relevant
    to a benchmark topic, rank candidates for decontamination review).

    Query terms are corpus-derived and deterministic: the 5 highest
    document-frequency terms of length ≥ 4 (ties by term). Corpus
    stats (N, total doc length) ride a broadcast 1-row aggregate; the
    per-(doc, term) score is rounded to integer MILLI units before the
    per-document sum, so the total is an order-free integer — no float
    accumulation order can split the engines (same contract as
    doc_logprob). k1=1.2, b=0.75, idf = ln((N-df+0.5)/(df+0.5) + 1).

    Scale: the only corpus-wide shuffles are the tf/df hash aggregates
    (map-side partials); the query-term set (5 rows) and the stats row
    are broadcast, and doc length rides the explode so no join back to
    the corpus is needed."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id",
        tx.word_count("text").alias("dl"),
        F.explode(tx.words(F.lower("text"))).alias("term"),
    ).filter(F.col("term").rlike("^[a-z]+$"))
    # dl is functionally dependent on doc_id: grouping by it adds no
    # cardinality and saves a join back to the corpus for doc length.
    tf = terms.groupBy("doc_id", "dl", "term").agg(
        F.count(F.lit(1)).alias("tf")
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("df"))
    qterms = F.broadcast(
        dfreq.filter(F.length("term") >= 4)
        .orderBy(F.col("df").desc(), F.col("term").asc())
        .limit(5)
    )
    stats = F.broadcast(
        docs.agg(
            F.count(F.lit(1)).cast("long").alias("nd"),
            F.sum(tx.word_count("text")).cast("long").alias("total_dl"),
        )
    )
    k1, b = 1.2, 0.75
    idf = F.log(
        (F.col("nd") - F.col("df") + 0.5) / (F.col("df") + 0.5) + 1.0
    )
    norm = F.col("tf") + k1 * (
        1.0 - b + b * F.col("dl") * F.col("nd") / F.col("total_dl")
    )
    score_milli = F.round(
        idf * F.col("tf") * (k1 + 1.0) / norm * 1000
    ).cast("long")
    scored = (
        tf.join(qterms, "term")
        .crossJoin(stats)
        .select("doc_id", score_milli.alias("s"))
    )
    return scored.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum("s").cast("long").alias("bm25_milli"),
    )


def q_part_match_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog: blocking on
    (brand, head noun of the name), in-block Levenshtein ≤ 2
    (operators/linkage.py — blocked candidate generation with the same
    oversized-block drop contract as the LSH bucket caps). Serves the
    session-shared persisted single-key stage the recall audit also
    consumes (see _part_pairs_shared)."""
    return _part_pairs_shared(spark, sf_dir, "single")


# Length-band pass pair for multi-pass part linkage: width 2d, offset d
# (d = Levenshtein cap 2). Recall-exact vs the coarse (brand, noun)
# block: distance <= 2 forces |len(a)-len(b)| <= 2, and cut points from
# the two shifted partitions are never closer than 2 apart, so at most
# one can land strictly between the pair's lengths (multi_pass_pairs
# docstring carries the proof).
_PART_BAND_W = 4
_PART_BAND_SHIFT = 2


def _parts_with_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_brand",
        F.element_at(F.split("p_name", " "), -1).alias("noun"),
        (F.length("p_name") / _PART_BAND_W).cast("int").alias("band_a"),
        ((F.length("p_name") + _PART_BAND_SHIFT) / _PART_BAND_W)
        .cast("int")
        .alias("band_b"),
    )


def _part_pairs_shared(
    spark: SparkSession, sf_dir: str, which: str
) -> DataFrame:
    """Shared persisted blocking stages (round-7 verdict item 5): the
    recall audit re-consumes BOTH candidate relations that
    part_match_candidates / part_match_multikey already compute — and
    references each more than once internally (count + common join).
    Without the persist the audit re-ran both candidate generations
    from scratch (70 exchanges in BENCH_PLANS); with it, each blocking
    pass materializes once per (session, sf_dir), the same contract as
    the MinHash pair stage."""
    from genai_batch_processor_spark.operators import linkage

    def build() -> DataFrame:
        parts = _parts_with_bands(spark, sf_dir)
        if which == "single":
            df = linkage.blocked_pairs(
                parts, "p_partkey", "p_name", ["p_brand", "noun"]
            )
        else:
            df = linkage.multi_pass_pairs(
                parts,
                "p_partkey",
                "p_name",
                ["p_brand", "noun"],
                [["band_a"], ["band_b"]],
            )
        return df.persist()

    return _shared(spark, sf_dir, "part_pairs", which, build=build)


def q_part_match_multikey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-out blocking for part linkage (round-6 verdict item 4):
    the single (brand, noun) key space is FIXED (~400 blocks), so at
    10x catalog rows candidate volume grows ~100x — quadratic by
    design. This query runs standard MULTI-PASS blocking
    (operators/linkage.py:multi_pass_pairs): two passes over finer
    (brand, noun, length-band) keys whose POPULATED key space grows
    with the catalog, unioned. The band pair (width 4, offset 2) makes
    the union recall-exact for the Levenshtein<=2 scorer — no pair the
    coarse block admits is lost, measured (not assumed) by
    part_match_blocking_recall. Same oversized-block drop contract,
    one shared adaptive cap, oracle mirrored data-dependently."""
    return _part_pairs_shared(spark, sf_dir, "multi")


def q_part_match_blocking_recall(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The multi-pass blocking's recall audit vs the single-key pass
    (the contract the round-6 verdict requires MEASURED, not assumed):
    n_single / n_multi / n_common pair counts plus recall_milli =
    n_common/n_single and the count of pairs ONLY multi-pass finds
    (pairs living in coarse blocks the oversized-block drop removed,
    whose finer band-blocks fit under the cap). By the band-pair
    construction recall_milli must be 1000 at every scale — the audit
    exists so a future blocking edit that silently breaks the
    guarantee fails the parity gate, not a production run.

    Both candidate relations come from the session-shared persisted
    blocking stages (round-7 verdict item 5): the audit used to re-run
    both generations from scratch — 70 exchanges — although
    part_match_candidates / part_match_multikey had already computed
    them, and it references each relation twice more internally."""
    single = _part_pairs_shared(spark, sf_dir, "single").select(
        "a_key", "b_key"
    )
    multi = _part_pairs_shared(spark, sf_dir, "multi").select(
        "a_key", "b_key"
    )
    common = single.join(multi, ["a_key", "b_key"], "inner")
    counts = (
        single.agg(F.count(F.lit(1)).cast("long").alias("n_single"))
        .crossJoin(
            F.broadcast(
                multi.agg(F.count(F.lit(1)).cast("long").alias("n_multi"))
            )
        )
        .crossJoin(
            F.broadcast(
                common.agg(
                    F.count(F.lit(1)).cast("long").alias("n_common")
                )
            )
        )
    )
    return counts.select(
        "n_single",
        "n_multi",
        "n_common",
        (F.col("n_multi") - F.col("n_common")).alias("multi_only"),
        F.when(
            F.col("n_single") > 0,
            F.expr("n_common * 1000 div n_single"),
        ).alias("recall_milli"),
    )


def q_near_dup_method_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-method audit: SimHash near-dup pairs graded against the
    Jaccard-verified MinHash-LSH pair set as truth — precision/recall
    in integer milli units. The quality contract that tells an
    operator whether the cheaper single-pass SimHash sweep can stand
    in for the banded-MinHash pipeline on their corpus (the dedup
    analog of embedding_ann_recall). Integer division (div) keeps the
    ratios engine-exact; both pair relations are tiny aggregates by
    the time they meet, and BOTH sides reuse shared persisted pair
    stages (the sim side is referenced twice in this plan — the
    persist keeps the banding fan-out from executing twice)."""
    truth = _near_dup_pairs_shared(spark, sf_dir).select("id_a", "id_b")
    simp = _simhash_pairs_shared(spark, sf_dir).select("id_a", "id_b")
    both = truth.join(simp, ["id_a", "id_b"], "inner")
    counts = (
        truth.agg(F.count(F.lit(1)).cast("long").alias("n_truth"))
        .crossJoin(
            F.broadcast(
                simp.agg(F.count(F.lit(1)).cast("long").alias("n_simhash"))
            )
        )
        .crossJoin(
            F.broadcast(
                both.agg(F.count(F.lit(1)).cast("long").alias("n_both"))
            )
        )
    )
    # NULL ratios when a pair set is empty — Spark's div would return
    # NULL but DuckDB's // raises, so the guard must be explicit and
    # mirrored (an empty SimHash sweep is a real outcome on a corpus
    # with no near-dups).
    return counts.select(
        "n_truth",
        "n_simhash",
        "n_both",
        F.when(
            F.col("n_simhash") > 0,
            F.expr("n_both * 1000 div n_simhash"),
        ).alias("precision_milli"),
        F.when(
            F.col("n_truth") > 0,
            F.expr("n_both * 1000 div n_truth"),
        ).alias("recall_milli"),
    )


VOCAB_TOP_K = 50  # "known" vocabulary size; shared with the oracle


def q_vocab_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document out-of-vocabulary rate against the corpus's own
    top-K term vocabulary — the curation signal that flags documents
    full of junk tokens a fixed tokenizer vocab won't cover. The vocab
    is a TakeOrdered over the aggregated term counts (broadcast-sized
    at any corpus scale); OOV counting is a broadcast anti-semi via
    left join null-check, all integer — oov_ppm = oov*1e6 div n."""
    docs = load_table(spark, sf_dir, "documents")
    terms = docs.select(
        "doc_id", F.explode(tx.words(F.lower("text"))).alias("term")
    ).filter(F.col("term").rlike("^[a-z]+$"))
    vocab = F.broadcast(
        terms.groupBy("term")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.col("n").desc(), F.col("term").asc())
        .limit(VOCAB_TOP_K)
        .select("term", F.lit(True).alias("known"))
    )
    marked = terms.join(vocab, "term", "left")
    return marked.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_terms"),
        F.sum(
            F.when(F.col("known").isNull(), 1).otherwise(0)
        ).cast("long").alias("n_oov"),
    ).select(
        "doc_id",
        "n_terms",
        "n_oov",
        F.expr("n_oov * 1000000 div n_terms").alias("oov_ppm"),
    )


def q_dedup_cluster_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-size histogram of the near-dup components — the summary
    an operator reads before pulling the dedup trigger (how much of
    the corpus is duplicated, and in what clump sizes). Reuses the
    shared persisted clustering (_components_shared); everything
    after the component aggregate runs on the |clusters| relation."""
    comps = _components_shared(spark, sf_dir)
    sizes = comps.groupBy("component_id").agg(
        F.count(F.lit(1)).cast("long").alias("cluster_size")
    )
    return sizes.groupBy("cluster_size").agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters")
    )


# New-batch id space; shared with the oracle. Far above any fixture's
# doc_id range — an overlap would collide the re-keyed batch with real
# ids and silently misclassify pairs on both engines.
INC_DEDUP_OFFSET = 10**12

def _corpus_index_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One materialized corpus band index per (session, sf_dir),
    shared by the one-shot and streaming probes — the probe references
    the index twice per call, and an unmaterialized plan would
    re-shingle the corpus each time (round-4 review finding).

    localCheckpoint, not persist (r14): a persisted DataFrame keeps
    its FULL build plan (cache substitution happens at planning, not
    analysis), so every probe — and the streaming twin probes PER
    MICRO-BATCH — re-analyzed the whole shingle/window tree on each of
    its ~15 eager Dataset constructions (~0.4 s/epoch of driver time,
    profiled). The checkpointed index is a leaf, which is also the
    plan shape of the at-scale path (an index LOADED from parquet via
    sources/index_store is a file-scan leaf). See _shared for what
    executor loss and eviction do to a checkpointed stage."""
    return _shared(
        spark,
        sf_dir,
        "corpus_index",
        build=lambda: dedup.minhash_index(
            load_table(spark, sf_dir, "documents"), "doc_id", "text"
        ).localCheckpoint(eager=True),
    )


def q_incremental_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup: a new ingest batch (10% of the corpus,
    re-keyed into a disjoint id space) probed against the prebuilt
    MinHash band index of the existing corpus
    (operators/dedup.py:minhash_index / incremental_near_dup_pairs).
    Only new-sided pairs are generated — the indexed corpus text is
    never re-shingled — and results match a from-scratch run over the
    union restricted to new-sided pairs, which is exactly what the
    oracle replays."""
    docs = load_table(spark, sf_dir, "documents")
    index = _corpus_index_shared(spark, sf_dir)
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    return dedup.incremental_near_dup_pairs(
        index, new_docs, "doc_id", "text"
    )


def _emb_index_shared(spark: SparkSession, sf_dir: str, cents: list) -> DataFrame:
    """One materialized trained-cell embedding index per (session,
    sf_dir, centroid set) — the one-shot probe and its streaming twin
    must probe the SAME materialized index (the seam
    _corpus_index_shared provides for the MinHash family, and a
    checkpointed leaf for the same reason: the streaming twin probes
    per epoch). The key carries a content fingerprint of the centroids
    (similarity.centroid_fingerprint), mirroring how the centroid
    stage keys on the resolved k: a caller passing differently-trained
    centroids (explicit KMEANS_K vs adaptive k) must never be served
    an index assigned under the other set."""
    return _shared(
        spark,
        sf_dir,
        "emb_index",
        similarity.centroid_fingerprint(cents),
        build=lambda: similarity.embedding_cell_index(
            load_table(spark, sf_dir, "embeddings"), cents
        ).localCheckpoint(eager=True),
    )


def q_incremental_embedding_near_dup(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Incremental EMBEDDING near-dup — the ANN-ingest twin of
    incremental_near_dup: a new vector batch (every 10th embedding,
    re-keyed into a disjoint id space) probed against the prebuilt
    trained-cell index of the existing corpus
    (operators/similarity.py:embedding_cell_index /
    incremental_embedding_pairs). Only new-sided pairs are generated,
    the corpus embeddings are never re-scanned or re-assigned, and the
    combined (index + batch) cell cap makes results match a
    from-scratch run over the union restricted to new-sided pairs —
    which is exactly what the oracle replays (the shared deterministic
    trainer means the DuckDB twin reproduces the SAME centroids
    bit-for-bit via the unrolled kmeans SQL).

    The batch is a RE-INGEST: verbatim copies of every 10th corpus
    vector under fresh ids, so each new vector has at least its exact
    twin (cosine 1.0) in the index — the duplicate-delivery shape an
    ingest idempotence screen exists to catch, and a structurally
    non-degenerate result at any scale.

    Scale: index built once per session (persisted, cell-partitioned
    at rest); per-ingest cost scales with the batch — batch assignment
    is shuffle-free, batch and its per-cell counts broadcast into ONE
    index scan. Adaptive k (clustering.adaptive_k) keeps cells ~250
    vectors at any corpus size; at oracle scales it equals KMEANS_K so
    the static SQL twin stays valid."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids_shared(spark, sf_dir)
    index = _emb_index_shared(spark, sf_dir, cents)
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + INC_DEDUP_OFFSET).alias("vec_id"), "embedding"
    )
    return similarity.incremental_embedding_pairs(
        index, batch, cents, max_cell=SEMDEDUP_MAX_CELL
    )


def q_incremental_embedding_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming-ingest twin of incremental_embedding_near_dup: the
    re-ingest batch arrives as a file STREAM (1 file per trigger →
    multiple micro-batches); each micro-batch probes the trained-cell
    corpus index PLUS the sunk cell-index rows of earlier micro-batches
    (probe-then-extend, each pair exactly once), sinking pairs and
    index rows to idempotent per-epoch parquet
    (streaming/ingest.embedding_probe_stream_to_parquet) — no driver
    accumulation. The streamed union must equal the one-shot probe:
    SAME ORACLE as incremental_embedding_near_dup. Cap nuance: each
    epoch counts its own probe view's rows per cell — exact totals at
    every epoch, but early epochs cannot see later batches, so only
    under cap pressure can the streamed union differ from the one-shot
    run (the oracle gate checks the fixture stays under the cap)."""
    import os
    import shutil
    import tempfile

    from genai_batch_processor_spark.streaming import ingest

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids_shared(spark, sf_dir)
    index = _emb_index_shared(spark, sf_dir, cents)
    batch = emb.filter(F.col("vec_id") % 10 == 3).select(
        (F.col("vec_id") + INC_DEDUP_OFFSET).alias("vec_id"), "embedding"
    )
    shards = tempfile.mkdtemp(prefix="inc_emb_shards_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_inc_emb_")
    out = tempfile.mkdtemp(prefix="inc_emb_out_")
    try:
        batch.repartition(2).write.mode("overwrite").parquet(shards)
        stream = (
            spark.readStream.schema("vec_id long, embedding array<float>")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.embedding_probe_stream_to_parquet(
            stream, index, cents, out, ckpt, max_cell=SEMDEDUP_MAX_CELL
        )
        pairs_root = os.path.join(out, "pairs")
        if not os.path.isdir(pairs_root):
            return spark.range(0).select(
                F.col("id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.col("id").cast("double").alias("cosine"),
            )
        return (
            spark.read.parquet(pairs_root)
            .select("id_a", "id_b", "cosine")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(shards, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def q_incremental_near_dup_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-ingest twin of incremental_near_dup: the new batch
    arrives as a file STREAM (1 file per trigger → multiple
    micro-batches); each micro-batch probes the corpus band index PLUS
    the band rows of every previously-ingested micro-batch
    (probe-then-extend — so cross-micro-batch new-new near-dups are
    found when the later side arrives, each pair exactly once). The
    streamed union must equal the one-shot probe: SAME ORACLE as
    incremental_near_dup. Cap nuance: each probe applies the
    bucket-size cap against its own source's recorded bucket_n (a
    global cross-batch cap would need a stateful bucket-count store);
    exact whenever buckets are below the cap, which the oracle gate
    checks on the fixture.

    Sink-based (round-5): each micro-batch writes its pair set and its
    band rows to an idempotent per-epoch parquet directory
    (streaming/ingest.near_dup_probe_stream_to_parquet) — no driver
    accumulation anywhere on the data path; the returned relation is
    the union of the sunk pair shards, checkpointed so it survives the
    temp-dir cleanup."""
    import os
    import shutil
    import tempfile

    from genai_batch_processor_spark.streaming import ingest

    docs = load_table(spark, sf_dir, "documents")
    # Shared persisted index: every micro-batch probes the SAME corpus
    # index — without the persist each probe re-shingles the corpus,
    # the exact work incrementality exists to avoid.
    index = _corpus_index_shared(spark, sf_dir)
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"), "text"
    )
    shards = tempfile.mkdtemp(prefix="inc_dedup_shards_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_inc_dedup_")
    out = tempfile.mkdtemp(prefix="inc_dedup_out_")
    try:
        new_docs.repartition(2).write.mode("overwrite").parquet(shards)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.near_dup_probe_stream_to_parquet(
            stream, index, "doc_id", "text", out, ckpt
        )
        pairs_root = os.path.join(out, "pairs")
        if not os.path.isdir(pairs_root):
            return spark.range(0).select(
                F.col("id").alias("id_a"),
                F.col("id").alias("id_b"),
                F.col("id").cast("double").alias("jaccard"),
            )
        # Materialize past the temp-dir lifetime: localCheckpoint
        # truncates lineage so the relation no longer references the
        # about-to-be-deleted files (the read itself is the bounded
        # pair set, not a data-path collect).
        return (
            spark.read.parquet(pairs_root)
            .select("id_a", "id_b", "jaccard")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(shards, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Padding-aware batch planning: bucket documents by token-count
    quartile and report per-bucket count, max length, and padding
    waste (sum of max − len) — the numbers that decide whether
    length-bucketed batching pays for a serving/training run (padding
    to a per-bucket max instead of the global max).

    Engine-exact: quartile thresholds via exact F.percentile (==
    DuckDB quantile_cont bit-for-bit), padding as max·n − Σlen in pure
    integers — no float leaves the threshold comparison. Plan: one
    corpus pass for lengths, a broadcast 1-row threshold aggregate,
    one shuffle on the 4-value bucket key with map-side partials."""
    docs = load_table(spark, sf_dir, "documents")
    return _length_buckets_of(
        docs.select(tx.token_count("text").alias("t"))
    )


TEMP_MIX_T = 2.0  # shared with the oracle — edit here, not there


def q_temperature_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-flattened source mixture (operators/sampling.py:
    temperature_weights, T=TEMP_MIX_T): the standard multi-source LM
    reweighting that up-weights tail sources. Scaled-integer powers
    make the normalizing sum order-free; weight_ppm is integer
    division — the oracle derives the identical plan."""
    docs = load_table(spark, sf_dir, "documents")
    return sampling.temperature_weights(
        docs, "source", temperature=TEMP_MIX_T
    )


def q_event_key_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew report — the operational query you run BEFORE
    picking a 100 TB partitioning: top-10 heaviest user_ids with their
    ppm share of all events, alongside the global key count, max, and
    p99 per-key count (F.percentile == DuckDB quantile_cont exactly).
    Plan: one corpus-wide hash aggregate; everything after runs on the
    |keys| relation, with the global stats a broadcast 1-row
    aggregate."""
    ev = load_table(spark, sf_dir, "events")
    counts = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n")
    )
    stats = F.broadcast(
        counts.agg(
            F.sum("n").cast("long").alias("total_rows"),
            F.count(F.lit(1)).cast("long").alias("n_keys"),
            F.max("n").cast("long").alias("max_n"),
            F.round(F.percentile("n", 0.99), 6).alias("p99_n"),
        )
    )
    top = counts.orderBy(F.col("n").desc(), F.col("user_id").asc()).limit(10)
    return top.crossJoin(stats).select(
        "user_id",
        "n",
        F.expr("n * 1000000 div total_rows").alias("share_ppm"),
        "n_keys",
        "total_rows",
        "max_n",
        "p99_n",
    )


# -- round-4 additions: curation-pipeline primitives -------------------------

def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-aware split-integrity audit: near-dup pairs that straddle
    the train/val/test boundary leak evaluation content into training
    — the go/no-go check an eval pipeline runs BEFORE trusting held-out
    numbers. Reuses the shared persisted MinHash pair stage and the
    pure-hash split assignment (both independently oracle-verified);
    output is the per-(split_a, split_b) pair count with a leak flag.

    Scale: the verified pair relation is aggregate-sized, and split
    labels are row-local hash functions of the ids — no shuffle beyond
    the pair stage itself."""
    pairs = _near_dup_pairs_shared(spark, sf_dir).select("id_a", "id_b")
    labeled = pairs.select(
        sampling.assign_split("id_a").alias("split_a"),
        sampling.assign_split("id_b").alias("split_b"),
    )
    return labeled.groupBy("split_a", "split_b").agg(
        F.count(F.lit(1)).cast("long").alias("n_pairs")
    ).select(
        "split_a",
        "split_b",
        "n_pairs",
        (F.col("split_a") != F.col("split_b")).cast("int").alias(
            "is_leak"
        ),
    )


def q_eval_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The repair step after the split_leakage audit: evict from
    val/test every document that near-dups a TRAIN document (the
    standard eval-decontamination direction — training data stays,
    held-out sets shrink), and report per split how many documents
    survive. Training-side docs are never evicted; a val-test pair is
    leak-flagged by the audit but evicts nothing here.

    Scale: rides the shared persisted pair stage; split labels are
    row-local hash functions of the ids (no label join), the evicted
    id set is bounded by the pair relation and broadcast into one
    corpus-scan aggregate."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = _near_dup_pairs_shared(spark, sf_dir).select("id_a", "id_b")
    lp = pairs.select(
        "id_a",
        "id_b",
        sampling.assign_split("id_a").alias("sa"),
        sampling.assign_split("id_b").alias("sb"),
    )
    ev_a = lp.filter(
        (F.col("sa") != "train") & (F.col("sb") == "train")
    ).select(F.col("id_a").alias("doc_id"))
    ev_b = lp.filter(
        (F.col("sb") != "train") & (F.col("sa") == "train")
    ).select(F.col("id_b").alias("doc_id"))
    evicted = (
        ev_a.unionByName(ev_b).distinct().withColumn("ev", F.lit(1))
    )
    per = docs.select(
        "doc_id", sampling.assign_split("doc_id").alias("split")
    ).join(F.broadcast(evicted), "doc_id", "left")
    return (
        per.groupBy("split")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.coalesce("ev", F.lit(0)))
            .cast("long")
            .alias("n_evicted"),
        )
        .select(
            "split",
            "n_docs",
            "n_evicted",
            (F.col("n_docs") - F.col("n_evicted"))
            .cast("long")
            .alias("n_kept"),
        )
    )


SEMDEDUP_MAX_CELL = 512  # k-means cells are k-bounded, not 2^bits

def _span_index_shared(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One materialized corpus span index per (session, sf_dir) —
    probes must never re-shingle the indexed corpus (the same seam as
    the MinHash band index, and a checkpointed leaf for the same
    reason as _corpus_index_shared: the streaming twin probes per
    epoch)."""
    return _shared(
        spark,
        sf_dir,
        "span_index",
        build=lambda: curation.span_index(
            load_table(spark, sf_dir, "documents")
        ).localCheckpoint(eager=True),
    )


def q_incremental_span_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-time span-containment screen: a new batch (the word-4+
    TAIL of every 10th document with a novel per-doc token appended,
    re-keyed into a disjoint id space — PARTIALLY contained in the
    corpus by construction) probed against the persisted span index
    (operators/curation.py:span_index / probe_span_index). The
    exact-containment analog of incremental_near_dup: the tail's
    interior spans are corpus spans (an n-gram of a suffix is an
    n-gram of the original), the spans covering the appended novel
    token are not, so known_ppm lands strictly between 0 and 1e6 —
    the admit/trim decision signal at ingest.

    Scale: only the batch is exploded; the probe joins on the span
    hash; the index is built once per session (persisted) and at rest
    is hash-bucketed parquet."""
    docs = load_table(spark, sf_dir, "documents")
    index = _span_index_shared(spark, sf_dir)
    ws = tx.words(F.col("text"))
    tail_text = F.concat_ws(
        " ",
        F.slice(ws, 4, F.greatest(F.size(ws) - 3, F.lit(1))),
        F.concat(F.lit("zz"), F.col("doc_id").cast("string")),
    )
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"),
        tail_text.alias("text"),
    )
    return curation.probe_span_index(index, new_docs)


def q_incremental_span_dup_stream(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Streaming-ingest twin of incremental_span_dup, completing
    stream ingest across all three persisted index stores (band /
    cell / span): the same tail-construction batch arrives as a file
    STREAM (1 file per trigger → multiple micro-batches), each
    micro-batch probes the persisted span index and sinks its per-doc
    containment report to an idempotent per-epoch parquet directory
    (streaming/ingest.span_probe_stream_to_parquet). No
    probe-then-extend: the one-shot contract counts only CORPUS spans
    as known, so the streamed union of reports equals the one-shot
    probe exactly — SAME ORACLE as incremental_span_dup, no cap
    nuance."""
    import os
    import shutil
    import tempfile

    from genai_batch_processor_spark.streaming import ingest

    docs = load_table(spark, sf_dir, "documents")
    index = _span_index_shared(spark, sf_dir)
    ws = tx.words(F.col("text"))
    tail_text = F.concat_ws(
        " ",
        F.slice(ws, 4, F.greatest(F.size(ws) - 3, F.lit(1))),
        F.concat(F.lit("zz"), F.col("doc_id").cast("string")),
    )
    new_docs = docs.filter(F.col("doc_id") % 10 == 3).select(
        (F.col("doc_id") + INC_DEDUP_OFFSET).alias("doc_id"),
        tail_text.alias("text"),
    )
    shards = tempfile.mkdtemp(prefix="inc_span_shards_")
    ckpt = tempfile.mkdtemp(prefix="ckpt_inc_span_")
    out = tempfile.mkdtemp(prefix="inc_span_out_")
    try:
        new_docs.repartition(2).write.mode("overwrite").parquet(shards)
        stream = (
            spark.readStream.schema("doc_id long, text string")
            .option("maxFilesPerTrigger", 1)
            .parquet(shards)
        )
        ingest.span_probe_stream_to_parquet(stream, index, out, ckpt)
        reports_root = os.path.join(out, "reports")
        if not os.path.isdir(reports_root):
            return spark.range(0).select(
                F.col("id").alias("doc_id"),
                F.col("id").alias("n_spans"),
                F.col("id").alias("n_known_spans"),
                F.col("id").alias("known_ppm"),
            )
        return (
            spark.read.parquet(reports_root)
            .select("doc_id", "n_spans", "n_known_spans", "known_ppm")
            .localCheckpoint(eager=True)
        )
    finally:
        shutil.rmtree(ckpt, ignore_errors=True)
        shutil.rmtree(shards, ignore_errors=True)
        shutil.rmtree(out, ignore_errors=True)


def q_semdedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
    deduplication inside TRAINED k-means cells — cluster the embedding
    corpus, find cosine near-dup pairs only within each learned cell,
    take connected components, keep one survivor per semantic cluster.
    Distinct from embedding_dedup_survivors (sign-LSH cells): the cell
    structure is learned, so paraphrase neighborhoods that straddle
    hash buckets land in one cell and get deduplicated together.

    The in-cell cap is SEMDEDUP_MAX_CELL (not the LSH MAX_CELL):
    population per cell is corpus/k, so at real scale k must rise to
    keep cells under the cap — the published run used 50k clusters on
    LAION. Since round 6 that contract is AUTOMATIC: k derives from
    the corpus (clustering.adaptive_k — ~250 vectors per cell, floor
    KMEANS_K, ceiling KMEANS_K_MAX) and assignment auto-routes to the
    Arrow argmin above ARROW_AUTO_K centroids
    (clustering.assign_cells_auto). At every oracle-checked fixture
    scale adaptive k == KMEANS_K, so the static DuckDB twin (which
    unrolls training at k=KMEANS_K) remains bit-valid; at sf1 (20k
    vectors) k resolves to 80 and the report is non-empty with no
    caller-supplied knobs (tools/sf1_check.py).

    Scale: training collects k x dim scaled-integer sums per Lloyd
    iteration (bounded driver state); assignment is shuffle-free
    (literal centroids, struct-min argmin); the only corpus shuffle is
    the in-cell self-join on the cell key, quadratic per cell but
    capped. Training rides the per-session trainer cache shared with
    the IVF family — deterministic, so one training serves all
    centroid consumers. Oracle: the same unrolled training
    (bit-identical centroids) + assignment + pair SQL + recursive-CTE
    closure."""
    from genai_batch_processor_spark.operators import clustering

    emb = load_table(spark, sf_dir, "embeddings")
    cents = _trained_centroids_shared(spark, sf_dir)
    # Persisted AND memoized per (session, sf_dir) like the other
    # shared stages: embedding_near_dup_pairs references its input
    # three times (cell-count aggregate + both self-join sides), and
    # without the memo each invocation in one session would stack a
    # new persisted relation (round-4 advice: storage leak in
    # long-lived sessions / test loops).

    def build() -> DataFrame:
        # fan_out before the argmin assignment so BOTH the cache build
        # and every cached-read consumer (three references per pair
        # query) run at full parallelism instead of on the one-split
        # local scan (guide §2.5; no-op at scale).
        from genai_batch_processor_spark.functions.fanout import fan_out

        return clustering.assign_cells_auto(
            fan_out(emb.select("vec_id", "embedding")), cents
        ).persist()

    assigned = _shared(spark, sf_dir, "semdedup_assigned", build=build)
    pairs = similarity.embedding_near_dup_pairs(
        assigned, bucket_col="cell", max_cell=SEMDEDUP_MAX_CELL
    )
    return _embedding_survivors(emb, pairs)


# Aliases of the operator defaults (operators/curation.py) — ONE copy
# of each tuning constant, shared by query, oracle, and operator.
RRF_K = curation.RRF_K_DEFAULT


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid-retrieval fusion: reciprocal-rank fusion (Cormack et al.)
    of two independent retrieval paths — exact cosine top-k and the
    int8 quantized-retrieve/rescore path — into one consensus ranking.
    The serving-stack primitive for combining retrievers without score
    calibration: rrf = Σ_systems 1/(K + rank), here in exact integer
    MICRO units (1000000 div (K + rank)) so the fused ordering is
    engine-identical with no float summation anywhere.

    Scale: both branches broadcast the same tiny query set over the
    corpus scan (no corpus shuffle); the fusion aggregate runs on the
    |queries| × top-k candidate relation, not the corpus — here read
    from the session-shared per-method top-k leaves (the same
    relations q_embedding_topk / q_embedding_topk_int8 serve)."""
    exact = _topk_method_shared(spark, sf_dir, "exact")
    quant = _topk_method_shared(spark, sf_dir, "int8")
    return curation.rrf_fuse(
        [exact, quant], k_const=RRF_K, topk=similarity.TOPK_DEFAULT
    )


SPAN_N = curation.SPAN_WORDS_DEFAULT  # span width; shared with oracle


def q_span_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level EXACT duplication statistics (the Lee et al.
    "Deduplicating Training Data" substring family, approximated with
    fixed-width word spans instead of suffix arrays — the standard
    distributed reformulation): a span is duplicated if its 5-word
    window occurs in ≥ 2 distinct documents. Per-doc output feeds the
    span-trim / drop decision that whole-doc MinHash cannot make —
    boilerplate headers duplicated across distinct pages.

    Scale: one corpus explode → 60-bit span hashes; doc-frequency is a
    hash aggregate over (doc, hash) distinct; the duplicated-hash set
    (aggregate-sized) joins back to the span stream on its hash key —
    map-side partial aggs on both sides, no corpus self-join."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.span_dup_stats(docs, "doc_id", "text", SPAN_N)


# Funnel thresholds (integer-exact rule forms; shared with the oracle).
FUNNEL_MIN_WORDS = 20
FUNNEL_RULES = (
    "all", "min_words", "word_shape", "repetition", "stopwords",
    "symbol_ratio",
)


def funnel_metric_cols() -> list:
    """Per-doc integer counters the funnel rules compare (over
    lower(text)); fuzz-pinned against their DuckDB twins in
    tests/test_fuzz_parity.py::funnel_metrics."""
    t = F.lower(F.col("text"))
    ws = tx.words(t)
    return [
        F.size(ws).alias("n_words"),
        # coalesce mirrors the SQL twin's coalesce(list_sum(...), 0):
        # NULL text must yield 0 on BOTH engines, not NULL here / 0 there
        F.coalesce(
            F.aggregate(ws, F.lit(0), lambda a, w: a + F.length(w)),
            F.lit(0),
        ).alias("sum_chars"),
        F.size(F.array_distinct(ws)).alias("n_distinct"),
        F.size(F.filter(ws, lambda w: w.isin(*tx.STOPWORDS))).alias(
            "n_stop"
        ),
        F.regexp_count(t, F.lit(tx.PUNCT_PATTERN)).alias("n_punct"),
        F.length(t).alias("n_chars"),
    ]


def sql_funnel_metric_exprs(text_expr: str = "text") -> dict[str, str]:
    """DuckDB twins of :func:`funnel_metric_cols`, keyed by the same
    column names — the ONE definition the oracle and the fuzz harness
    both build from, so the pin cannot drift from the query."""
    t = f"lower({text_expr})"
    w = f"string_split({t}, ' ')"
    stop = ", ".join(f"'{m}'" for m in tx.STOPWORDS)
    return {
        "n_words": f"len({w})",
        "sum_chars": (
            f"coalesce(list_sum(list_transform({w}, x -> length(x))), 0)"
        ),
        "n_distinct": f"len(list_distinct({w}))",
        "n_stop": f"len(list_filter({w}, x -> x IN ({stop})))",
        "n_punct": f"len(regexp_extract_all({t}, '{tx.PUNCT_PATTERN}'))",
        "n_chars": f"length({t})",
    }


def funnel_rules() -> list[tuple[str, F.Column]]:
    """The Gopher-style rule chain over the funnel metric columns, every
    threshold in cross-multiplied integer form."""
    return [
        ("min_words", F.col("n_words") >= FUNNEL_MIN_WORDS),
        (
            "word_shape",
            (3 * F.col("n_words") <= F.col("sum_chars"))
            & (F.col("sum_chars") <= 10 * F.col("n_words")),
        ),
        (
            "repetition",
            10 * (F.col("n_words") - F.col("n_distinct"))
            <= 3 * F.col("n_words"),
        ),
        ("stopwords", F.col("n_stop") >= 2),
        ("symbol_ratio", 10 * F.col("n_punct") <= F.col("n_chars")),
    ]


def q_quality_filter_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential quality-filter attrition report (the Gopher-rules
    shape): how many documents survive each successive rule —
    min word count, mean word length in [3,10], repetition ≤ 0.3,
    ≥ 2 stopwords, punctuation ratio ≤ 0.1. Every rule is stated in
    cross-multiplied INTEGER form (e.g. mean-len bounds as
    3·n ≤ Σlen ≤ 10·n), so no float threshold can split the engines.
    This is the report an operator reads before a corpus-wide filter:
    which rule is doing the cutting, and is the attrition sane.

    Scale: one corpus scan computing per-doc integer counters, one
    1-row global aggregate of the cumulative conjunctions, then a
    constant 6-row stack — nothing after the scan is data-sized."""
    docs = load_table(spark, sf_dir, "documents")
    flagged = docs.select(*funnel_metric_cols())
    return curation.filter_funnel(flagged, funnel_rules())


DSIR_BUCKETS = curation.DSIR_BUCKETS_DEFAULT  # shared with the oracle
DSIR_TARGET_LANG = "en"


def q_dsir_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weights (Xie et al., Data Selection via
    Importance Resampling): hashed word-bigram features, per-document
    weight = Σ_features ln(p_target/p_raw) under Laplace-smoothed
    bucket models, with the 'en' slice of the corpus standing in for
    the target distribution. Per-bucket log-ratios are rounded to
    integer MILLI-nats before the per-doc sum (order-free, the
    doc_logprob contract), so the ranking that drives resampling is
    engine-exact.

    Scale: bigram buckets are a corpus hash-agg (map-side partials);
    the bucket model is exactly DSIR_BUCKETS rows — broadcast — and
    totals ride a 1-row broadcast aggregate, so the scoring join back
    to the feature stream never shuffles the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.dsir_weights(
        docs,
        F.col("lang") == DSIR_TARGET_LANG,
        "doc_id",
        "text",
        DSIR_BUCKETS,
    )


def q_minhash_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash estimator calibration (the audit behind every
    LSH-screened dedup decision): for every candidate pair, the
    signature ESTIMATE of Jaccard (matching components / K) next to
    the exact shingle Jaccard, aggregated by estimate decile — read it
    to see how far K=16 signatures stray from truth and why the engine
    always Jaccard-verifies candidates instead of trusting the screen
    (estimator std err ~ sqrt(J(1-J)/K)).

    Engine-exact: integer milli per pair (x*1000 div y), integer mean
    per decile (sum div n) — order-free. Scale: the single-scan carry
    plan of the pair family (operators/dedup.py:
    minhash_calibration_pairs), one shuffle on (band, key), the decile
    aggregate runs on the bounded candidate set."""
    docs = load_table(spark, sf_dir, "documents")
    return calibration_report(docs)


def calibration_report(docs: DataFrame) -> DataFrame:
    """Decile aggregation over :func:`dedup.minhash_calibration_pairs`
    — factored out of :func:`q_minhash_calibration` so tests can run
    the full report on constructed corpora (e.g. the NULL-text parity
    pin) without a parquet fixture."""
    audit = dedup.minhash_calibration_pairs(docs, "doc_id", "text")
    return (
        audit.select(
            F.expr("est_milli div 100").cast("int").alias("est_decile"),
            "true_milli",
            "est_milli",
        )
        .groupBy("est_decile")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
            F.sum("true_milli").cast("long").alias("sum_true"),
            F.sum("est_milli").cast("long").alias("sum_est"),
        )
        .select(
            "est_decile",
            "n_pairs",
            F.expr("sum_true div n_pairs")
            .cast("long")
            .alias("mean_true_milli"),
            F.expr("sum_est div n_pairs")
            .cast("long")
            .alias("mean_est_milli"),
        )
    )


def q_chunk_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chunk-granularity exact dedup report: training pipelines dedupe
    at the context-window level too (a document unique as a whole still
    feeds duplicated windows into training when it shares boilerplate
    spans). Chunks each document (operators/chunking.py), fingerprints
    each chunk, and reports per source how many of its chunks are
    globally duplicated (all copies counted) as integer ppm.

    Scale: one scan + chunk explode, one shuffle on the chunk hash
    (window count), one doc_id join back for the source column, one
    aggregate on the |sources| key — no self-join, no pair explosion;
    the hash window is the same shape exact_dedup uses."""
    docs = load_table(spark, sf_dir, "documents")
    chunks = chunking.chunk_documents(docs)
    hashed = chunks.select(
        "doc_id", hashing.portable_hash60("chunk_text").alias("h")
    )
    counted = hashed.withColumn(
        "n_copies", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    return (
        counted.join(docs.select("doc_id", "source"), "doc_id")
        .groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_chunks"),
            F.sum(F.when(F.col("n_copies") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_dup_chunks"),
        )
        .select(
            "source",
            "n_chunks",
            "n_dup_chunks",
            F.expr("n_dup_chunks * 1000000 div n_chunks")
            .cast("long")
            .alias("dup_ppm"),
        )
    )


def q_token_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-fertility audit per language: chars-per-token in
    integer milli — the number a multilingual data budget is priced in
    (a lang whose text yields 2x the tokens per char eats 2x the
    training budget per byte). Pure native expressions (regexp token
    count + length), one scan, one |langs|-key aggregate; the ratio is
    integer (x*1000 div y) with a nullif(0) guard mirrored in the
    oracle."""
    docs = load_table(spark, sf_dir, "documents")
    per = docs.select(
        "lang",
        tx.token_count("text").cast("long").alias("t"),
        F.length("text").cast("long").alias("c"),
    )
    return (
        per.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("t").cast("long").alias("sum_tokens"),
            F.sum("c").cast("long").alias("sum_chars"),
        )
        .select(
            "lang",
            "n_docs",
            "sum_tokens",
            "sum_chars",
            F.expr("sum_chars * 1000 div nullif(sum_tokens, 0)")
            .cast("long")
            .alias("chars_per_token_milli"),
        )
    )


# Registry ORDER is the driver contract: the correctness gate samples the
# FIRST 50 entries. Policy (r4 verdict item 6): newest queries first (they
# have never passed the driver gate), then the current round's ROTATION
# WINDOW - 30 older queries absent from the previous round's sample, taken
# in registry order so successive rounds cycle the whole tail through the
# driver's own gate (tools/check_parity.py covers all of them every
# session regardless).
QUERIES: dict[str, callable] = {
    "bpe_token_counts": q_bpe_token_counts,
    "mixture_plan_bpe": q_mixture_plan_bpe,
    "length_buckets_bpe": q_length_buckets_bpe,
    "eval_decontamination": q_eval_decontamination,
    "minhash_calibration": q_minhash_calibration,
    "chunk_dedup_stats": q_chunk_dedup_stats,
    "token_fertility": q_token_fertility,
    "split_leakage": q_split_leakage,
    "incremental_span_dup": q_incremental_span_dup,
    "incremental_span_dup_stream": q_incremental_span_dup_stream,
    "semdedup_survivors": q_semdedup_survivors,
    "rrf_fusion": q_rrf_fusion,
    "span_dedup_stats": q_span_dedup_stats,
    "quality_filter_funnel": q_quality_filter_funnel,
    "dsir_weights": q_dsir_weights,
    "incremental_near_dup": q_incremental_near_dup,
    "incremental_embedding_near_dup": q_incremental_embedding_near_dup,
    "incremental_embedding_stream": q_incremental_embedding_stream,
    "incremental_near_dup_stream": q_incremental_near_dup_stream,
    "length_buckets": q_length_buckets,
    "vocab_oov_rate": q_vocab_oov_rate,
    "dedup_cluster_stats": q_dedup_cluster_stats,
    "temperature_mixture": q_temperature_mixture,
    "event_key_skew": q_event_key_skew,
    "bm25_scores": q_bm25_scores,
    "part_match_candidates": q_part_match_candidates,
    "part_match_multikey": q_part_match_multikey,
    "part_match_blocking_recall": q_part_match_blocking_recall,
    "near_dup_method_agreement": q_near_dup_method_agreement,
    "embedding_topk_lsh": q_embedding_topk_lsh,
    "embedding_near_dup": q_embedding_near_dup,
    "doc_stats": q_doc_stats,
    "lang_id_confusion": q_lang_id_confusion,
    "term_frequencies": q_term_frequencies,
    "source_quality": q_source_quality,
    "multimodal_requests": q_multimodal_requests,
    "events_hourly": q_events_hourly,
    "user_sessions": q_user_sessions,
    "events_json_props": q_events_json_props,
    "pricing_summary": q_pricing_summary,
    "regional_revenue": q_regional_revenue,
    "top_customers_per_nation": q_top_customers_per_nation,
    "customer_order_setops": q_customer_order_setops,
    "embedding_topk_ivf": q_embedding_topk_ivf,
    "embedding_topk_ivf_trained": q_embedding_topk_ivf_trained,
    "embedding_ann_recall": q_embedding_ann_recall,
    "ivf_recall_sweep": q_ivf_recall_sweep,
    "events_asof": q_events_asof,
    "vertex_responses": q_vertex_responses,
    "lang_source_rollup": q_lang_source_rollup,
    "ngram_jaccard": q_ngram_jaccard,
    "order_priority_returns": q_order_priority_returns,
    "customers_without_orders": q_customers_without_orders,
    "price_bracket_join": q_price_bracket_join,
    "events_cube": q_events_cube,
    "lang_vocab": q_lang_vocab,
    "embedding_topk_pandas": q_embedding_topk_pandas,
    "events_value_percentiles": q_events_value_percentiles,
    "events_hourly_stream": q_events_hourly_stream,
    "user_stats_stream": q_user_stats_stream,
    "assign_ids": q_assign_ids,
    "build_requests": q_build_requests,
    "azure_model_rewrite": q_azure_model_rewrite,
    "mock_responses": q_mock_responses,
    "extract_answer": q_extract_answer,
    "error_split": q_error_split,
    "joinback": q_joinback,
    "label_distribution": q_label_distribution,
    "vertex_requests": q_vertex_requests,
    "question_preview": q_question_preview,
    "prompt_dedup_requests": q_prompt_dedup_requests,
    "prompt_dedup_fanout": q_prompt_dedup_fanout,
    "batch_shards": q_batch_shards,
    "training_order": q_training_order,
    "snapshot_changes": q_snapshot_changes,
    "audio_windows": q_audio_windows,
    "incremental_inference": q_incremental_inference,
    "retry_responses": q_retry_responses,
    "request_cost_estimate": q_request_cost_estimate,
    "curriculum_mix": q_curriculum_mix,
    "mixture_plan": q_mixture_plan,
    "mixture_sample": q_mixture_sample,
    "response_joinback_stream": q_response_joinback_stream,
    "chunk_vote": q_chunk_vote,
    "winnow_pairs": q_winnow_pairs,
    "doc_logprob": q_doc_logprob,
    "exact_dedup": q_exact_dedup,
    "minhash_signatures": q_minhash_signatures,
    "lsh_candidates": q_lsh_candidates,
    "near_dup_pairs": q_near_dup_pairs,
    "simhash": q_simhash,
    "simhash_near_dup": q_simhash_near_dup,
    "embedding_topk": q_embedding_topk,
    "supplier_balance": q_supplier_balance,
    "embedding_label_stats": q_embedding_label_stats,
    "dedup_components": q_dedup_components,
    "dedup_components_star": q_dedup_components_star,
    "dedup_survivors": q_dedup_survivors,
    "order_revenue_topk": q_order_revenue_topk,
    "lang_source_grouping_sets": q_lang_source_grouping_sets,
    "user_funnel": q_user_funnel,
    "tfidf_top_terms": q_tfidf_top_terms,
    "above_avg_balance": q_above_avg_balance,
    "source_diversity": q_source_diversity,
    "source_lang_pivot": q_source_lang_pivot,
    "doc_attr_map": q_doc_attr_map,
    "doc_sample": q_doc_sample,
    "quality_weighted_sample": q_quality_weighted_sample,
    "split_counts": q_split_counts,
    "source_quota": q_source_quota,
    "pii_redaction": q_pii_redaction,
    "doc_repetition": q_doc_repetition,
    "decontaminate": q_decontaminate,
    "decontaminate_bloom": q_decontaminate_bloom,
    "heavy_hitter_tokens": q_heavy_hitter_tokens,
    "lang_heavy_hitters": q_lang_heavy_hitters,
    "video_frames": q_video_frames,
    "lang_distinct_sketch": q_lang_distinct_sketch,
    "runner_responses": q_runner_responses,
    "events_rolling": q_events_rolling,
    "balance_quartiles": q_balance_quartiles,
    "events_dedup_stream": q_events_dedup_stream,
    "events_sliding_stream": q_events_sliding_stream,
    "min_cost_supplier": q_min_cost_supplier,
    "small_qty_revenue": q_small_qty_revenue,
    "lone_return_suppliers": q_lone_return_suppliers,
    "price_moments": q_price_moments,
    "embedding_centroids": q_embedding_centroids,
    "quality_unpivot": q_quality_unpivot,
    "user_sessions_stream": q_user_sessions_stream,
    "embedding_quantization": q_embedding_quantization,
    "embedding_topk_int8": q_embedding_topk_int8,
    "embedding_dedup_survivors": q_embedding_dedup_survivors,
    "doc_chunks": q_doc_chunks,
    "chunk_packing": q_chunk_packing,
    "nation_revenue_pareto": q_nation_revenue_pareto,
    "events_asof_forward": q_events_asof_forward,
    "top_balance_percentile": q_top_balance_percentile,
    "salted_event_totals": q_salted_event_totals,
    "salted_nation_balance": q_salted_nation_balance,
    "kmeans_cells": q_kmeans_cells,
    "kmeans_assign_agreement": q_kmeans_assign_agreement,
    "daily_new_users": q_daily_new_users,
    "events_daily_rollup": q_events_daily_rollup,
    "value_histogram_quantiles": q_value_histogram_quantiles,
    "daily_activity_full_outer": q_daily_activity_full_outer,
    "image_features": q_image_features,
    "events_daily_spine": q_events_daily_spine,
    "word_bigrams": q_word_bigrams,
    "bigram_followers": q_bigram_followers,
    "hourly_value_change": q_hourly_value_change,
    "distinct_buyers_daily": q_distinct_buyers_daily,
    "doc_word_filters": q_doc_word_filters,
    "events_sliding": q_events_sliding,
    "user_value_share": q_user_value_share,
    "click_purchase_stream": q_click_purchase_stream,
    "nation_trade": q_nation_trade,
    "market_share": q_market_share,
    "chunk_packing_bpe": q_chunk_packing_bpe,
    "request_cost_bpe": q_request_cost_bpe,
    "bpe_compression": q_bpe_compression,
    "bpe_token_counts_stream": q_bpe_token_counts_stream,
    "batch_shards_tokens": q_batch_shards_tokens,
    "bpe_loaded_tokenizer": q_bpe_loaded_tokenizer,
}

# Round-6 driver-sample rotation (round-5 verdict item 3): the driver
# gates 50 queries from the FRONT of this dict each round; these 53 had
# never been driver-sampled in rounds 1-5 (registry minus the union of
# CORRECTNESS_r01-r05 keys). Front-load them — plus any queries new this
# round, which by definition are also unsampled — so that after round 6
# every registered query has passed the driver's OWN gate at least once.
_R6_FRONT = [
    "kmeans_assign_agreement",  # new in r6: never sampled by definition
    "incremental_embedding_near_dup",  # new in r6
    "incremental_embedding_stream",  # new in r6
    "user_funnel", "tfidf_top_terms", "above_avg_balance",
    "source_diversity", "source_lang_pivot", "doc_attr_map", "doc_sample",
    "split_counts", "source_quota", "pii_redaction", "doc_repetition",
    "decontaminate", "video_frames", "lang_distinct_sketch",
    "runner_responses", "events_rolling", "balance_quartiles",
    "events_dedup_stream", "events_sliding_stream", "min_cost_supplier",
    "small_qty_revenue", "lone_return_suppliers", "price_moments",
    "embedding_centroids", "quality_unpivot", "user_sessions_stream",
    "embedding_quantization", "embedding_topk_int8",
    "embedding_dedup_survivors", "doc_chunks", "chunk_packing",
    "nation_revenue_pareto", "events_asof_forward",
    "top_balance_percentile", "salted_event_totals",
    "salted_nation_balance", "kmeans_cells", "daily_new_users",
    "events_daily_rollup", "value_histogram_quantiles",
    "daily_activity_full_outer", "image_features", "events_daily_spine",
    "word_bigrams", "bigram_followers", "hourly_value_change",
    "distinct_buyers_daily", "doc_word_filters", "events_sliding",
    "user_value_share", "click_purchase_stream", "nation_trade",
    "market_share",
]
QUERIES = {
    **{k: QUERIES[k] for k in _R6_FRONT},
    **{k: v for k, v in QUERIES.items() if k not in set(_R6_FRONT)},
}

# Round-7 front (round-6 verdict item 3): the driver gates 50 queries
# from the FRONT of this dict each round. These 6 are the only
# registry entries never sampled by the driver in rounds 1-6 (the
# registry grew 144->147 in r6, so the r6 rotation couldn't close the
# set; the judge verified them green by hand) — plus the two queries
# new this round, unsampled by definition. After round 7 every
# registered query has passed the driver's OWN gate at least once.
_R7_FRONT = [
    "click_purchase_stream", "doc_word_filters", "events_sliding",
    "market_share", "nation_trade", "user_value_share",
    "part_match_multikey",  # new in r7
    "part_match_blocking_recall",  # new in r7
]
QUERIES = {
    **{k: QUERIES[k] for k in _R7_FRONT},
    **{k: v for k, v in QUERIES.items() if k not in set(_R7_FRONT)},
}

# Round-11 front (rotation policy, round-7 verdict item 6): each round,
# the registry front is re-ordered OLDEST-GATED-FIRST via
# `python tools/rotation.py` (reads CORRECTNESS_r*.json, sorts the
# registry by the round of their newest green driver-gate row, takes
# 50). The driver gates the first 50 dict entries, so with a 152-query
# registry every query re-passes the driver's own oracle gate at most
# every ~3 rounds even as the code under it evolves; queries added
# mid-round are never-gated and sort FIRST unconditionally (r10
# verdict item 8: tools/rotation.py hard-fails if a registered query
# has no driver row and is absent from the upcoming window). The r11
# window front-loads all 5 never-gated queries — the 2 r10 additions
# (incremental_span_dup_stream, ivf_recall_sweep — r10 verdict item 1)
# plus the 3 r11 BPE queries — followed by 45 of the r8-gated cohort,
# now the oldest.
_R11_FRONT = [
    "bpe_token_counts",  # last gated NEVER — front-loaded
    "incremental_span_dup_stream",  # last gated NEVER — front-loaded
    "ivf_recall_sweep",  # last gated NEVER — front-loaded
    "length_buckets_bpe",  # last gated NEVER — front-loaded
    "mixture_plan_bpe",  # last gated NEVER — front-loaded
    "assign_ids",  # last gated r8
    "audio_windows",  # last gated r8
    "azure_model_rewrite",  # last gated r8
    "batch_shards",  # last gated r8
    "bm25_scores",  # last gated r8
    "build_requests",  # last gated r8
    "chunk_dedup_stats",  # last gated r8
    "chunk_vote",  # last gated r8
    "curriculum_mix",  # last gated r8
    "customer_order_setops",  # last gated r8
    "customers_without_orders",  # last gated r8
    "dedup_cluster_stats",  # last gated r8
    "dedup_components",  # last gated r8
    "dedup_components_star",  # last gated r8
    "dedup_survivors",  # last gated r8
    "doc_logprob",  # last gated r8
    "doc_stats",  # last gated r8
    "dsir_weights",  # last gated r8
    "embedding_ann_recall",  # last gated r8
    "embedding_label_stats",  # last gated r8
    "embedding_topk",  # last gated r8
    "error_split",  # last gated r8
    "exact_dedup",  # last gated r8
    "extract_answer",  # last gated r8
    "incremental_inference",  # last gated r8
    "joinback",  # last gated r8
    "label_distribution",  # last gated r8
    "lang_source_grouping_sets",  # last gated r8
    "lsh_candidates",  # last gated r8
    "minhash_signatures",  # last gated r8
    "mixture_plan",  # last gated r8
    "mixture_sample",  # last gated r8
    "mock_responses",  # last gated r8
    "near_dup_pairs",  # last gated r8
    "order_revenue_topk",  # last gated r8
    "prompt_dedup_fanout",  # last gated r8
    "prompt_dedup_requests",  # last gated r8
    "quality_weighted_sample",  # last gated r8
    "question_preview",  # last gated r8
    "request_cost_estimate",  # last gated r8
    "response_joinback_stream",  # last gated r8
    "retry_responses",  # last gated r8
    "simhash",  # last gated r8
    "simhash_near_dup",  # last gated r8
    "snapshot_changes",  # last gated r8
]
# Unconditional and BEFORE the rebuild (assert would vanish under
# `python -O`): a mis-sized front pasted from tools/rotation.py must
# fail import, not silently shrink or overflow the driver-gate window.
if len(_R11_FRONT) != 50:
    raise ValueError(
        f"driver-gate window must be exactly 50 entries, got {len(_R11_FRONT)}"
    )
QUERIES = {
    **{k: QUERIES[k] for k in _R11_FRONT},
    **{k: v for k, v in QUERIES.items() if k not in set(_R11_FRONT)},
}

# Round-12 front (`python tools/rotation.py`): the 2 queries new this
# round (never gated, front-loaded unconditionally) + the 5 r8-gated
# remainders + the oldest r9-gated cohort.
_R12_FRONT = [
    "bpe_compression",  # last gated NEVER — front-loaded
    "bpe_token_counts_stream",  # last gated NEVER — front-loaded
    "chunk_packing_bpe",  # last gated NEVER — front-loaded
    "request_cost_bpe",  # last gated NEVER — front-loaded
    "supplier_balance",  # last gated r8
    "training_order",  # last gated r8
    "user_stats_stream",  # last gated r8
    "vertex_requests",  # last gated r8
    "winnow_pairs",  # last gated r8
    "bigram_followers",  # last gated r9
    "daily_activity_full_outer",  # last gated r9
    "distinct_buyers_daily",  # last gated r9
    "embedding_near_dup",  # last gated r9
    "embedding_topk_ivf",  # last gated r9
    "embedding_topk_ivf_trained",  # last gated r9
    "embedding_topk_lsh",  # last gated r9
    "embedding_topk_pandas",  # last gated r9
    "eval_decontamination",  # last gated r9
    "event_key_skew",  # last gated r9
    "events_asof",  # last gated r9
    "events_cube",  # last gated r9
    "events_daily_spine",  # last gated r9
    "events_hourly",  # last gated r9
    "events_hourly_stream",  # last gated r9
    "events_json_props",  # last gated r9
    "events_value_percentiles",  # last gated r9
    "hourly_value_change",  # last gated r9
    "image_features",  # last gated r9
    "incremental_near_dup",  # last gated r9
    "incremental_near_dup_stream",  # last gated r9
    "incremental_span_dup",  # last gated r9
    "lang_id_confusion",  # last gated r9
    "lang_source_rollup",  # last gated r9
    "lang_vocab",  # last gated r9
    "length_buckets",  # last gated r9
    "minhash_calibration",  # last gated r9
    "multimodal_requests",  # last gated r9
    "near_dup_method_agreement",  # last gated r9
    "ngram_jaccard",  # last gated r9
    "order_priority_returns",  # last gated r9
    "part_match_candidates",  # last gated r9
    "price_bracket_join",  # last gated r9
    "pricing_summary",  # last gated r9
    "quality_filter_funnel",  # last gated r9
    "regional_revenue",  # last gated r9
    "rrf_fusion",  # last gated r9
    "semdedup_survivors",  # last gated r9
    "source_quality",  # last gated r9
    "span_dedup_stats",  # last gated r9
    "split_leakage",  # last gated r9
]
if len(_R12_FRONT) != 50:
    raise ValueError(
        f"driver-gate window must be exactly 50 entries, got {len(_R12_FRONT)}"
    )
QUERIES = {
    **{k: QUERIES[k] for k in _R12_FRONT},
    **{k: v for k, v in QUERIES.items() if k not in set(_R12_FRONT)},
}

# Round-13 front (`python tools/rotation.py`): the 5 queries new this
# round (never gated, front-loaded unconditionally — the governed
# loaded-tokenizer loop, the token-budgeted shard plan, the
# Bloom-prefiltered decontamination, and the global + per-language
# Misra-Gries heavy hitters) + the 9 r9-gated remainders + the
# oldest r10-gated cohort
# (the window the r12 verdict prescribed, re-spliced after the two
# sketch queries landed).
_R13_FRONT = [
    "batch_shards_tokens",  # last gated NEVER — front-loaded
    "bpe_loaded_tokenizer",  # last gated NEVER — front-loaded
    "decontaminate_bloom",  # last gated NEVER — front-loaded
    "heavy_hitter_tokens",  # last gated NEVER — front-loaded
    "lang_heavy_hitters",  # last gated NEVER — front-loaded
    "temperature_mixture",  # last gated r9
    "term_frequencies",  # last gated r9
    "token_fertility",  # last gated r9
    "top_customers_per_nation",  # last gated r9
    "user_sessions",  # last gated r9
    "value_histogram_quantiles",  # last gated r9
    "vertex_responses",  # last gated r9
    "vocab_oov_rate",  # last gated r9
    "word_bigrams",  # last gated r9
    "above_avg_balance",  # last gated r10
    "balance_quartiles",  # last gated r10
    "chunk_packing",  # last gated r10
    "click_purchase_stream",  # last gated r10
    "daily_new_users",  # last gated r10
    "decontaminate",  # last gated r10
    "doc_attr_map",  # last gated r10
    "doc_chunks",  # last gated r10
    "doc_repetition",  # last gated r10
    "doc_sample",  # last gated r10
    "doc_word_filters",  # last gated r10
    "embedding_centroids",  # last gated r10
    "embedding_dedup_survivors",  # last gated r10
    "embedding_quantization",  # last gated r10
    "embedding_topk_int8",  # last gated r10
    "events_asof_forward",  # last gated r10
    "events_daily_rollup",  # last gated r10
    "events_dedup_stream",  # last gated r10
    "events_rolling",  # last gated r10
    "events_sliding",  # last gated r10
    "events_sliding_stream",  # last gated r10
    "incremental_embedding_near_dup",  # last gated r10
    "incremental_embedding_stream",  # last gated r10
    "kmeans_assign_agreement",  # last gated r10
    "kmeans_cells",  # last gated r10
    "lang_distinct_sketch",  # last gated r10
    "lone_return_suppliers",  # last gated r10
    "market_share",  # last gated r10
    "min_cost_supplier",  # last gated r10
    "nation_revenue_pareto",  # last gated r10
    "nation_trade",  # last gated r10
    "part_match_blocking_recall",  # last gated r10
    "part_match_multikey",  # last gated r10
    "pii_redaction",  # last gated r10
    "price_moments",  # last gated r10
    "quality_unpivot",  # last gated r10
]
if len(_R13_FRONT) != 50:
    raise ValueError(
        f"driver-gate window must be exactly 50 entries, got {len(_R13_FRONT)}"
    )
QUERIES = {
    **{k: QUERIES[k] for k in _R13_FRONT},
    **{k: v for k, v in QUERIES.items() if k not in set(_R13_FRONT)},
}


def shared_stage_queries() -> dict[str, list[str]]:
    """``{query_name: [shared-stage helpers its source calls]}``.

    A query whose plan CONSUMES a session-shared stage digests an
    InMemoryRelation (or a checkpointed leaf) once the stage is warm,
    so its bench plan digest depends on run order within the session.
    bench.py stamps such entries ("shared_stages" + "cache_bypassed",
    r8 verdict item 5) so a reader of BENCH_PLANS.json knows a
    full-pipeline digest is the COLD capture of a stage the timing
    itself read warm, not a regression.

    Derived by source introspection: a helper is a non-query function
    of this module that calls ``_shared`` or another helper, so a new
    stage never needs a hand-maintained list."""
    import inspect
    import re

    queries = set(QUERIES.values())
    srcs = {
        name: inspect.getsource(fn)
        for name, fn in globals().items()
        if inspect.isfunction(fn)
        and fn.__module__ == __name__
        and fn not in queries
        and name != "_shared"
    }
    helpers: list[str] = []
    callees = ["_shared"]
    while callees:
        call = re.compile(r"\b(?:%s)\(" % "|".join(callees))
        callees = [
            name
            for name, src in srcs.items()
            if name not in helpers and call.search(src)
        ]
        helpers += callees
    out: dict[str, list[str]] = {}
    for name, fn in QUERIES.items():
        try:
            src = inspect.getsource(fn)
        except (OSError, TypeError):  # pragma: no cover - builtins only
            continue
        used = [h for h in helpers if h in src]
        if used:
            out[name] = used
    return out
