"""The benchmark's workloads, driven only through public entry points.

Each workload generates its inputs from the seed (``generate``), runs one
unit of work per ``op`` call, checks an op's collected outputs outside the
timed region (``check``), and, in traced mode, installs its span wrappers
(``patches``) and turns an op's spans and counters into per-layer metrics
(``layers``).

* ``classify_bulk`` — ``assign_ids`` then one large
  ``OpenAIBatchPipeline.run(dedupe_prompts=True)`` over
  ``LocalMockBackend``, then one small job (dedupe off, several shards)
  through ``OpenAIBatchBackend`` against the loopback fake provider.
* ``stream_ingest`` — index build/save/load, arrivals drained one file per
  micro-batch, compaction, index merge and the admission report; writes
  state and reads it back.
* ``curate_corpus`` — ``examples/run_curation_pipeline.main`` over a planted
  corpus, its four returned relations collected.
"""

from __future__ import annotations

import contextlib
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

import gen

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _wrong_rows(rows_idx_text, reps, results, errors) -> int:
    """Rows lost, duplicated, wrong, or with the wrong error fate.

    ``rows_idx_text``: idx -> input text. ``reps``: idx -> the idx whose
    request was submitted for it (itself without dedupe). ``results``:
    (idx, answer) pairs; ``errors``: custom_ids of the error relation.
    Expected values come from ``MockInferenceClient`` on the prompt the
    request builder's template produces."""
    from genai_batch_processor_spark.inference.mock import DEFAULT_LABELS, MockInferenceClient
    from genai_batch_processor_spark.operators.requests import CLASSIFY_TEMPLATE

    client = MockInferenceClient()
    labels = ", ".join(DEFAULT_LABELS)
    seen: dict[int, str | None] = {}
    bad = 0
    for idx, answer in results:
        bad += idx in seen
        seen[idx] = answer
    for cid in errors:
        idx = int(cid.split("-")[1])
        bad += idx in seen
        seen[idx] = None
    for idx, text in rows_idx_text.items():
        if idx not in seen:
            bad += 1
            continue
        rep = reps[idx]
        want = client.complete(f"request-{rep}", CLASSIFY_TEMPLATE % (labels, text))
        if want["error"] is not None:
            bad += seen[idx] is not None
        else:
            content = want["response"]["body"]["choices"][0]["message"]["content"]
            bad += seen[idx] != json.loads(content)["answer"]
    bad += len(set(seen) - set(rows_idx_text))
    return bad


def _consume(results, errors, tracer=None):
    """Collect (idx, answer) from results and custom_ids from errors —
    the last result rows a caller consumes."""
    from pyspark.sql import functions as F

    from genai_batch_processor_spark.operators import responses

    res = results.select(
        "idx", responses.extract_answer(responses.extract_content(F.col("resp"))).alias("answer")
    )
    err = errors.select(F.col("resp.custom_id").alias("cid"))
    if tracer is None:
        return list(res.toPandas().itertuples(index=False, name=None)), err.toPandas()["cid"].tolist()
    import tracing as tr

    with tracer.span("responses.consume"):
        r = list(res.toPandas().itertuples(index=False, name=None))
        e = err.toPandas()["cid"].tolist()
    tracer.count("spark.catalyst_s", tr.catalyst_s(res) + tr.catalyst_s(err))
    tracer.count("responses.result_rows", len(r))
    tracer.count("responses.error_rows", len(e))
    return r, e


def _dir_files(path: str) -> tuple[int, int]:
    """(data files, bytes) under ``path``, skipping ``_``/``.`` names
    (markers, checksums, in-flight temp files)."""
    n = size = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if not f.startswith((".", "_")):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


class Workload:
    """Interface shared by the workloads; see the module docstring."""

    name = ""

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.tracer = None

    def start(self, spark) -> None:
        """Per-session resources; called in every set-up."""

    def stop(self) -> None:
        """Release what ``start`` acquired."""

    def generate(self, inputs_dir: str) -> None:
        raise NotImplementedError

    def warmup(self, spark) -> dict:
        """One op on the warm-up input (the same shape, smaller), so the
        measured ops run on a warm JVM and warm Python workers. Its
        outputs are checked like any op's."""
        out = self.op(spark, warm=True)
        self.after_op(spark)
        return out

    def op(self, spark, warm: bool = False) -> dict:
        """One unit of work on the full input (the warm-up input with
        ``warm``); returns what ``check`` and ``layers`` need, with
        ``rows`` the input rows it completed."""
        raise NotImplementedError

    def batch_seconds(self, out: dict, job_seconds: list[float]) -> list[float]:
        """Per-batch latencies of an op: its Spark jobs by default."""
        return job_seconds

    def after_op(self, spark) -> None:
        """Reset state an op leaves in the session (outside the timing)."""

    def check(self, out: dict) -> tuple[int, int]:
        """(attempted, failed) for one op's outputs."""
        raise NotImplementedError

    def finish_checks(self, outs: list[dict]) -> tuple[int, int]:
        """Checks across ops; (attempted, failed)."""
        return 0, 0

    def summary(self, outs: list[dict]) -> dict:
        """Extra per-op figures for the summary line (untraced ops)."""
        return {}

    def patches(self, tracer) -> None:
        raise NotImplementedError

    def layers(self, tracer, op_id: int, out: dict) -> dict[str, float]:
        return {}

    def _span(self, name: str):
        """A span in traced mode, else nothing."""
        return self.tracer.span(name) if self.tracer is not None else contextlib.nullcontext()

    def _scratch(self, tag: str) -> str:
        path = os.path.join(self.work, "ops", f"{tag}-{time.monotonic_ns()}")
        os.makedirs(path)
        return path


# -- classify ---------------------------------------------------------------


class ClassifyBulk(Workload):
    """One large dedupe run over ``LocalMockBackend`` (the data plane),
    then one small job through ``OpenAIBatchBackend`` against the
    loopback fake provider (the provider wire; started per session as
    its own process)."""

    name = "classify_bulk"
    ROWS = 20_000
    WIRE_ROWS = 800
    WIRE_SHARDS = 4
    WARM_DIV = 10
    POLL_S = 0.05

    def generate(self, inputs_dir: str) -> None:
        self.full = self._write(os.path.join(inputs_dir, "full"), self.ROWS)
        self.warm = self._write(os.path.join(inputs_dir, "warm"), self.ROWS // self.WARM_DIV)

    def _write(self, root: str, rows: int) -> dict:
        """The bulk and wire inputs, with idx -> text for each (assign_ids
        numbers the rows in text order)."""
        out = {"bulk": os.path.join(root, "bulk"), "wire": os.path.join(root, "wire")}
        out["bulk_texts"] = dict(enumerate(sorted(gen.write_classify(self.seed, rows, out["bulk"], files=4))))
        wire = gen.write_classify(self.seed + 1, self.WIRE_ROWS, out["wire"], files=1)
        out["wire_texts"] = dict(enumerate(sorted(wire)))
        return out

    def start(self, spark) -> None:
        self.log_path = os.path.join(self.work, f"provider-{time.monotonic_ns()}.jsonl")
        self.provider = subprocess.Popen(
            [sys.executable, os.path.join(ROOT, "perfbench", "fakeprovider.py"),
             "--seed", str(self.seed), "--log", self.log_path],
            stdout=subprocess.PIPE, text=True,
        )
        self.port = int(self.provider.stdout.readline())

    def stop(self) -> None:
        if getattr(self, "provider", None) is not None:
            self.provider.terminate()
            self.provider.wait(timeout=30)
            self.provider.stdout.close()
            self.provider = None

    def _job(self, spark, path: str, backend, dedupe: bool, shards: int | None = None) -> dict:
        """assign_ids, one pipeline run, both relations consumed. With
        ``shards``, the requests are built and written as that many JSONL
        shards first and the run takes them as its ``input_path`` (the
        pipeline's own sink writes one shard per partition, and a small
        job has one partition)."""
        from genai_batch_processor_spark.functions import ids
        from genai_batch_processor_spark.plans.pipeline import OpenAIBatchPipeline
        from genai_batch_processor_spark.sources import jsonl

        work = self._scratch("job")
        t0 = time.time()
        df = spark.read.parquet(path)
        if self.tracer is not None:
            import tracing as tr

            with self.tracer.span("ids.assign_ids"):
                df = ids.assign_ids(df, "text")
                self.tracer.materialize(df)
            backend = tr.BackendProxy(backend, self.tracer)
        else:
            df = ids.assign_ids(df, "text")
        pipe = OpenAIBatchPipeline(spark, backend=backend, work_dir=work)
        input_path = None
        if shards is not None:
            input_path = os.path.join(work, "prebuilt")
            jsonl.write_jsonl(pipe.build_requests(df).select("request.*"), input_path, num_shards=shards)
        results, errors = pipe.run(df, dedupe_prompts=dedupe, input_path=input_path,
                                   poll_interval_seconds=self.POLL_S)
        res, err = _consume(results, errors, self.tracer)
        return {"results": res, "errors": err, "metrics": dict(pipe.last_metrics), "work": work,
                "window": (t0, time.time()), "proxy": backend if self.tracer else None}

    def op(self, spark, warm: bool = False) -> dict:
        from genai_batch_processor_spark.inference.orchestrator import LocalMockBackend
        from genai_batch_processor_spark.inference.providers import OpenAIBatchBackend

        inp = self.warm if warm else self.full
        bulk = self._job(spark, inp["bulk"], LocalMockBackend(spark), dedupe=True)
        wire_backend = OpenAIBatchBackend(api_key="bench", base_url=f"http://127.0.0.1:{self.port}/v1")
        wire = self._job(spark, inp["wire"], wire_backend, dedupe=False, shards=self.WIRE_SHARDS)
        return {"bulk": bulk, "wire": wire, "inp": inp, "rows": len(inp["bulk_texts"]) + len(inp["wire_texts"]),
                "bulk_s": bulk["window"][1] - bulk["window"][0], "wire_s": wire["window"][1] - wire["window"][0]}

    def summary(self, outs: list[dict]) -> dict:
        return {"bulk_s": [o["bulk_s"] for o in outs], "wire_s": [o["wire_s"] for o in outs]}

    def check(self, out: dict) -> tuple[int, int]:
        texts, wire_texts = out["inp"]["bulk_texts"], out["inp"]["wire_texts"]
        first: dict[str, int] = {}
        for i, t in texts.items():
            first.setdefault(t, i)
        reps = {i: first[t] for i, t in texts.items()}
        bad = _wrong_rows(texts, reps, out["bulk"]["results"], out["bulk"]["errors"])
        wire_reps = {i: i for i in wire_texts}
        bad += _wrong_rows(wire_texts, wire_reps, out["wire"]["results"], out["wire"]["errors"])
        return len(texts) + len(wire_texts), bad

    def patches(self, tracer) -> None:
        from genai_batch_processor_spark.inference import orchestrator
        from genai_batch_processor_spark.operators import batching, joinback, requests
        from genai_batch_processor_spark.plans import pipeline
        from genai_batch_processor_spark.sources import jsonl

        tracer.patch(pipeline.BatchPipeline, "run", "pipeline.run")
        tracer.patch(requests, "build_openai_requests", "requests.build", materialize=True)
        tracer.patch(batching, "prompt_groups", "batching.dedupe", materialize=True)
        tracer.patch(batching, "representatives", "batching.dedupe", materialize=True)
        tracer.patch(jsonl, "write_jsonl", "jsonl.write")
        tracer.patch(jsonl, "read_jsonl", "jsonl.read", materialize=True)
        tracer.patch(orchestrator, "run_job", "orchestrator.run_job")
        tracer.patch(orchestrator, "fetch_results_spark", "providers.fetch_stage")
        tracer.patch(orchestrator.JobManifest, "save", "orchestrator.manifest_write")
        tracer.patch(joinback, "attach_results", "joinback.assemble", materialize=True)

    def layers(self, tracer, op_id: int, out: dict) -> dict[str, float]:
        """Data-plane layers from the bulk job, orchestration and
        provider layers from the wire job, ids and pipeline from both."""
        from fakeprovider import ROUTES

        bulk, wire = out["bulk"], out["wire"]
        c = tracer.counts[op_id]
        total = lambda name, job=None: tracer.total_s(op_id, name, job and job["window"])  # noqa: E731
        spans = lambda name, job: tracer.op_spans(op_id, name, job["window"])  # noqa: E731
        m = bulk["metrics"]
        n_write, write_bytes = _dir_files(os.path.join(bulk["work"], "input"))
        lo, hi = wire["window"]
        with open(self.log_path) as f:
            log = [e for e in map(json.loads, f) if lo <= e["t"] <= hi]
        creates = [e["t"] for e in log if e["route"] == "batches_create"]
        sub = wire["proxy"].submit_window
        return {
            "ids.assign_ids_s": total("ids.assign_ids"),
            "pipeline.self_s": tracer.layer_self_s(op_id).get("pipeline.run", 0.0),
            "requests.build_s": total("requests.build"),
            "batching.dedupe_s": total("batching.dedupe", bulk),
            "batching.rows_in": m["n_input_rows"],
            "batching.rows_submitted": m["n_submitted"],
            "batching.submit_ratio": m["n_submitted"] / m["n_input_rows"],
            "jsonl.write_s": total("jsonl.write", bulk),
            "jsonl.write_bytes": write_bytes,
            "jsonl.shards": n_write,
            "jsonl.read_s": total("jsonl.read", bulk),
            "jsonl.corrupt_rows": sum(s["rows_out"][1] for s in spans("jsonl.read", bulk) if len(s["rows_out"]) > 1),
            "orchestrator.backend_submit_s": total("orchestrator.backend_submit", bulk),
            "orchestrator.run_job_s": total("orchestrator.run_job", wire),
            "orchestrator.polls": wire["proxy"].polls,
            "orchestrator.poll_wait_s": wire["proxy"].poll_wait_s(),
            "orchestrator.manifest_writes": len(spans("orchestrator.manifest_write", wire)),
            **{f"providers.requests_{r}": sum(e["route"] == r for e in log) for r in ROUTES},
            "providers.upload_bytes": sum(e["req_bytes"] for e in log if e["route"] == "files_create"),
            "providers.download_bytes": sum(e["resp_bytes"] for e in log if e["route"] == "file_content"),
            "providers.retries": sum(e["fault"] for e in log),
            "providers.upload_stage_s": (min(creates) - sub[0]) if creates and sub else 0.0,
            "providers.create_s": (sub[1] - min(creates)) if creates and sub else 0.0,
            "providers.fetch_stage_s": total("providers.fetch_stage", wire),
            "providers.server_busy_s": sum(e["handle_s"] for e in log),
            "joinback.assemble_s": total("joinback.assemble", bulk),
            "responses.result_rows": c.get("responses.result_rows", 0.0),
            "responses.error_rows": c.get("responses.error_rows", 0.0),
        }


# -- curate -----------------------------------------------------------------


# the curation operators the example composes, one span each
CURATE_SPANS = (
    "tables.load_table", "dedup.near_dup_pairs", "dedup.connected_components", "dedup.dedup_survivors",
    "dedup.connected_components_star", "dedup.contamination_hits", "similarity.embedding_near_dup_pairs",
    "curation.span_dup_stats", "curation.dsir_weights", "sampling.temperature_weights",
    "chunking.chunk_documents", "batching.training_order",
)
# rows into and out of the curation stages, from CurateCorpus.layers
CURATE_COUNTS = (
    "dedup.pairs", "similarity.pairs", "dedup.contamination_hits", "dedup.survivors", "curation.rows_in",
    "curation.dropped_dedup", "curation.dropped_gate_and_decontam", "curation.dropped_gate_quality",
    "curation.dropped_gate_len_band", "sampling.dropped", "chunking.chunks",
)


class CurateCorpus(Workload):
    name = "curate_corpus"
    DOCS = 400
    WARM_DIV = 4

    def generate(self, inputs_dir: str) -> None:
        self.full, self.warm = (
            {"sf_dir": d, "docs": n, "truth": gen.write_curation(self.seed, n, d)}
            for d, n in ((os.path.join(inputs_dir, "full"), self.DOCS),
                         (os.path.join(inputs_dir, "warm"), self.DOCS // self.WARM_DIV))
        )

    def _main(self):
        sys.path.insert(0, os.path.join(ROOT, "examples"))
        import run_curation_pipeline

        return run_curation_pipeline

    def op(self, spark, warm: bool = False) -> dict:
        inp = self.warm if warm else self.full
        deduped, clean, mixed, ordered = self._main().main(spark, inp["sf_dir"])
        with self._span("curation.consume"):
            out = {
                "deduped": sorted(r[0] for r in deduped.select("doc_id").collect()),
                "clean": sorted(r[0] for r in clean.select("doc_id").collect()),
                "mixed": sorted(r[0] for r in mixed.select("doc_id").collect()),
                "ordered": sorted(ordered.select("chunk_key", "shard", "pos").collect()),
                "inp": inp,
                "rows": inp["docs"],
            }
        if self.tracer is not None:
            import tracing as tr

            self.tracer.count("spark.catalyst_s", sum(tr.catalyst_s(d) for d in (deduped, clean, mixed)))
            self._funnel(deduped)
        return out

    def _funnel(self, deduped) -> None:
        """Rows each stage-2 gate rule drops, through the public funnel
        report the example script prints (outside the timed op)."""
        from pyspark.sql import functions as F

        from genai_batch_processor_spark.functions import text as tx
        from genai_batch_processor_spark.operators import curation

        mod = self._main()
        report = curation.filter_funnel(
            deduped.select(tx.quality_score("text").alias("quality"), tx.word_count("text").alias("n_words")),
            [("quality", F.col("quality") >= mod.MIN_QUALITY), ("len_band", F.col("n_words").between(*mod.LEN_BAND))],
        ).collect()
        passed = {r["stage"]: r["n_pass"] for r in report}
        for r in report:
            if r["stage"] > 0:
                self.tracer.count(f"curation.gate_dropped_{r['rule']}", passed[r["stage"] - 1] - r["n_pass"])

    def after_op(self, spark) -> None:
        # the example persists its shared stages; a later op must not
        # find them cached
        spark.catalog.clearCache()

    def check(self, out: dict) -> tuple[int, int]:
        t = out["inp"]["truth"]
        deduped, clean, mixed = set(out["deduped"]), set(out["clean"]), set(out["mixed"])
        checks: list[bool] = []
        for members in t["clusters"]:
            kept = [d for d in members if d in deduped]
            checks.append(kept == [min(members)])
        for group in t["boilerplate"]:
            checks.append(not any(d in deduped for d in group))
        for a, b in t["twins"]:
            checks.append((a in deduped) and (b not in deduped))
        for d in t["probe"] + t["contaminants"]:
            checks.append(d in deduped and d not in clean)
        for d in t["low_quality"] + t["short"]:
            checks.append(d in deduped and d not in clean)
        planted = {d for g in t["clusters"] for d in g[1:]} | {d for g in t["boilerplate"] for d in g}
        planted |= {b for _a, b in t["twins"]} | set(t["probe"] + t["contaminants"] + t["low_quality"] + t["short"])
        checks.append(clean == set(range(out["inp"]["docs"])) - planted)
        checks.append(bool(mixed) and mixed <= clean)
        slots = {(r[1], r[2]) for r in out["ordered"]}
        checks.append(len(slots) == len(out["ordered"]) >= len(mixed))
        out["digest"] = hashlib.sha256(json.dumps([out["deduped"], out["clean"], out["mixed"],
                                                   [list(r) for r in out["ordered"]]]).encode()).hexdigest()
        return len(checks), checks.count(False)

    def finish_checks(self, outs: list[dict]) -> tuple[int, int]:
        """Same seed, same output digest: every measured op of the run
        must agree."""
        digests = [o["digest"] for o in outs if "digest" in o and o["inp"] is self.full]
        return len(digests), sum(d != digests[0] for d in digests)

    def patches(self, tracer) -> None:
        from genai_batch_processor_spark.operators import batching, chunking, curation, dedup, sampling, similarity

        mod = self._main()
        tracer.patch(mod, "load_table", "tables.load_table", materialize=True)
        modules = {"dedup": dedup, "similarity": similarity, "curation": curation, "sampling": sampling,
                   "chunking": chunking, "batching": batching}
        for name in CURATE_SPANS:
            mod_name, fn = name.split(".")
            if mod_name in modules:
                tracer.patch(modules[mod_name], fn, name, materialize=True)

    def layers(self, tracer, op_id: int, out: dict) -> dict[str, float]:
        c = tracer.counts[op_id]
        m = {f"{name}_s": tracer.total_s(op_id, name) for name in CURATE_SPANS}
        rows = lambda name: c.get(f"{name}.rows_out", 0.0)  # noqa: E731
        n = out["inp"]["docs"]
        m.update({
            "dedup.pairs": rows("dedup.near_dup_pairs"),
            "similarity.pairs": rows("similarity.embedding_near_dup_pairs"),
            "dedup.contamination_hits": rows("dedup.contamination_hits"),
            "dedup.survivors": len(out["deduped"]),
            "curation.rows_in": n,
            "curation.dropped_dedup": n - len(out["deduped"]),
            "curation.dropped_gate_and_decontam": len(out["deduped"]) - len(out["clean"]),
            "curation.dropped_gate_quality": c.get("curation.gate_dropped_quality", 0.0),
            "curation.dropped_gate_len_band": c.get("curation.gate_dropped_len_band", 0.0),
            "sampling.dropped": len(out["clean"]) - len(out["mixed"]),
            "chunking.chunks": rows("chunking.chunk_documents"),
        })
        return m


# -- stream -----------------------------------------------------------------


def _batch_listener():
    """A StreamingQueryListener collecting micro-batch progress (query id,
    batch id, input rows, trigger seconds) and query terminations."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def __init__(self):
            self.batches: list[tuple[str, int, int, float]] = []
            self.terminated: list[str] = []

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self.batches.append((str(p.id), p.batchId, p.numInputRows, p.durationMs.get("triggerExecution", 0) / 1000.0))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            self.terminated.append(str(event.id))

    return Listener()


class StreamIngest(Workload):
    name = "stream_ingest"
    CORPUS = 200
    WAVES = (2, 1)
    WARM_WAVES = (1, 1)
    ROWS_PER_FILE = 6
    WARM_DIV = 4

    def generate(self, inputs_dir: str) -> None:
        self.full, self.warm = (
            gen.write_stream(self.seed, n, waves, self.ROWS_PER_FILE, os.path.join(inputs_dir, tag))
            for tag, n, waves in (("full", self.CORPUS, self.WAVES),
                                  ("warm", self.CORPUS // self.WARM_DIV, self.WARM_WAVES))
        )

    def start(self, spark) -> None:
        self.listener = _batch_listener()
        spark.streams.addListener(self.listener)

    def op(self, spark, warm: bool = False) -> dict:
        from pyspark.sql import functions as F

        from genai_batch_processor_spark.operators import dedup
        from genai_batch_processor_spark.sources import compaction, index_store
        from genai_batch_processor_spark.streaming import ingest

        work = self._scratch("stream")
        index_path, arrivals = os.path.join(work, "index"), os.path.join(work, "arrivals")
        ckpt, out_dir = os.path.join(work, "ckpt"), os.path.join(work, "probe_out")
        os.makedirs(arrivals)
        inp = self.warm if warm else self.full
        n_queries = len(self.listener.terminated)
        counts: dict[str, float] = {}
        tracer = self.tracer

        def land(files: list[str]) -> None:
            # atomic arrival: a file source must never list a half-written file
            with self._span("stream.land"):
                for f in files:
                    tmp = os.path.join(arrivals, "." + os.path.basename(f))
                    shutil.copyfile(f, tmp)
                    os.replace(tmp, os.path.join(arrivals, os.path.basename(f)))

        def drain() -> None:
            stream = (spark.readStream.schema("doc_id long, text string")
                      .option("maxFilesPerTrigger", 1).parquet(arrivals))
            ingest.near_dup_probe_stream_to_parquet(stream, index, "doc_id", "text", out_dir, ckpt)

        def maintain() -> None:
            for root in ("pairs", "index"):
                path = os.path.join(out_dir, root)
                if tracer is not None:
                    counts["compaction.files_before"] = counts.get("compaction.files_before", 0) + _dir_files(path)[0]
                compaction.compact_epoch_sink(spark, path)
                compaction.gc_epoch_sink(spark, path)
                if tracer is not None:
                    counts["compaction.files_after"] = counts.get("compaction.files_after", 0) + _dir_files(path)[0]
                    counts["compaction.bytes_rewritten"] = counts.get("compaction.bytes_rewritten", 0) + (
                        _dir_files(os.path.join(path, "_compacted"))[1])

        docs = spark.read.parquet(inp["corpus"])
        index_store.save_minhash_index(dedup.minhash_index(docs, "doc_id", "text"), index_path)
        index = index_store.load_minhash_index(spark, index_path).persist()
        try:
            land(inp["waves"][0])
            drain()
            maintain()
            land(inp["waves"][1])
            drain()
            pairs = compaction.read_epoch_sink(spark, os.path.join(out_dir, "pairs"))
            arrived = spark.read.parquet(arrivals)
            hits = (pairs.withColumn("new_id", F.greatest("id_a", "id_b"))
                    .groupBy("new_id").agg(F.max("jaccard").alias("best_jaccard")))
            report = arrived.join(hits, arrived.doc_id == hits.new_id, "left").select(
                "doc_id", (F.coalesce("best_jaccard", F.lit(0.0)) < 0.9).alias("admit"))
            with self._span("stream.report"):
                admitted = {r[0]: r[1] for r in report.collect()}
            if tracer is not None:
                with self._span("trace.counters"):
                    counts["streaming.pairs_found"] = pairs.count()
            index_store.merge_minhash_index(spark, index_path, os.path.join(out_dir, "index"))
            index.unpersist()
            index = index_store.load_minhash_index(spark, index_path).persist()
            land(inp["waves"][2])
            drain()
            pairs3 = compaction.read_epoch_sink(spark, os.path.join(out_dir, "pairs"))
            pid, of = inp["post_merge_id"], inp["post_merge_of"]
            with self._span("stream.report"):
                post_hits = pairs3.filter(
                    ((F.col("id_a") == pid) & (F.col("id_b") == of)) | ((F.col("id_a") == of) & (F.col("id_b") == pid))
                ).count()
        finally:
            index.unpersist()
        if tracer is not None:
            import tracing as tr

            loads = [s for s in tracer.op_spans(tracer.op) if s["name"] == "index_store.load"]
            counts["index_store.index_rows"] = loads[-1]["rows_out"][0]
            tracer.count("spark.catalyst_s", tr.catalyst_s(report))
        return {"admitted": admitted, "post_hits": post_hits, "queries_before": n_queries, "counts": counts,
                "inp": inp, "rows": len(inp["planted"]) + len(inp["novel"]) + 1}

    def micro_batches(self, out: dict, timeout_s: float = 30.0) -> list[tuple]:
        """Progress of the op's non-empty micro-batches, once its three
        drains have all reported."""
        deadline = time.monotonic() + timeout_s
        want = out["queries_before"] + 3
        while len(self.listener.terminated) < want and time.monotonic() < deadline:
            time.sleep(0.05)
        ids = set(self.listener.terminated[out["queries_before"]:want])
        return [b for b in self.listener.batches if b[0] in ids and b[2] > 0]

    def batch_seconds(self, out: dict, job_seconds: list[float]) -> list[float]:
        return [b[3] for b in self.micro_batches(out)]

    def check(self, out: dict) -> tuple[int, int]:
        inp = out["inp"]
        adm = out["admitted"]
        bad = sum(adm.get(d) is not False for d in inp["planted"])
        bad += sum(adm.get(d) is not True for d in inp["novel"])
        bad += out["post_hits"] < 1
        return len(inp["planted"]) + len(inp["novel"]) + 1, bad

    def patches(self, tracer) -> None:
        from genai_batch_processor_spark.operators import dedup
        from genai_batch_processor_spark.sources import compaction, index_store
        from genai_batch_processor_spark.streaming import ingest

        tracer.patch(dedup, "minhash_index", "dedup.minhash_index")
        tracer.patch(index_store, "save_minhash_index", "index_store.save")
        tracer.patch(index_store, "load_minhash_index", "index_store.load", materialize=True)
        tracer.patch(index_store, "merge_minhash_index", "index_store.merge")
        tracer.patch(ingest, "near_dup_probe_stream_to_parquet", "streaming.drain", tag_jobs=False)
        tracer.patch(compaction, "compact_epoch_sink", "compaction.compact")
        tracer.patch(compaction, "gc_epoch_sink", "compaction.gc")
        tracer.patch(compaction, "read_epoch_sink", "compaction.read_sink")

    def layers(self, tracer, op_id: int, out: dict) -> dict[str, float]:
        total = lambda name: tracer.total_s(op_id, name)  # noqa: E731
        batches = self.micro_batches(out)
        c = out["counts"]
        return {
            "streaming.batches": len(batches),
            "streaming.batch_rows": sum(b[2] for b in batches),
            "streaming.trigger_s": sum(b[3] for b in batches),
            "streaming.drain_s": total("streaming.drain"),
            "streaming.pairs_found": c.get("streaming.pairs_found") or 0,
            "index_store.save_s": total("index_store.save"),
            "index_store.load_s": total("index_store.load"),
            "index_store.merge_s": total("index_store.merge"),
            "index_store.index_rows": c.get("index_store.index_rows", 0),
            "compaction.compact_s": total("compaction.compact"),
            "compaction.gc_s": total("compaction.gc"),
            "compaction.files_before": c.get("compaction.files_before", 0),
            "compaction.files_after": c.get("compaction.files_after", 0),
            "compaction.bytes_rewritten": c.get("compaction.bytes_rewritten", 0),
        }


WORKLOADS = {w.name: w for w in (ClassifyBulk, CurateCorpus, StreamIngest)}
