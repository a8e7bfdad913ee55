"""OpenAIBatchBackend completes a job against the fake provider, 429s included."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)

from genai_batch_processor_spark.inference import orchestrator  # noqa: E402
from genai_batch_processor_spark.inference.mock import MockInferenceClient  # noqa: E402
from genai_batch_processor_spark.inference.providers import OpenAIBatchBackend, RetryPolicy  # noqa: E402


# The fault schedule is a function of the seed and the requests alone;
# at this seed this job's requests draw at least one 429.
FAULTING_SEED = 1


def _request(i: int) -> dict:
    return {
        "custom_id": f"request-{i}",
        "method": "POST",
        "url": "/v1/chat/completions",
        "body": {"model": "m", "messages": [{"role": "user", "content": [{"type": "text", "text": f"prompt {i}"}]}]},
    }


def test_backend_completes_job_through_429s(tmp_path):
    shards = tmp_path / "input"
    shards.mkdir()
    for s in range(3):
        lines = [json.dumps(_request(s * 10 + i)) for i in range(10)]
        (shards / f"part-{s:05d}.jsonl").write_text("\n".join(lines) + "\n")
    log = tmp_path / "provider.jsonl"
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "fakeprovider.py"), "--seed", str(FAULTING_SEED), "--log", str(log)],
        stdout=subprocess.PIPE, text=True,
    )
    try:
        port = int(proc.stdout.readline())
        backend = OpenAIBatchBackend(
            api_key="test", base_url=f"http://127.0.0.1:{port}/v1",
            retry_policy=RetryPolicy(max_attempts=3),
        )
        job = orchestrator.run_job(
            backend, input_path=str(shards), output_path=str(tmp_path / "output"),
            manifest_dir=str(tmp_path / "manifests"), poll_interval_seconds=0.0,
        )
    finally:
        proc.terminate()
        proc.wait(timeout=30)
        proc.stdout.close()
    assert job.state == "completed" and len(job.batch_ids) == 3

    got = {}
    for path in glob.glob(str(tmp_path / "output" / "*.jsonl")):
        for line in open(path):
            if line.strip():
                row = json.loads(line)
                got[row["custom_id"]] = row
    client = MockInferenceClient()
    assert got == {f"request-{i}": client.complete(f"request-{i}", f"prompt {i}") for i in range(30)}

    entries = [json.loads(line) for line in open(log)]
    faults = [e for e in entries if e["fault"]]
    assert faults and all(e["status"] == 429 for e in faults)
    assert {e["route"] for e in entries} >= {"files_create", "batches_create", "batches_retrieve", "file_content"}
