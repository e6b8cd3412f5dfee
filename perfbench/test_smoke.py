"""Smoke test of the benchmark at tiny input sizes.

Runs each workload once untraced and once traced with ``--size tiny``
and checks that every metric named in ``BENCHMARK.json`` (and in
README.md's tables) is printed with its unit, that the correctness gates
pass, that no process it started outlives it, and that the benchmark refuses
to run without the package.

    python3 -m pytest perfbench/test_smoke.py -q      # about 8 minutes
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import tempfile

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))

# the metrics README.md documents; BENCHMARK.json must name each of them
NAMED_END_TO_END = {"setup_s", "run_s", "rows_per_s"}
NAMED_LAYER = {
    "sources.rest.scan_s", "sources.rest.partitions", "sources.rest.retries",
    "sources.rest.backoff_wait_s", "sources.rest.requests",
    "sources.rest.pages", "sources.rest.requests_per_page",
    "sources.rest.login_s", "sources.rest.get_json_s",
    "plans.report.alert_s", "sinks.stage_s", "sinks.publish_s",
    "sinks.files_written", "sinks.bytes_written",
    "operators.text.quality_features_s", "operators.text.contamination_hits_s",
    "operators.dedup.ngram_jaccard_pairs_s",
    "operators.dedup.dedup_clusters_auto_s", "plans.corpus.corpus_clean_v2_s",
    "operators.text.temperature_sample_s", "operators.text.pack_sequences_s",
    "sinks.write_training_shards_s", "plans.corpus.docs_in",
    "plans.corpus.quality_pass", "plans.corpus.survivors",
    "plans.corpus.keep_ratio", "plans.corpus.bins", "operators.dedup.pairs",
    "cache.persisted_frames", "spark.jobs", "spark.stages", "spark.tasks",
    "spark.shuffle_bytes", "spark.spill_bytes", "session.get_spark_s",
    "process.peak_rss_mb",
} | {f"query.{k}.s" for k in (
    "plan-alert-report", "tpch-q5", "dedup-minhash-md5", "sim-ivf-topk",
    "plan-rag-context", "op-pagerank", "stream-funnel", "op-bpe-encode-arrow")}


def run(cwd: str, workload: str, trace: int) -> tuple[int, str, int]:
    """Run the benchmark in a session of its own; returns the exit code,
    stdout and the session id."""
    with subprocess.Popen(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", "3", "--seconds", "1", "--trace", str(trace),
             "--size", "tiny"],
            cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
            text=True, start_new_session=True) as p:
        out, _ = p.communicate(timeout=600)
    return p.returncode, out, p.pid


def session_members(sid: int) -> list[int]:
    """Processes still in session ``sid``, zombies included."""
    out = []
    for e in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{e}/stat") as f:
                session = int(f.read().rsplit(")", 1)[1].split()[3])
        except OSError:
            continue
        if session == sid:
            out.append(int(e))
    return out


def test_spec_names_every_metric():
    e2e = {m["name"] for m in SPEC["end_to_end"]}
    layer = {m["name"] for m in SPEC["per_layer"]}
    assert NAMED_END_TO_END <= e2e
    assert NAMED_LAYER <= layer
    assert any(m["name"] == "setup_s" and m["unit"] == "s" for m in SPEC["end_to_end"])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_prints_every_metric(workload, trace):
    code, out, sid = run(ROOT, workload, trace)
    # the JVM, the alert API and the Python workers have all ended
    assert session_members(sid) == []
    result = json.loads(out.strip().splitlines()[-1])
    assert code == 0, out
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    for name, m in result["metrics"].items():
        assert isinstance(m["value"], float), name
    if not trace:
        assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_package():
    scratch = os.path.join(HERE, ".work")
    os.makedirs(scratch, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=scratch) as d:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), d)
        shutil.copytree(HERE, os.path.join(d, "perfbench"),
                        ignore=shutil.ignore_patterns(".work", "__pycache__"))
        code, out, _ = run(d, SPEC["workloads"][0]["name"], 0)
    assert code != 0
    assert '"metrics"' not in out
