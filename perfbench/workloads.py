"""The benchmark's workloads: inputs, one timed iteration, the
correctness gate, and the traced iteration.

Each workload drives the package only through its public functions,
with one client in a closed loop: ``iteration`` returns when the
published result is complete, and the next one starts after it.
"""

from __future__ import annotations

import csv
import glob
import json
import os
import random
import shutil
import subprocess
import sys
import threading
import time
import urllib.request
from datetime import date

import datagen
from alert_api import PASSWORD, USER, make_alerts, make_inventory

HERE = os.path.dirname(os.path.abspath(__file__))
RUN_DATE = date(2024, 2, 1)

QUERY_KEYS = ("plan-alert-report", "tpch-q5", "dedup-minhash-md5",
              "sim-ivf-topk", "plan-rag-context", "op-pagerank",
              "stream-funnel", "op-bpe-encode-arrow")

# input sizes: "full" is what the benchmark measures, "tiny" is for the
# smoke test
SIZES = {
    "full": {"alerts": 500, "docs": 150, "query_scale": 0.25, "query_docs": 300},
    "tiny": {"alerts": 250, "docs": 60, "query_scale": 0.05, "query_docs": 60},
}


def _files_and_bytes(root: str) -> tuple[int, int]:
    n = size = 0
    for d, _, files in os.walk(root):
        for f in files:
            n += 1
            size += os.path.getsize(os.path.join(d, f))
    return n, size


class Workload:
    name = ""
    # timed iterations per run, at least: about ten seconds of warm work
    # whatever --seconds says, and a count that does not depend on how
    # fast the first timed iteration was
    min_iterations = 1

    def __init__(self, work: str, seed: int, size: str):
        self.work = work
        self.seed = seed
        self.sizes = SIZES[size]
        self.rows = 0  # input rows per iteration, the base of rows_per_s

    def prepare(self) -> None:
        """Make the inputs (not part of set-up time)."""

    def before_first_iteration(self, overlap: bool) -> None:
        """Input-side work done after set-up; with ``overlap`` it may
        run beside the untimed first iteration."""

    def warm_up(self, spark) -> None:
        """One small shuffle job: scheduler, codegen and shuffle are up.
        Python workers start in the (untimed) first iteration."""
        spark.range(200_000).selectExpr("id % 7 AS k").groupBy("k").count().collect()

    def iteration(self, spark, i: int) -> dict:
        raise NotImplementedError

    def check(self, out: dict) -> list[str]:
        raise NotImplementedError

    def discard(self, out: dict) -> None:
        shutil.rmtree(out["dir"], ignore_errors=True)

    def traced_iteration(self, spark, tracer, i: int) -> dict:
        raise NotImplementedError

    def close(self) -> None:
        pass


# ---------------------------------------------------------------------
# alert-ingest: the paper's pipeline against a seeded alert API
# ---------------------------------------------------------------------

class AlertIngest(Workload):
    name = "alert-ingest"
    min_iterations = 2  # about 5 s each

    def prepare(self) -> None:
        n = self.sizes["alerts"]
        self.rows = n
        self.server = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "alert_api.py"),
             "--seed", str(self.seed), "--alerts", str(n)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, text=True)
        line = self.server.stdout.readline().split()
        if line[:1] != ["PORT"]:
            self.close()
            raise RuntimeError("alert API did not start")
        self.url = f"http://127.0.0.1:{line[1]}"
        self.expected = expected_reports(self.seed, n)

    def _admin(self, method: str, path: str) -> dict:
        req = urllib.request.Request(self.url + path, method=method,
                                     data=b"{}" if method == "POST" else None)
        with urllib.request.urlopen(req, timeout=30) as r:
            return json.loads(r.read())

    def iteration(self, spark, i: int) -> dict:
        from tf_prisma_api_data_ingestion_spark.plans.e2e import full_report_run

        out_dir = os.path.join(self.work, "out", f"iter-{i}")
        self._admin("POST", "/_reset")
        t0 = time.perf_counter()
        res = full_report_run(spark, self.url, USER, PASSWORD, out_dir, RUN_DATE)
        t1 = time.perf_counter()
        return {"dir": out_dir, "s": t1 - t0, "result": res,
                "api": self._admin("GET", "/_stats")}

    def check(self, out: dict) -> list[str]:
        return check_reports(out["dir"], out["result"], self.expected)

    def traced_iteration(self, spark, tracer, i: int) -> dict:
        from tf_prisma_api_data_ingestion_spark import sinks
        from tf_prisma_api_data_ingestion_spark.plans import e2e
        from tf_prisma_api_data_ingestion_spark.sources import rest

        from tracing import job_counts

        def scan_then_report(orig):
            report = tracer.lazy("plans.report.alert")(orig)

            def wrapped(policies, alert_items):
                sc = spark.sparkContext
                outer = sc.getLocalProperty("spark.jobGroup.id")
                sc.setJobGroup(f"scan-{i}", "traced scan")
                items = tracer.lazy("sources.rest.scan")(lambda df: df)(alert_items)
                tracer.count("sources.rest.partitions",
                             job_counts(spark, f"scan-{i}")["tasks"])
                sc.setJobGroup(outer, "traced iteration")
                return report(policies, items)
            return wrapped

        tracer.patch(rest.RestClient, "login", tracer.eager("sources.rest.login"))
        tracer.patch(rest.RestClient, "get_json", tracer.eager("sources.rest.get_json"))
        tracer.patch(e2e, "alert_report_from_fixtures", scan_then_report)
        tracer.patch(sinks.StagedRun, "stage", tracer.eager("sinks.stage"))
        tracer.patch(sinks.StagedRun, "publish", tracer.eager("sinks.publish"))
        try:
            with tracer.span("plans.e2e.full_report_run"):
                out = self.iteration(spark, i)
        finally:
            tracer.restore()
        files, size = _files_and_bytes(out["dir"])
        tracer.count("sinks.files_written", files)
        tracer.count("sinks.bytes_written", size)
        return out

    def close(self) -> None:
        srv = getattr(self, "server", None)
        if srv is None:
            return
        try:
            srv.stdin.close()
            srv.wait(timeout=10)
        except subprocess.TimeoutExpired:
            srv.kill()
            srv.wait(timeout=10)
        srv.stdout.close()
        self.server = None


POLICIES = {"pol-aws": ("AWS baseline", "config", "high"),
            "pol-azure": ("Azure baseline", "config", "medium"),
            "pol-gcp": ("GCP baseline", "config", "low")}


def expected_reports(seed: int, n_alerts: int) -> dict[str, list[dict]]:
    """The three published reports, computed in plain Python from the
    generator's alerts and inventory. Values are strings as the CSV holds
    them; a null is the empty string."""
    day = RUN_DATE.isoformat()
    groups: dict[tuple, dict] = {}
    for item in make_alerts(seed, n_alerts):
        r = item["resource"]
        key = ("pol-" + r["cloudType"], r["account"])
        g = groups.setdefault(key, {"n": 0, "ids": [], "clouds": [], "grps": []})
        g["n"] += 1
        g["ids"].append(r["accountId"])
        g["clouds"].append(r["cloudType"])
        if r["cloudAccountGroups"]:
            g["grps"].append(r["cloudAccountGroups"][0])
    alerts = []
    for (pid, account), g in groups.items():
        name, ptype, sev = POLICIES[pid]
        alerts.append({
            "Policy Name": name, "Policy Type": ptype,
            "Policy Severity": sev.upper(),
            "Cloud Type": min(g["clouds"]).upper(),
            "Cloud Account Name": account,
            "Cloud Account Id": min(g["ids"]),
            "Cloud Account Group": min(g["grps"]) if g["grps"] else "",
            "Status": "fail", "Failed Resource Count": str(g["n"]),
            "transaction_date": day})
    inventory = []
    for row in make_inventory(seed)["groupedAggregates"]:
        inventory.append({
            "serviceName": row["serviceName"],
            "cloudTypeName": row["cloudTypeName"],
            **{k: str(row.get(k, 0)) for k in
               ("failedResources", "passedResources", "totalResources")},
            "transaction_date": day})
    resource_type = [dict(r, resourceIdentity="Resource Type") for r in inventory]
    prefix = f"year={RUN_DATE.year}/month={RUN_DATE.month}/day={RUN_DATE.day}"
    return {f"{prefix}/inventory_report": inventory,
            f"{prefix}/inventory_resource_type_report": resource_type,
            f"{prefix}/alert_report": alerts}


def _canon(rows: list[dict]) -> list[tuple]:
    return sorted(tuple(sorted(r.items())) for r in rows)


def check_reports(base: str, result: dict, expected: dict) -> list[str]:
    problems = []
    manifests = glob.glob(os.path.join(base, "_manifests", "*.json"))
    if len(manifests) != 1:
        return [f"expected one manifest, found {len(manifests)}"]
    with open(manifests[0]) as f:
        listed = json.load(f).get("outputs", [])
    if sorted(listed) != sorted(expected):
        problems.append(f"manifest lists {sorted(listed)}")
    staging = os.path.join(base, "_staging")
    if os.path.exists(staging) and _files_and_bytes(staging)[0] + len(os.listdir(staging)):
        problems.append("staging left behind: " + ", ".join(os.listdir(staging)))
    for name, want in expected.items():
        parts = glob.glob(os.path.join(base, name, "part-*.csv"))
        if len(parts) != 1:
            problems.append(f"{name}: {len(parts)} CSV parts")
            continue
        with open(parts[0], newline="") as f:
            got = list(csv.DictReader(f))
        if _canon(got) != _canon(want):
            problems.append(f"{name}: {len(got)} rows differ from the "
                            f"{len(want)} expected")
    n_alert_rows = len(next(v for k, v in expected.items() if k.endswith("alert_report")))
    if result.get("rows", {}).get("alerts") != n_alert_rows:
        problems.append(f"run reported {result.get('rows')} rows")
    return problems


# ---------------------------------------------------------------------
# corpus-train: corpus curation to packed training shards
# ---------------------------------------------------------------------

class CorpusTrain(Workload):
    name = "corpus-train"
    # about 11 s each; a third would absorb one slow iteration but costs
    # more run time than the benchmark's time budget leaves (README.md)
    min_iterations = 2
    SHARDS = 4

    def prepare(self) -> None:
        n = self.sizes["docs"]
        self.rows = n
        self.data = os.path.join(self.work, "data")
        self.digest = datagen.write_tables(
            self.data, {"documents": datagen.documents(self.seed, n)})
        self._expected: list[tuple] | None = None
        self._oracle: threading.Thread | None = None

    def before_first_iteration(self, overlap: bool) -> None:
        # the oracle is slow: with overlap it runs beside the untimed
        # first iteration and is joined before the first check
        def compute():
            self._expected = corpus_oracle(self.data, self.seed, self.digest)
        if not overlap:
            compute()
            return
        self._oracle = threading.Thread(target=compute, daemon=True)
        self._oracle.start()

    @property
    def expected(self) -> list[tuple]:
        if self._oracle is not None:
            self._oracle.join(timeout=150)
        if self._expected is None:
            raise RuntimeError("the corpus oracle failed")
        return self._expected

    def _run(self, spark, out_dir: str) -> None:
        from tf_prisma_api_data_ingestion_spark.plans.corpus import corpus_to_training
        from tf_prisma_api_data_ingestion_spark.sinks import write_training_shards

        df = corpus_to_training(spark, self.data, budget=512, sample_budget=150.0)
        write_training_shards(df, out_dir, self.SHARDS, ("doc_id",))

    def iteration(self, spark, i: int) -> dict:
        from tf_prisma_api_data_ingestion_spark import cache

        out_dir = os.path.join(self.work, "out", f"iter-{i}")
        t0 = time.perf_counter()
        self._run(spark, out_dir)
        t1 = time.perf_counter()
        cache.release_all()
        return {"dir": out_dir, "s": t1 - t0}

    def check(self, out: dict) -> list[str]:
        import pyarrow.dataset as ds

        t = ds.dataset(out["dir"], format="parquet", partitioning="hive").to_table()
        shards = set(t.column("shard_id").to_pylist())
        got = sorted(zip(*(t.column(c).to_pylist() for c in CORPUS_COLS)))
        problems = []
        if got != self.expected:
            problems.append(f"{len(got)} training rows differ from the "
                            f"{len(self.expected)} the oracle gives")
        if len(shards) > self.SHARDS:
            problems.append(f"{len(shards)} shards written, at most {self.SHARDS} expected")
        return problems

    def traced_iteration(self, spark, tracer, i: int) -> dict:
        from tf_prisma_api_data_ingestion_spark import cache
        from tf_prisma_api_data_ingestion_spark import sinks
        from tf_prisma_api_data_ingestion_spark.operators import dedup, text
        from tf_prisma_api_data_ingestion_spark.plans import corpus

        def n_in(metric):
            return lambda a, k, out: tracer.count(metric, a[0].count())

        def n_out(metric):
            return lambda a, k, out: tracer.count(metric, out.count())

        def n_bins(a, k, out):
            tracer.count("plans.corpus.bins", out.select("bin_id").distinct().count())

        def counting_persist(orig):
            def wrapped(*args, **kwargs):
                tracer.count("cache.persisted_frames")
                return orig(*args, **kwargs)
            return wrapped

        tracer.patch(cache, "tracked_persist", counting_persist)
        tracer.patch(text, "quality_features",
                     tracer.lazy("operators.text.quality_features", n_in("plans.corpus.docs_in")))
        tracer.patch(text, "contamination_hits",
                     tracer.lazy("operators.text.contamination_hits",
                                 n_in("plans.corpus.quality_pass")))
        tracer.patch(dedup, "ngram_jaccard_pairs",
                     tracer.lazy("operators.dedup.ngram_jaccard_pairs",
                                 n_out("operators.dedup.pairs")))
        tracer.patch(dedup, "dedup_clusters_auto",
                     tracer.lazy("operators.dedup.dedup_clusters_auto"))
        # corpus_to_training reaches the clean chain through the helper
        # that corpus_clean_v2 projects; absent after a refactor, the
        # span is simply not recorded
        tracer.patch(corpus, "_clean_v2_survivor_rows",
                     tracer.lazy("plans.corpus.corpus_clean_v2",
                                 n_out("plans.corpus.survivors")))
        tracer.patch(text, "temperature_sample",
                     tracer.lazy("operators.text.temperature_sample"))
        tracer.patch(text, "pack_sequences",
                     tracer.lazy("operators.text.pack_sequences", n_bins))
        tracer.patch(corpus, "corpus_to_training",
                     tracer.lazy("plans.corpus.corpus_to_training"))
        tracer.patch(sinks, "write_training_shards",
                     tracer.eager("sinks.write_training_shards"))
        try:
            with tracer.span("iteration"):
                out = self.iteration(spark, i)
        finally:
            tracer.restore()
        c = tracer.counts
        if c.get("plans.corpus.docs_in"):
            c["plans.corpus.keep_ratio"] = (c.get("plans.corpus.survivors", 0)
                                            / c["plans.corpus.docs_in"])
        return out


def _sql_path(path: str) -> str:
    return "read_parquet('" + path.replace("'", "''") + "')"


CORPUS_COLS = ("doc_id", "source", "n_tokens", "bin_id", "bin_offset")


def corpus_oracle(data_dir: str, seed: int, digest: str) -> list[tuple]:
    """Expected ``corpus_to_training`` rows from the package's DuckDB
    oracle, computed once per (seed, input digest, oracle SQL) and
    cached: the oracle takes far longer than the Spark pipeline it
    checks."""
    import hashlib

    import duckdb
    import pyarrow.parquet as pq

    from tf_prisma_api_data_ingestion_spark.catalog import ORACLES

    cache_dir = os.path.join(HERE, ".work", "oracle-cache")
    os.makedirs(cache_dir, exist_ok=True)
    sql = ORACLES["plan-corpus-train"]
    sql_digest = hashlib.sha256(sql.encode()).hexdigest()[:16]
    path = os.path.join(cache_dir, f"corpus-train-{seed}-{digest}-{sql_digest}.parquet")
    if not os.path.exists(path):
        con = duckdb.connect(config={"temp_directory": os.environ["TMPDIR"]})
        con.execute(f"SET threads = {max(1, len(os.sched_getaffinity(0)) // 2)}")
        con.execute("CREATE VIEW documents AS SELECT * FROM "
                    + _sql_path(os.path.join(data_dir, "documents.parquet")))
        t = con.execute(sql).arrow()
        con.close()
        tmp = path + f".{os.getpid()}.tmp"
        pq.write_table(t, tmp)
        os.replace(tmp, path)
    t = pq.read_table(path)
    return sorted(zip(*(t.column(c).to_pylist() for c in CORPUS_COLS)))


# ---------------------------------------------------------------------
# query-mix keys: timed once each in the traced run (see README.md)
# ---------------------------------------------------------------------

class QueryMix:
    """The eight oracle-gated catalog keys in a seeded order, over a
    seeded set of every table."""

    def __init__(self, work: str, seed: int, sizes: dict):
        self.data = os.path.join(work, "qdata")
        tables = datagen.relational(seed, sizes["query_scale"])
        tables["documents"] = datagen.documents(seed, sizes["query_docs"])
        datagen.write_tables(self.data, tables)
        self.keys = list(QUERY_KEYS)
        random.Random(seed).shuffle(self.keys)

    def run(self, spark, tracer) -> list[str]:
        """One untimed pass, then a timed pass that collects each key's
        rows and checks them against its DuckDB oracle. Returns the
        problems found."""
        import duckdb

        from tf_prisma_api_data_ingestion_spark import cache, catalog, tables
        from tf_prisma_api_data_ingestion_spark.actions import materialize

        tables.assert_contract(spark, self.data)
        for k in self.keys:
            materialize(catalog.QUERIES[k](spark, self.data))
            cache.release_all()
        con = duckdb.connect(config={"temp_directory": os.environ["TMPDIR"]})
        for t in sorted(os.listdir(self.data)):
            con.execute(f"CREATE VIEW {t.split('.')[0]} AS SELECT * FROM "
                        + _sql_path(os.path.join(self.data, t)))
        problems = []
        for k in self.keys:
            t0 = time.perf_counter()
            got = catalog.QUERIES[k](spark, self.data).toPandas()
            tracer.count(f"query.{k}.s", time.perf_counter() - t0)
            cache.release_all()
            diff = frame_diff(got, con.execute(catalog.ORACLES[k]).df())
            if diff:
                problems.append(f"{k}: {diff}")
        con.close()
        return problems


def frame_diff(a, b) -> str:
    """'' when two result frames hold the same rows (any order), else why
    not. Floats must match exactly, as in the package's own self-check."""
    import pandas as pd

    if sorted(a.columns) != sorted(b.columns):
        return f"columns {sorted(a.columns)} vs {sorted(b.columns)}"
    if len(a) != len(b):
        return f"{len(a)} rows vs {len(b)}"

    def norm(df):
        df = df[sorted(df.columns)].copy()
        for c in df.columns:
            if pd.api.types.is_datetime64_any_dtype(df[c]):
                df[c] = df[c].astype("datetime64[us]")
            elif pd.api.types.is_integer_dtype(df[c]) or pd.api.types.is_bool_dtype(df[c]):
                df[c] = df[c].astype("int64")
            elif pd.api.types.is_float_dtype(df[c]):
                df[c] = df[c].astype("float64")
            else:
                df[c] = df[c].astype(str)
        return df.sort_values(list(df.columns), kind="mergesort").reset_index(drop=True)

    x, y = norm(a), norm(b)
    for c in x.columns:
        same = (x[c] == y[c]) | (x[c].isna() & y[c].isna())
        if not same.all():
            return f"column {c} differs in {int((~same).sum())} rows"
    return ""


WORKLOADS = {w.name: w for w in (AlertIngest, CorpusTrain)}

