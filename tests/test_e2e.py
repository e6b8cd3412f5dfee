"""End-to-end handler-equivalent run against the mock API: three CSVs
published atomically under the date prefix, rollback on injected
failure."""

from __future__ import annotations

import csv
import glob
import math
import os
from datetime import date

import pytest
from pyspark.sql import functions as F

from tf_prisma_api_data_ingestion_spark.plans.e2e import full_report_run
from tf_prisma_api_data_ingestion_spark.sources import mock_api


def test_full_report_run_publishes_three_csvs(spark, tmp_path):
    out = str(tmp_path)
    res = full_report_run(spark, mock_api.mock_server_url(),
                          mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                          out, date(2024, 2, 1))
    assert res["rows"]["inventory"] == 3
    # 7 accounts x 3 clouds, but account i%7 with cloud i%3 -> 21 groups
    assert res["rows"]["alerts"] == 21
    prefix = os.path.join(out, "year=2024", "month=2", "day=1")
    for name in ("inventory_report", "inventory_resource_type_report",
                 "alert_report"):
        assert os.path.isdir(os.path.join(prefix, name)), name
    assert os.path.exists(os.path.join(out, "_manifests",
                                       "report-2024-02-01.json"))
    # re-run same date: idempotent overwrite, no doubling (§2.5.1)
    res2 = full_report_run(spark, mock_api.mock_server_url(),
                           mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                           out, date(2024, 2, 1))
    assert res2["rows"] == res["rows"]


def _csv_rows(path: str) -> int:
    (part,) = glob.glob(os.path.join(path, "part-*.csv"))
    with open(part, newline="") as f:
        return len(list(csv.DictReader(f)))


def test_full_report_run_scans_alerts_once(spark, tmp_path):
    """One run = one alerts scan (the planning probe plus one request
    per page), counts taken from the writes, and at most 5 Spark jobs."""
    url = mock_api.mock_server_url()
    server = mock_api.server_state()
    sc = spark.sparkContext
    group = "test-e2e-single-scan"
    before = getattr(server, "alerts_count", 0)
    sc.setJobGroup(group, "full_report_run job count")
    try:
        res = full_report_run(spark, url, mock_api.MOCK_USER,
                              mock_api.MOCK_PASSWORD, str(tmp_path),
                              date(2024, 2, 3))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    pages = math.ceil(mock_api.N_ALERTS / mock_api.PAGE_SIZE)
    assert server.alerts_count - before == 1 + pages
    prefix = os.path.join(str(tmp_path), "year=2024", "month=2", "day=3")
    assert res["rows"] == {
        "inventory": _csv_rows(os.path.join(prefix, "inventory_report")),
        "alerts": _csv_rows(os.path.join(prefix, "alert_report"))}
    assert len(sc.statusTracker().getJobIdsForGroup(group)) <= 5


def test_full_report_run_type_drift_publishes_nothing(spark, tmp_path,
                                                      monkeypatch):
    """A type-drifted inventory body fails the run loudly (FAILFAST) and
    the staged run rolls back: no manifest, nothing left in staging."""
    drifted = dict(mock_api.INVENTORY_FIXTURE)
    drifted["groupedAggregates"] = [
        dict(row, failedResources=str(row["failedResources"]))
        for row in mock_api.INVENTORY_FIXTURE["groupedAggregates"]]
    monkeypatch.setattr(mock_api, "INVENTORY_FIXTURE", drifted)
    out = str(tmp_path)
    with pytest.raises(Exception, match="(?i)malformed"):
        full_report_run(spark, mock_api.mock_server_url(),
                        mock_api.MOCK_USER, mock_api.MOCK_PASSWORD,
                        out, date(2024, 2, 4))
    assert not os.path.exists(os.path.join(out, "_manifests"))
    staging = os.path.join(out, "_staging")
    assert not os.path.exists(staging) or os.listdir(staging) == []


def test_alert_report_golden_csv_bytes(spark, tmp_path):
    """SURVEY §5.4: golden CSV bytes for the alert report at a fixed run
    date, in the reference's exact QUOTE_NONNUMERIC format."""
    from tf_prisma_api_data_ingestion_spark.plans.report import (
        alert_report_from_fixtures,
    )
    from tf_prisma_api_data_ingestion_spark.sinks import write_csv_report
    policies = spark.createDataFrame(
        [("pol-1", "S3 public", "config", "high")],
        "policyId STRING, policyName STRING, policyType STRING, severity STRING")
    alerts = spark.createDataFrame(
        [("pol-1", ("prod", "111", "aws", ["Default"])),
         ("pol-1", ("prod", "111", "aws", ["Default"])),
         ("pol-1", ("dev", "222", "gcp", []))],
        "policyId STRING, resource STRUCT<account STRING, accountId STRING, "
        "cloudType STRING, cloudAccountGroups ARRAY<STRING>>")
    report = alert_report_from_fixtures(policies, alerts) \
        .withColumn("transaction_date", F.lit("2024-02-01"))
    out = str(tmp_path / "golden")
    write_csv_report(report, out, quote_nonnumeric=True,
                     order_by=("Cloud Account Name",))
    part = glob.glob(out + "/part-*.txt")[0]
    got = open(part).read()
    assert got == (
        '"Policy Name","Policy Type","Policy Severity","Cloud Type",'
        '"Cloud Account Name","Cloud Account Id","Cloud Account Group",'
        '"Status","Failed Resource Count","transaction_date"\n'
        '"S3 public","config","HIGH","GCP","dev","222","","fail",1,"2024-02-01"\n'
        '"S3 public","config","HIGH","AWS","prod","111","Default","fail",2,"2024-02-01"\n'
    )


def test_full_report_run_bad_credentials_publishes_nothing(spark, tmp_path):
    import urllib.error
    out = str(tmp_path)
    with pytest.raises(urllib.error.HTTPError):
        full_report_run(spark, mock_api.mock_server_url(),
                        "wrong", "creds", out, date(2024, 2, 2))
    assert not os.path.exists(os.path.join(out, "_manifests"))
