"""The handler-equivalent end-to-end run (reference entry point:
``handler``, /root/reference/modules/src/prisma_report/lambda.py:386-441):
login -> inventory report -> per-service resource-type report -> alert
report -> three CSVs published atomically under a date-partitioned prefix.

Differences from the reference, by design:
- login is explicit per-run (P:73 logs in at import time — §2.5.2);
- the N+1 per-policy alert pagination (P:256-318) is ONE paginated scan
  through the partition-per-page DataSource + a broadcast join to the
  policy frame;
- the per-service inventory fan-out (P:394-401) is one finer-grained
  aggregation (plans/inventory.py);
- outputs publish via StagedRun: all three reports or none, manifest
  written last (P:431-451's rollback has a NameError on early failure —
  §2.5.3);
- the whole run is a pure function of (spark, api, out_base, run_date):
  no module globals, so warm re-invocations cannot double rows (§2.5.1).

Two rules keep a run to one pass over the alerts and ship no Python rows
from the driver:
- driver-held JSON (the inventory body, the policy table) enters Spark
  as a JVM literal through ``json_rows``, never ``createDataFrame(list)``,
  whose pickled-row RDD costs a Python worker round trip in every write
  that reads it;
- the run's row counts come from observed write metrics (an unnamed
  ``Observation`` on each counted frame handed to ``StagedRun.stage``),
  never a trailing ``count()``, which would re-run the REST scan and the
  policy broadcast just to report a number.
"""

from __future__ import annotations

from collections.abc import Sequence
from datetime import date

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from ..operators.json_ops import flatten_array_of_structs, json_rows
from ..sinks import StagedRun
from ..sources.rest import RestClient, register_alerts_source
from .report import alert_report_from_fixtures

# the A1 inventory body's contract (FIXTURES.md); shared with the
# src-get-json and plan-e2e-alert catalog queries
INVENTORY_DDL = ("timestamp LONG, requestedTimestamp LONG, groupedAggregates "
                 "ARRAY<STRUCT<serviceName STRING, cloudTypeName STRING, "
                 "failedResources LONG, passedResources LONG, "
                 "totalResources LONG>>")
POLICY_COLUMNS = ("policyId", "policyName", "policyType", "severity")
POLICY_DDL = ", ".join(f"{c} STRING" for c in POLICY_COLUMNS)
# the policy list the mock API does not serve (see full_report_run)
POLICY_ROWS = (("pol-aws", "AWS baseline", "config", "high"),
               ("pol-azure", "Azure baseline", "config", "medium"),
               ("pol-gcp", "GCP baseline", "config", "low"))


def inventory_frame(spark: SparkSession, body: dict) -> DataFrame:
    """The inventory body's groupedAggregates, one row per service,
    absent counts filled with 0 (P:165-178)."""
    raw = json_rows(spark, body, INVENTORY_DDL).select("groupedAggregates")
    return flatten_array_of_structs(raw, "groupedAggregates").na.fill(0)


def policy_frame(spark: SparkSession,
                 rows: Sequence[tuple] = POLICY_ROWS) -> DataFrame:
    """(policyId, policyName, policyType, severity) rows as a frame."""
    return json_rows(spark, [dict(zip(POLICY_COLUMNS, r)) for r in rows],
                     POLICY_DDL)


def _observed(df: DataFrame) -> tuple[DataFrame, Observation]:
    """``df`` with a row count collected by whichever action runs it.
    Unnamed, so concurrent runs in one session cannot clash."""
    obs = Observation()
    return df.observe(obs, F.count(F.lit(1)).alias("rows")), obs


def full_report_run(spark: SparkSession, base_url: str, username: str,
                    password: str, out_base: str, run_date: date,
                    policies_rows: list[tuple] | None = None) -> dict:
    """Run the three reports and publish them transactionally.

    Returns {"run_id", "outputs", "rows"} for observability. ``policies``
    normally comes from the policy-list endpoint (P:217-256); the mock
    serves alerts only, so the small policy frame is injected (it is the
    broadcast side either way).
    """
    client = RestClient(base_url, username=username, password=password,
                        backoff_factor=0.1).login()

    # EP1: inventory + resource-type (one scan, two aggregation grains)
    body = client.get_json("/v1/inventory").body
    inventory = inventory_frame(spark, body) \
        .withColumn("transaction_date", F.lit(run_date.isoformat()))
    resource_type = (inventory
                     .withColumn("resourceIdentity", F.lit("Resource Type")))

    # EP3: ONE paginated alerts scan (executors fetch pages in parallel)
    # + broadcast join to the tiny policy frame
    register_alerts_source(spark)
    alerts = (spark.read.format("prisma_alerts")
              .option("base_url", base_url).option("token", client.token)
              .option("backoff_factor", "0.1").load()
              # alert items carry no policyId in the mock; derive a stable
              # one the way the reference's per-policy loop implies it
              .withColumn("policyId", F.concat(F.lit("pol-"),
                                               F.col("cloudType"))))
    policies = policy_frame(spark, policies_rows or POLICY_ROWS)
    alert_items = alerts.select(
        "policyId",
        F.struct(F.col("account"), F.col("accountId"), F.col("cloudType"),
                 F.col("cloudAccountGroups")).alias("resource"))
    alert_report = alert_report_from_fixtures(policies, alert_items) \
        .withColumn("transaction_date", F.lit(run_date.isoformat()))

    run_id = f"report-{run_date.isoformat()}"
    prefix = f"year={run_date.year}/month={run_date.month}/day={run_date.day}"
    inventory_out, inventory_obs = _observed(inventory)
    alert_out, alert_obs = _observed(alert_report)
    with StagedRun(out_base, run_id) as run:
        run.stage(inventory_out, f"{prefix}/inventory_report", fmt="csv", single_file=True)
        run.stage(resource_type, f"{prefix}/inventory_resource_type_report",
                  fmt="csv", single_file=True)
        run.stage(alert_out, f"{prefix}/alert_report", fmt="csv", single_file=True)
    return {"run_id": run_id,
            "outputs": [f"{prefix}/inventory_report",
                        f"{prefix}/inventory_resource_type_report",
                        f"{prefix}/alert_report"],
            "rows": {"inventory": inventory_obs.get["rows"],
                     "alerts": alert_obs.get["rows"]}}
