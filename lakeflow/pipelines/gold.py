"""Gold layer: card-funnel star schema
(`/root/reference/card_funnel/create_card_funnel_schema.py` + the DDL at
`card_funnel/sqls/create_customers_table.sql`).

The reference only *creates* the schema (population was left to
Redshift-side SQL); here the populate step exists too, as the J2 joins
the FK graph implies (SURVEY §2.5): application events roll up
latest-wins into the applications dimension, joined to customers and
invitations. Booleans get their DEFAULT FALSE write-side
(``coalesce(col, false)`` — reference DDL :12,26,28).
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakeflow.caching import release_checkpoint
from lakeflow.operators.dedup import latest_wins
from lakeflow.sinks.tables import run_ddl_script

DDL_PATH = os.path.join(os.path.dirname(__file__), "sqls", "card_funnel.sql")

GOLD_TABLES = ("customers", "invitations", "applications", "accounts", "card")


def create_card_funnel_schema(
    spark: SparkSession, schema: str = "gold", prefix: str = ""
) -> list[str]:
    """K9 templated DDL runner (`create_card_funnel_schema.py:12-21`).
    The (possibly empty) prefix is substituted before the runner's
    identifier check, which an empty string would fail."""
    text = open(DDL_PATH).read().replace("{prefix}", prefix)
    return run_ddl_script(spark, text, schem=schema)


def populate_card_funnel(
    spark: SparkSession,
    applications_events: DataFrame,
    invitations_events: DataFrame,
    eligible_events: DataFrame,
    schema: str = "gold",
    prefix: str = "",
    ts_col: str = "ts",
) -> dict[str, int]:
    """Build the dimensional tables from deduped silver event streams.

    applications_events: (cardapplicationid, applicationstatus,
    timestamp, customerid, leadid) — post kafka import (latest-wins per
    id+status). invitations_events: (invitationid, customerid,
    invitationdate, campaignid, workflowid). eligible_events:
    (customerid, eligibilitystartdate, entitlement).
    """
    counts: dict[str, int] = {}

    customers = (
        latest_wins(eligible_events, ["customerid"], "eligibilitystartdate")
        .select(
            F.col("customerid").alias("customer_id"),
            F.col("eligibilitystartdate").cast("timestamp").alias(
                "eligibility_start_date"
            ),
            F.coalesce(F.col("entitlement"), F.lit(False)).alias("entitlement"),
            F.lit(None).cast("string").alias("not_entitlement_reason"),
            F.lit(None).cast("timestamp").alias("entitlement_date"),
            F.lit(False).alias("unsubscribe_flag"),
            F.lit(None).cast("timestamp").alias("unsubscribe_date"),
            F.lit(None).cast("string").alias("unsubscribe_reason"),
        )
    )
    customers.write.mode("overwrite").insertInto(f"{schema}.{prefix}customers")
    counts["customers"] = spark.table(f"{schema}.{prefix}customers").count()

    invitations = latest_wins(
        invitations_events, ["invitationid"], "invitationdate"
    ).select(
        F.col("invitationid").alias("invitation_id"),
        F.col("customerid").alias("customer_id"),
        F.col("invitationdate").cast("timestamp").alias("invitation_date"),
        F.col("campaignid").cast("int").alias("campaign_id"),
        F.col("workflowid").cast("int").alias("workflow_id"),
        F.lit(False).alias("opened_flag"),
        F.lit(None).cast("timestamp").alias("open_date"),
        F.lit(False).alias("clicked_flag"),
        F.lit(None).cast("timestamp").alias("clicked_date"),
        F.lit(None).cast("timestamp").alias("last_purchase_date"),
        F.lit(None).cast("string").alias("last_purchase_vertical"),
        F.lit(None).cast("int").alias("last_purchase_risk_tier"),
    )
    invitations.write.mode("overwrite").insertInto(
        f"{schema}.{prefix}invitations"
    )
    counts["invitations"] = spark.table(f"{schema}.{prefix}invitations").count()

    applications = _applications_from_events(applications_events, ts_col)
    applications.write.mode("overwrite").insertInto(
        f"{schema}.{prefix}applications"
    )
    counts["applications"] = spark.table(
        f"{schema}.{prefix}applications"
    ).count()
    return counts


def _applications_from_events(apps: DataFrame, ts_col: str) -> DataFrame:
    """One row per application from a (possibly partial) event batch:
    the latest status wins; completion/approval dates come from the
    status timeline (conditional aggregation, no second scan)."""
    status_ts = apps.groupBy("cardapplicationid").agg(
        F.min(F.when(F.col("applicationstatus") == "STARTED", F.col(ts_col))).alias(
            "application_start_date"
        ),
        F.min(
            F.when(F.col("applicationstatus") == "COMPLETED", F.col(ts_col))
        ).alias("application_completion_date"),
        F.min(F.when(F.col("applicationstatus") == "APPROVED", F.col(ts_col))).alias(
            "approval_date"
        ),
    )
    latest = latest_wins(apps, ["cardapplicationid"], ts_col).select(
        F.col("cardapplicationid").alias("application_id"),
        F.col("customerid").alias("customer_id"),
        F.col("applicationstatus").alias("application_status"),
        F.col("leadid").cast("int").alias("lead_id"),
    )
    return (
        latest.join(
            status_ts.withColumnRenamed("cardapplicationid", "application_id"),
            "application_id",
        )
        .select(
            "application_id",
            F.lit(None).cast("long").alias("invitation_id"),
            "customer_id",
            "application_start_date",
            "application_completion_date",
            "application_status",
            "lead_id",
            (F.col("application_completion_date").isNotNull()).alias(
                "application_complete_flag"
            ),
            F.lit(None).cast("decimal(10,2)").alias("monthly_income"),
            F.lit(None).cast("decimal(10,2)").alias("monthly_housing"),
            F.lit(None).cast("string").alias("housing_expense_type"),
            (F.col("approval_date").isNotNull()).alias("approval_flag"),
            "approval_date",
            F.lit(None).cast("string").alias("decline_reason"),
            F.lit(False).alias("offer_flag"),
            F.lit(None).cast("timestamp").alias("offer_date"),
        )
    )


def refresh_applications_incremental(
    spark: SparkSession,
    new_events: DataFrame,
    schema: str = "gold",
    prefix: str = "",
    ts_col: str = "ts",
) -> int:
    """Merge a NEW batch of application events into the gold
    applications table without rebuilding it — the reference re-created
    gold from scratch; at 100 TB you merge the day's delta.

    Merge semantics per application (FULL OUTER on application_id):
    - milestone dates (start/completion/approval) take the EARLIEST of
      old and new — a milestone can be discovered, never unlearned;
    - the batch's latest event wins the current status and
      customer/lead attributes (per-key in-order delivery is the
      upstream kafka contract, same as the latest-wins dedup);
    - flags re-derive from the MERGED dates, so a COMPLETED event
      arriving for an app only known as STARTED flips the flag while
      preserving the original start date;
    - unseen applications insert as-is.

    Returns the table's row count after the merge."""
    tbl = f"{schema}.{prefix}applications"
    old = spark.table(tbl).alias("o")
    delta = _applications_from_events(new_events, ts_col).alias("n")

    def newest(c: str):
        return F.coalesce(F.col(f"n.{c}"), F.col(f"o.{c}"))

    def earliest(c: str):
        # F.least skips nulls: earliest known milestone from either side
        return F.least(F.col(f"o.{c}"), F.col(f"n.{c}"))

    merged = old.join(
        delta, F.col("o.application_id") == F.col("n.application_id"), "full_outer"
    ).select(
        F.coalesce(F.col("n.application_id"), F.col("o.application_id")).alias(
            "application_id"
        ),
        newest("invitation_id").alias("invitation_id"),
        newest("customer_id").alias("customer_id"),
        earliest("application_start_date").alias("application_start_date"),
        earliest("application_completion_date").alias(
            "application_completion_date"
        ),
        newest("application_status").alias("application_status"),
        newest("lead_id").alias("lead_id"),
        F.least(
            F.col("o.application_completion_date"),
            F.col("n.application_completion_date"),
        )
        .isNotNull()
        .alias("application_complete_flag"),
        newest("monthly_income").alias("monthly_income"),
        newest("monthly_housing").alias("monthly_housing"),
        newest("housing_expense_type").alias("housing_expense_type"),
        F.least(F.col("o.approval_date"), F.col("n.approval_date"))
        .isNotNull()
        .alias("approval_flag"),
        earliest("approval_date").alias("approval_date"),
        newest("decline_reason").alias("decline_reason"),
        F.coalesce(
            F.col("n.offer_flag"), F.col("o.offer_flag"), F.lit(False)
        ).alias("offer_flag"),
        newest("offer_date").alias("offer_date"),
    )
    # localCheckpoint breaks lineage: the overwrite targets the same
    # table the plan reads (same pattern as sinks/merge.py)
    cp = merged.localCheckpoint(eager=True)
    try:
        cp.write.mode("overwrite").insertInto(tbl)
    finally:
        release_checkpoint(cp)
    return spark.table(tbl).count()
