"""End-to-end replay of the reference workshop as a library pipeline.

The three notebooks become three functions over one catalog:

- DE (``DE_data_preparation.py``): CSV ingest → managed table;
- DS (``DS_cust_lifetime_value.py``): cast/rename the RFM summary
  (:164-168), fan out by GroupKey (:428-435, with the ``%1`` bug fixed to a
  real ``% n``), fit + score per group via ``applyInPandas`` (:462-494),
  CTAS the scored table (:352-354);
- SQL (``SQL_CLV_Insights.py``): the dashboard rollup (:83-94) over the
  scored table.

Input is any Summary_2011-shaped source (FIXTURES.md §A2:
``CustomerID, T1, recency1, FREQUENCY, profit``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from lakehouse_workshop_spark import catalog as cat
from lakehouse_workshop_spark.clv.pipeline import LTV_RESULT_SCHEMA, clv_score_group
from lakehouse_workshop_spark.functions.exprs import case_bucket, dec_sum

DB = "customer_info"


def ingest_summary(spark: SparkSession, csv_path: str) -> None:
    """DE phase: CSV (header, inferred schema) → managed table
    (ref ``DE_data_preparation.py:3-29``)."""
    cat.create_database(spark, DB)
    cat.drop_table(spark, f"{DB}.summary_2011")
    df = cat.csv_scan(spark, csv_path)
    cat.write_table(df, f"{DB}.summary_2011")


def score_customers(spark: SparkSession, n_groups: int = 20) -> DataFrame:
    """DS phase: recast (ref ``:164-168``) → GroupKey fan-out (``:428-435``)
    → per-group fit/score (``:462-494``) → CTAS ``ltv_results`` (``:352-354``)."""
    summary = cat.catalog_scan(spark, f"{DB}.summary_2011", cache=True)
    # The shipped Summary_2011.csv spells one missing CustomerID as the
    # literal text "null", so the inferred column is STRING. The reference
    # ran under legacy non-ANSI casts where '% 20' silently yielded NULL;
    # Spark 4's ANSI mode throws, so the tolerant cast must be explicit.
    cid = F.col("CustomerID").try_cast("long")
    rfm = summary.select(
        (cid % n_groups + 1).cast("int").alias("GroupKey"),
        cid.cast("int").alias("CustomerID"),
        F.col("FREQUENCY").cast("long").alias("FREQUENCY"),
        F.col("recency1").cast("float").alias("RECENCY"),
        F.col("T1").cast("float").alias("AGE"),
        F.col("profit").cast("float").alias("AVG_MONETARY_VALUE"),
    )
    scored = (
        rfm.repartitionByRange(n_groups, "GroupKey")
        .groupBy("GroupKey")
        .applyInPandas(clv_score_group, schema=LTV_RESULT_SCHEMA)
    )
    scored.createOrReplaceTempView("LTVData")
    return cat.ctas(spark, f"{DB}.ltv_results", "SELECT * FROM LTVData")


def clv_dashboard(spark: SparkSession) -> DataFrame:
    """SQL phase: banded CLV rollup (ref ``SQL_CLV_Insights.py:83-94``)."""
    ltv = cat.catalog_scan(spark, f"{DB}.ltv_results")
    band = case_bucket(
        "PRED_CLV",
        [(0.0, 1_000.0, "low"), (1_000.0, 10_000.0, "mid"), (10_000.0, 1e18, "high")],
    )
    return (
        ltv.groupBy(band.alias("clv_band"))
        .agg(
            F.count("*").alias("n_customers"),
            # DECIMAL(38,6) sum: exact, so the total does not depend on the
            # order partial sums arrive in (as in clv_segment_rollup).
            dec_sum("PRED_CLV", scale=6).alias("total_pred_clv"),
        )
        .orderBy("clv_band")
    )


def run_workshop(spark: SparkSession, csv_path: str, n_groups: int = 20) -> DataFrame:
    """The whole workshop, DE → DS → SQL; returns the dashboard rollup."""
    ingest_summary(spark, csv_path)
    score_customers(spark, n_groups=n_groups)
    return clv_dashboard(spark)
