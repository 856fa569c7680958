"""End-to-end workshop replay (SURVEY.md §5.3 golden-pipeline test):
DE ingest → DS distributed scoring → SQL dashboard, on a Summary_2011-shaped
synthetic CSV (FIXTURES.md §A2: recency1 <= T1, FREQUENCY >= 1)."""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from lakehouse_workshop_spark import catalog as cat
from lakehouse_workshop_spark.clv.pipeline import LTV_RESULT_SCHEMA
from lakehouse_workshop_spark.clv import workshop

N_CUSTOMERS = 400


@pytest.fixture(scope="module")
def summary_csv(tmp_path_factory):
    rng = np.random.default_rng(11)
    t1 = rng.integers(2, 52, N_CUSTOMERS)
    recency = np.minimum(rng.integers(1, 51, N_CUSTOMERS), t1)
    freq = rng.integers(1, 51, N_CUSTOMERS)
    profit = np.round(rng.uniform(0.54, 21058.88, N_CUSTOMERS), 2)
    lines = ["CustomerID,T1,recency1,FREQUENCY,profit"]
    lines += [
        f"{12000 + i},{t1[i]},{recency[i]},{freq[i]},{profit[i]}"
        for i in range(N_CUSTOMERS)
    ]
    p = tmp_path_factory.mktemp("workshop") / "summary_2011.csv"
    p.write_text("\n".join(lines) + "\n")
    return str(p)


def test_workshop_end_to_end(spark, summary_csv):
    dashboard = workshop.run_workshop(spark, summary_csv, n_groups=8)
    try:
        # DE: managed table exists with all rows
        assert cat.catalog_scan(spark, "customer_info.summary_2011").count() == N_CUSTOMERS

        # DS: CTAS output carries the reference golden schema, one row per customer
        ltv = cat.catalog_scan(spark, "customer_info.ltv_results")
        assert ltv.schema == LTV_RESULT_SCHEMA
        assert ltv.count() == N_CUSTOMERS
        pdf = ltv.toPandas()
        assert pdf["PROB_ALIVE"].between(0, 1).all()
        assert (pdf["PRED_CLV"] >= 0).all()
        assert pdf["GroupKey"].nunique() == 8

        # SQL: dashboard bands are total over the customer set
        bands = dashboard.toPandas()
        assert int(bands["n_customers"].sum()) == N_CUSTOMERS
    finally:
        cat.drop_table(spark, "customer_info.ltv_results")
        cat.drop_table(spark, "customer_info.summary_2011")


def test_dashboard_independent_of_partitioning(spark):
    """``total_pred_clv`` is an exact decimal sum, so the dashboard is the
    same however the scored table is split into files and tasks."""
    import pandas as pd

    rng = np.random.default_rng(5)
    n = 3_000
    ids = np.arange(n, dtype=np.int32)
    # ~1e-7 .. 1e8: a float32 spread wide enough that double sums of it
    # round, so a partition-order-dependent sum would show.
    clv = np.exp(rng.normal(2.0, 6.0, n)).astype(np.float32)
    f32 = np.zeros(n, np.float32)
    pdf = pd.DataFrame(
        {
            "GroupKey": ids % 8 + 1,
            "CustomerID": ids,
            "FREQUENCY": np.ones(n, np.int64),
            "RECENCY": f32,
            "AGE": f32,
            "AVG_MONETARY_VALUE": f32,
            "PRED_VISITS": f32,
            "PROB_ALIVE": f32,
            "PROB_ALIVE_t": f32,
            "PRED_CLV": clv,
        }
    )
    scored = spark.createDataFrame(pdf, schema=LTV_RESULT_SCHEMA)
    cat.create_database(spark, workshop.DB)
    dashboards = []
    try:
        for df in (scored.coalesce(1), scored.orderBy(F.desc("CustomerID")).repartition(7)):
            cat.write_table(df, f"{workshop.DB}.ltv_results")
            dashboards.append(workshop.clv_dashboard(spark).collect())
    finally:
        cat.drop_table(spark, f"{workshop.DB}.ltv_results")
    assert int(sum(r.n_customers for r in dashboards[0])) == n
    assert dashboards[0] == dashboards[1]
