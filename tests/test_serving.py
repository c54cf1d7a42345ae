"""Serving-table (GSI-shape) tests: partition pruning must show up in
the physical plan, results must match an unpartitioned filter."""

from __future__ import annotations

from pyspark.sql import functions as F

from python_lambda_ecs_container_data_etl_aws_spark.catalog import load_table
from python_lambda_ecs_container_data_etl_aws_spark.sources import serving
from tests.conftest import SF_DIR


def test_serving_table_point_query_and_pruning(spark, tmp_path):
    orders = load_table(spark, SF_DIR, "orders").withColumn(
        "order_month", F.date_format("o_orderdate", "yyyy-MM")
    )
    path = str(tmp_path / "serving")
    serving.write_serving_table(orders, path, "order_month", "o_custkey")

    got = serving.point_query(
        spark, path, "1995-06", 42, "order_month", "o_custkey",
        projection=["o_orderkey", "o_totalprice"],
    )
    expected = orders.filter(
        (F.col("order_month") == "1995-06") & (F.col("o_custkey") == 42)
    ).select("o_orderkey", "o_totalprice")
    assert sorted(map(tuple, got.collect())) == sorted(map(tuple, expected.collect()))

    # partition pruning: the equality on the partition key must appear
    # as a PartitionFilter in the physical scan (pruned at planning,
    # not post-scan)
    plan = got._jdf.queryExecution().executedPlan().toString()
    pf_lines = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf_lines and any("1995-06" in ln for ln in pf_lines), plan[:2000]


def test_point_query_build_runs_no_job(spark, tmp_path):
    """A lookup reads the serving table with its footer schema, so
    building one runs no Spark job (it inferred the schema with 1 job).
    Five partitions stay under Spark's parallel-listing threshold."""
    rows = spark.range(100).selectExpr(
        "id AS AutoID", "concat('2023-01-0', CAST(id % 5 + 1 AS STRING)) AS Date",
        "concat('G', CAST(id % 7 AS STRING)) AS GEO", "CAST(id AS DOUBLE) AS VALUE",
    )
    path = str(tmp_path / "serv")
    serving.write_serving_table(rows, path, "Date", "GEO")
    jobs = spark.sparkContext._jsc.sc().dagScheduler().numTotalJobs
    before = jobs()
    got = serving.point_query(spark, path, "2023-01-03", "G2", "Date", "GEO", ["AutoID"])
    assert jobs() == before
    assert sorted(r.AutoID for r in got.collect()) == [
        i for i in range(100) if i % 5 == 2 and i % 7 == 2
    ]


def test_empty_serving_refresh_stays_readable(spark, tmp_path):
    """Empty-sweep regression: refreshing the serving table with zero
    rows must leave a readable (schema-carrying) table, not a part-
    file-less dir that fails schema inference on every later read."""
    from python_lambda_ecs_container_data_etl_aws_spark.sources import serving

    path = str(tmp_path / "serv")
    empty = spark.createDataFrame(
        [], "AutoID BIGINT, Date STRING, GEO STRING, VALUE DOUBLE"
    )
    serving.write_serving_table(empty, path, "Date", "GEO")
    back = spark.read.parquet(path)
    assert back.count() == 0
    assert set(back.columns) == {"AutoID", "Date", "GEO", "VALUE"}
    out = serving.point_query(spark, path, "2023-01-01", "Canada", "Date", "GEO")
    assert out.count() == 0
