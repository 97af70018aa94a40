"""End-to-end config-driven pipeline test (SURVEY.md §5.3): register deps →

select steps (one cached+aliased) → python step → journal append → delta
merge → state flip, from a YAML config exactly shaped like the reference's
config.yaml (README.md:86-195).
"""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.plans.config import parse_pipeline_config
from dwh_etl_framework_spark.plans.pipeline import Pipeline
from dwh_etl_framework_spark.plans.steps import register_python_step

CONFIG_YAML = """
tables:
  - target: dwh.customer_orders
    primary_key: [o_custkey]
    dependencies:
      - alias: orders_src
        format: parquet
        path: "{sf}/orders.parquet"
      - alias: customer_src
        format: parquet
        path: "{sf}/customer.parquet"
    parameters:
      - {{name: report_date, value: "1998-09-01"}}
      - {{name: min_price, variable: MIN_PRICE}}
    transform:
      full:
        - type: select
          sql: >
            SELECT o_custkey, o_orderkey, o_totalprice, o_orderdate
            FROM orders_src
            WHERE o_orderdate <= TIMESTAMP '{{report_date}}'
              AND o_totalprice >= {{min_price}}
          cache: true
          alias: filtered_orders
        - type: select
          sql: >
            SELECT f.o_custkey,
                   MAX(f.o_totalprice) AS max_price,
                   COUNT(*) AS n_orders
            FROM filtered_orders f
            JOIN customer_src c ON f.o_custkey = c.c_custkey
            GROUP BY f.o_custkey
        - type: python
          python: add_tier
"""


@register_python_step("add_tier")
def add_tier(spark, dfs):
    # last select isn't aliased; recompute from the aliased cached step
    base = spark.sql(
        """
        SELECT f.o_custkey, MAX(f.o_totalprice) AS max_price, COUNT(*) AS n_orders
        FROM filtered_orders f GROUP BY f.o_custkey
        """
    )
    return base.withColumn(
        "tier", F.when(F.col("max_price") > 100000, "gold").otherwise("std")
    )


@pytest.fixture()
def config():
    import yaml

    raw = yaml.safe_load(CONFIG_YAML.format(sf="/root/testdata/sf0.001"))
    return parse_pipeline_config(raw)


def test_pipeline_end_to_end(spark, config):
    table = config.tables[0]
    assert table.primary_key == ("o_custkey",)
    assert len(table.dependencies) == 2
    pipe = Pipeline(
        spark=spark,
        table=table,
        variable_resolver={"MIN_PRICE": 0.0}.__getitem__,
    )
    master = pipe.run(
        read_mode="full",
        write_mode="append",
        merge_mode="delta",
        transform_dt=datetime(2024, 1, 1),
    )
    rows = {r.o_custkey: r for r in master.collect()}
    assert rows  # non-empty
    # spot-check against a direct computation
    expected = (
        spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
        .filter(F.col("o_orderdate") <= "1998-09-01")
        .groupBy("o_custkey")
        .agg(F.max("o_totalprice").alias("max_price"), F.count("*").alias("n"))
    )
    exp = {r.o_custkey: r for r in expected.collect()}
    assert set(rows) == set(exp)
    some = next(iter(rows))
    assert rows[some].max_price == exp[some].max_price
    assert rows[some].tier in ("gold", "std")
    # journal flipped to historic after merge (F21)
    states = {r["__record_state"] for r in pipe.journal.select("__record_state").collect()}
    assert states == {"H"}
    # second run: delta merge over already-flipped journal is a no-op upsert
    pipe.write_journal(
        pipe.master.select("o_custkey", "max_price", "n_orders", "tier"),
        datetime(2024, 2, 1),
    )
    master2 = pipe.merge("delta")
    assert master2.count() == len(rows)


def test_missing_transform_mode_raises(spark, config):
    pipe = Pipeline(
        spark=spark,
        table=config.tables[0],
        variable_resolver={"MIN_PRICE": 0.0}.__getitem__,
    )
    with pytest.raises(ValueError, match="delta"):
        pipe.transform("delta")


def test_invalid_modes_raise(spark, config):
    pipe = Pipeline(spark=spark, table=config.tables[0])
    with pytest.raises(ValueError, match="write_mode"):
        pipe.write_journal(spark.range(1), None, write_mode="bogus")
    with pytest.raises(ValueError, match="merge_mode"):
        pipe.merge("bogus")


def test_landing_config_lands_master_with_sketches(spark, tmp_path):
    """The `landing:` config block (F17 from config): after merge, the
    master lands at the declared path; declaring sketch_keys adds the
    per-key CMS planner sketches, invisible to plain reads but serving
    decision_from_metadata without a table scan."""
    import yaml

    from dwh_etl_framework_spark.sources.sinks import (
        decision_from_metadata,
        read_table_sketch,
    )

    land = tmp_path / "landed_master"
    cfg = parse_pipeline_config(yaml.safe_load(f"""
tables:
  - target: dwh.landing_demo
    primary_key: [o_custkey]
    dependencies:
      - alias: orders_src
        format: parquet
        path: "/root/testdata/sf0.001/orders.parquet"
    transform:
      full:
        - type: select
          sql: >
            SELECT o_custkey, MAX(o_totalprice) AS max_price,
                   CAST(COUNT(*) AS BIGINT) AS n_orders
            FROM orders_src GROUP BY o_custkey
    landing:
      path: "{land}"
      sketch_keys: [o_custkey]
"""))
    pipe = Pipeline(spark=spark, table=cfg.tables[0])
    master = pipe.run(transform_dt=datetime(2024, 1, 1))
    back = spark.read.parquet(str(land))
    assert back.count() == master.count()
    assert "o_custkey" in back.columns
    sk, w = read_table_sketch(spark, str(land), "o_custkey")
    assert sk.count() > 0 and w > 0
    d = decision_from_metadata(
        spark, str(land), "o_custkey", str(land), "o_custkey",
        broadcast_threshold_rows=10**9,
    )
    assert d.n_left == master.count() == d.n_right


def test_landing_config_validation():
    import yaml

    with pytest.raises(ValueError, match="path"):
        parse_pipeline_config(yaml.safe_load("""
tables:
  - target: t
    transform: {full: [{sql: "SELECT 1 AS x"}]}
    landing: {sketch_keys: [x]}
"""))
    with pytest.raises(ValueError, match="unknown landing"):
        parse_pipeline_config(yaml.safe_load("""
tables:
  - target: t
    transform: {full: [{sql: "SELECT 1 AS x"}]}
    landing: {path: /tmp/x, sketchkeys: [x]}
"""))


def test_landing_config_normalizes_scalar_columns_and_rejects_bad_shapes():
    """ADVICE r11 (low): 'partition_by: day' is YAML's natural scalar
    form — it must become ['day'], never explode to ['d','a','y'] at
    land time; non-string shapes are refused at parse time."""
    import yaml

    cfg = parse_pipeline_config(yaml.safe_load("""
tables:
  - target: t
    transform: {full: [{sql: "SELECT 1 AS x"}]}
    landing: {path: /tmp/x, partition_by: day, sketch_keys: x}
"""))
    landing = cfg.tables[0].landing
    assert landing["partition_by"] == ["day"]
    assert landing["sketch_keys"] == ["x"]

    for bad in ("partition_by: {a: 1}", "sketch_keys: [x, 3]",
                "partition_by: ['']", "w: five"):
        with pytest.raises(ValueError, match="landing"):
            parse_pipeline_config(yaml.safe_load(f"""
tables:
  - target: t
    transform: {{full: [{{sql: "SELECT 1 AS x"}}]}}
    landing: {{path: /tmp/x, {bad}}}
"""))


FUNCTIONS_YAML = """
tables:
  - target: dwh.revenue_by_year
    primary_key: [ship_year]
    dependencies:
      - alias: li
        format: parquet
        path: "{sf}/lineitem.parquet"
    functions:
      - >
        CREATE OR REPLACE TEMPORARY FUNCTION cfg_revenue_cents(
            price DOUBLE, discount DOUBLE)
        RETURNS BIGINT
        RETURN CAST(floor(price * (1 - discount) * 100) AS BIGINT)
    transform:
      full:
        - type: select
          sql: >
            SELECT year(l_shipdate) AS ship_year,
                   SUM(cfg_revenue_cents(l_extendedprice, l_discount))
                       AS revenue_cents
            FROM li GROUP BY year(l_shipdate)
"""


def test_config_declared_sql_functions_register_and_rerun(spark):
    """The `functions:` block (round-12 surface): a SQL UDF declared in
    config is usable by the table's steps, re-running transform() is
    idempotent (OR REPLACE), and the result equals the inlined SQL."""
    import os

    sf = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
    cfg = parse_pipeline_config(
        __import__("yaml").safe_load(FUNCTIONS_YAML.format(sf=sf))
    )
    pipe = Pipeline(spark=spark, table=cfg.tables[0])
    pipe.register_dependencies()
    got = {r["ship_year"]: r["revenue_cents"] for r in pipe.transform().collect()}
    got2 = {r["ship_year"]: r["revenue_cents"] for r in pipe.transform().collect()}
    assert got == got2  # OR REPLACE makes retries idempotent
    want = {
        r["ship_year"]: r["revenue_cents"]
        for r in spark.read.parquet(f"{sf}/lineitem.parquet")
        .selectExpr(
            "year(l_shipdate) AS ship_year",
            "CAST(floor(l_extendedprice * (1 - l_discount) * 100) AS BIGINT)"
            " AS cents",
        )
        .groupBy("ship_year")
        .agg(F.sum("cents").alias("revenue_cents"))
        .collect()
    }
    assert got == want


def test_config_functions_validated_at_parse_time():
    import yaml

    for bad in (
        "CREATE TEMPORARY FUNCTION f(x INT) RETURNS INT RETURN x",  # no OR REPLACE
        "CREATE OR REPLACE FUNCTION f(x INT) RETURNS INT RETURN x",  # not TEMPORARY
        "DROP FUNCTION f",
        42,
    ):
        with pytest.raises(ValueError, match="functions"):
            parse_pipeline_config(yaml.safe_load(f"""
tables:
  - target: t
    transform: {{full: [{{sql: "SELECT 1 AS x"}}]}}
    functions: [{bad!r}]
"""))


def _persistent_rdd_ids(spark) -> set[int]:
    return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())


def test_refresh_releases_step_caches_of_landed_tables(spark, tmp_path):
    """A ``cache: true`` step and the join planner's two sketch checkpoints
    pin three RDDs per refresh. Once the config's tables have landed,
    those are released, so repeated refreshes in one long-lived session
    leave the persistent-RDD count flat; a table without ``landing`` keeps
    its cache, because its lazy master still reads it."""
    from dwh_etl_framework_spark.plans.pipeline import run_pipeline_config
    from conftest import SF_DIR

    def dep(alias):
        return {"alias": alias, "format": "parquet",
                "path": f"{SF_DIR}/{alias}.parquet"}

    stg = {"type": "select", "alias": "stg", "cache": True, "sql": (
        "SELECT l.l_partkey, l.l_quantity FROM lineitem l JOIN orders o "
        "ON l.l_orderkey = o.o_orderkey")}
    mart = {"type": "select", "join_strategy": {
        "left": "stg", "right": "part",
        "left_key": "l_partkey", "right_key": "p_partkey"}, "sql": (
        "SELECT p.p_partkey, SUM(s.l_quantity) AS qty FROM stg s "
        "JOIN part p ON s.l_partkey = p.p_partkey GROUP BY p.p_partkey")}
    table = {"target": "mart.part_qty", "primary_key": ["p_partkey"],
             "dependencies": [dep("lineitem"), dep("orders"), dep("part")],
             "transform": {"full": [stg, mart]}}
    landed = parse_pipeline_config({"tables": [
        dict(table, landing={"path": str(tmp_path / "part_qty")})]})
    before = _persistent_rdd_ids(spark)
    counts = []
    for _ in range(3):
        pipes = run_pipeline_config(
            spark, landed, transform_dt=datetime(2024, 1, 1)
        )
        counts.append(len(_persistent_rdd_ids(spark) - before))
    assert counts == [0, 0, 0]
    # the released caches were only caches: the master still reads
    landed_rows = pipes["mart.part_qty"].master.count()
    assert landed_rows == spark.read.parquet(str(tmp_path / "part_qty")).count()

    unlanded = parse_pipeline_config({"tables": [table]})
    pipes = run_pipeline_config(
        spark, unlanded, transform_dt=datetime(2024, 1, 1)
    )
    kept = pipes["mart.part_qty"].step_caches
    assert len(kept) == 3
    assert pipes["mart.part_qty"].master.count() == landed_rows
    pipes["mart.part_qty"].release_step_caches()
