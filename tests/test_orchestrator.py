"""F23/F24 orchestrator adapter: DAG task factories, topological execution,

declaration-order fallback, cycle/unknown-edge validation."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from dwh_etl_framework_spark.plans.config import parse_pipeline_config
from dwh_etl_framework_spark.plans.orchestrator import (
    build_table_tasks,
    run_tasks,
    to_airflow,
)

ORDERS = "/root/testdata/sf0.001/orders.parquet"


def _config(declare_dependent_first: bool) -> dict:
    stg = {
        "target": "stg.order_totals2",
        "primary_key": ["o_custkey"],
        "dependencies": [
            {"alias": "orders_src2", "format": "parquet", "path": ORDERS},
        ],
        "transform": {
            "full": [
                {"type": "select", "sql": (
                    "SELECT o_custkey, COUNT(*) AS n_orders "
                    "FROM orders_src2 GROUP BY o_custkey")},
            ]
        },
    }
    dm = {
        "target": "dm.big_customers2",
        "primary_key": ["o_custkey"],
        "depends_on": ["stg.order_totals2"],
        "dependencies": [],
        "transform": {
            "full": [
                {"type": "select", "sql": (
                    "SELECT o_custkey, n_orders FROM stg_order_totals2 "
                    "WHERE n_orders >= 10")},
            ]
        },
    }
    tables = [dm, stg] if declare_dependent_first else [stg, dm]
    return {"tables": tables}


def test_dag_order_beats_declaration_order(spark):
    """The dependent table is DECLARED first; explicit depends_on edges must
    still run the upstream table first (the sequential reference loop would
    fail on the missing view)."""
    config = parse_pipeline_config(_config(declare_dependent_first=True))
    tasks = build_table_tasks(
        spark, config, merge_mode="full", transform_dt=datetime(2024, 1, 1)
    )
    assert [t.upstream for t in tasks] == [("stg.order_totals2",), ()]
    pipes = run_tasks(tasks)
    stg = pipes["stg.order_totals2"].master
    dm = pipes["dm.big_customers2"].master
    assert dm.count() == stg.filter(F.col("n_orders") >= 10).count() > 0


def test_declaration_order_fallback_chains_tasks(spark):
    """Without depends_on, tasks chain in declaration order — the
    reference's config loop semantics."""
    cfg = _config(declare_dependent_first=False)
    del cfg["tables"][1]["depends_on"]
    tasks = build_table_tasks(
        spark, parse_pipeline_config(cfg),
        merge_mode="full", transform_dt=datetime(2024, 1, 1),
    )
    assert tasks[0].upstream == ()
    assert tasks[1].upstream == ("stg.order_totals2",)
    pipes = run_tasks(tasks)
    assert pipes["dm.big_customers2"].master.count() > 0


def test_unknown_edge_fails_at_build_time(spark):
    cfg = _config(declare_dependent_first=False)
    cfg["tables"][1]["depends_on"] = ["no.such_table"]
    with pytest.raises(ValueError, match="unknown targets"):
        build_table_tasks(spark, parse_pipeline_config(cfg))


def test_cycle_detection(spark):
    cfg = _config(declare_dependent_first=False)
    cfg["tables"][0]["depends_on"] = ["dm.big_customers2"]
    tasks = build_table_tasks(
        spark, parse_pipeline_config(cfg),
        merge_mode="full", transform_dt=datetime(2024, 1, 1),
    )
    with pytest.raises(ValueError, match="cycle"):
        run_tasks(tasks)


def test_to_airflow_requires_airflow(spark):
    """No Airflow in this container: the adapter must fail with a clear
    ImportError, not an engine crash (if Airflow IS present, it must
    build operators instead)."""
    config = parse_pipeline_config(_config(declare_dependent_first=False))
    tasks = build_table_tasks(spark, config)
    try:
        import airflow  # noqa: F401
    except ImportError:
        with pytest.raises(ImportError, match="apache-airflow"):
            to_airflow(dag=None, tasks=tasks)
    else:  # pragma: no cover - container has no airflow
        pytest.skip("airflow installed; adapter exercised elsewhere")


def test_orchestrated_refresh_releases_step_caches_of_landed_tables(
    spark, tmp_path
):
    """The DAG path frees what a refresh pinned, like run_pipeline_config:
    a ``cache: true`` step and the join planner's two sketch checkpoints
    pin three RDDs per refresh, released once the DAG has finished, so
    three orchestrated refreshes leave the persistent-RDD count flat."""
    sf = ORDERS.rsplit("/", 1)[0]

    def persistent_rdds() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    def dep(alias):
        return {"alias": alias, "format": "parquet",
                "path": f"{sf}/{alias}.parquet"}

    stg = {"type": "select", "alias": "stg", "cache": True, "sql": (
        "SELECT l.l_partkey, l.l_quantity FROM lineitem l JOIN orders o "
        "ON l.l_orderkey = o.o_orderkey")}
    mart = {"type": "select", "join_strategy": {
        "left": "stg", "right": "part",
        "left_key": "l_partkey", "right_key": "p_partkey"}, "sql": (
        "SELECT p.p_partkey, SUM(s.l_quantity) AS qty FROM stg s "
        "JOIN part p ON s.l_partkey = p.p_partkey GROUP BY p.p_partkey")}
    config = parse_pipeline_config({"tables": [{
        "target": "mart.part_qty_dag", "primary_key": ["p_partkey"],
        "dependencies": [dep("lineitem"), dep("orders"), dep("part")],
        "transform": {"full": [stg, mart]},
        "landing": {"path": str(tmp_path / "part_qty")},
    }]})
    before = persistent_rdds()
    counts = []
    for _ in range(3):
        done = run_tasks(
            build_table_tasks(spark, config, transform_dt=datetime(2024, 1, 1))
        )
        counts.append(len(persistent_rdds() - before))
    assert counts == [0, 0, 0]
    assert done["mart.part_qty_dag"].step_caches == []
    landed = spark.read.parquet(str(tmp_path / "part_qty")).count()
    assert done["mart.part_qty_dag"].master.count() == landed
