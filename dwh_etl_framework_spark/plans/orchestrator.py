"""Orchestrator adapter (F23/F24) — DAG task factories over Pipeline.

The reference's task factories return Airflow ``PythonOperator``s wired
into a DAG (``airflow_etl.py:486-538``, ``:736-774``). Orchestration adds
no query semantics (SURVEY.md §3), so the engine stays
orchestrator-agnostic: ``build_table_tasks`` turns a ``PipelineConfig``
into plain named callables with explicit upstream edges, and thin
adapters map those onto whatever runner is present:

- ``run_tasks``      — built-in topological executor (Kahn), used by tests
                       and cron-style deployments; detects cycles and
                       unknown edges instead of deadlocking.
- ``to_airflow``     — optional: lowers the same tasks to Airflow
                       PythonOperators with ``>>`` edges (import-guarded;
                       this container ships no Airflow and the engine
                       never requires it).

Edges come from ``TableConfig.depends_on`` (targets of other tables whose
published master views this table reads). Tables without ``depends_on``
fall back to declaration order — exactly the reference's sequential
config loop (``airflow_etl.py:687``).
"""

from __future__ import annotations

from collections.abc import Callable, Sequence
from dataclasses import dataclass

from pyspark.sql import SparkSession

from dwh_etl_framework_spark.plans.config import PipelineConfig
from dwh_etl_framework_spark.plans.pipeline import (
    Pipeline,
    _refresh_table,
    _release_landed,
)


@dataclass(frozen=True)
class TaskDef:
    """One DAG node: run this table's pipeline after ``upstream`` targets."""

    task_id: str
    target: str
    fn: Callable[[], Pipeline]
    upstream: tuple[str, ...]


def _task_id(target: str) -> str:
    return target.replace(".", "_")


def build_table_tasks(
    spark: SparkSession,
    config: PipelineConfig,
    read_mode: str = "full",
    write_mode: str = "append",
    merge_mode: str = "full",
    transform_dt=None,
    variable_resolver=None,
    sql_base_dir: str | None = None,
    connections: dict | None = None,
) -> list[TaskDef]:
    """One task per table (F24 ``create_task`` parity). Each callable runs

    the table's full lifecycle and publishes the merged master as a temp
    view named after the target (dots → underscores) so downstream tables
    can read it — the same layering contract as ``run_pipeline_config``.
    Unknown ``depends_on`` targets fail here, at build time, not mid-DAG.
    """
    known = {t.target for t in config.tables}
    # declaration-order chaining (the reference's sequential config loop)
    # applies only when NO table declares edges; once any table is explicit,
    # implicit chaining would manufacture cycles against it
    any_explicit = any(t.depends_on for t in config.tables)
    tasks: list[TaskDef] = []
    prev_target: str | None = None
    for table in config.tables:
        unknown = [d for d in table.depends_on if d not in known]
        if unknown:
            raise ValueError(
                f"table {table.target!r} depends on unknown targets {unknown}"
            )
        if any_explicit:
            upstream = tuple(table.depends_on)
        else:
            upstream = (prev_target,) if prev_target is not None else ()

        def fn(table=table) -> Pipeline:
            return _refresh_table(
                spark,
                table,
                variable_resolver,
                sql_base_dir,
                connections,
                read_mode=read_mode,
                write_mode=write_mode,
                merge_mode=merge_mode,
                transform_dt=transform_dt,
            )

        tasks.append(
            TaskDef(
                task_id=_task_id(table.target),
                target=table.target,
                fn=fn,
                upstream=upstream,
            )
        )
        prev_target = table.target
    return tasks


def run_tasks(tasks: Sequence[TaskDef]) -> dict[str, Pipeline]:
    """Kahn topological execution of the task DAG.

    Deterministic: among ready tasks, declaration order wins. Raises on
    cycles (with the stuck task ids) instead of silently dropping tables.
    Once the DAG has finished, the step caches of the tables that landed
    are released, as in ``run_pipeline_config``.
    """
    done: dict[str, Pipeline] = {}
    pending = list(tasks)
    try:
        while pending:
            ready = [t for t in pending if all(u in done for u in t.upstream)]
            if not ready:
                stuck = [t.task_id for t in pending]
                raise ValueError(f"dependency cycle among tasks: {stuck}")
            for t in ready:
                done[t.target] = t.fn()
                pending.remove(t)
    finally:
        _release_landed(done.values())
    return done


def to_airflow(dag, tasks: Sequence[TaskDef]):
    """Lower the task list onto an Airflow DAG (F23 parity) — one

    PythonOperator per table, ``>>``-wired by upstream edges. Import-guarded:
    the engine does not depend on Airflow; call this only from a deployment
    that ships it."""
    try:
        from airflow.operators.python import PythonOperator
    except ImportError as exc:  # pragma: no cover - no airflow in container
        raise ImportError(
            "to_airflow requires apache-airflow; install it in the "
            "orchestrator image (the engine itself never needs it)"
        ) from exc
    ops = {
        t.target: PythonOperator(task_id=t.task_id, python_callable=t.fn, dag=dag)
        for t in tasks
    }
    by_target = {t.target: t for t in tasks}
    for t in tasks:
        for up in t.upstream:
            ops[by_target[up].target] >> ops[t.target]
    return ops
