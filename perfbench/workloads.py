"""The three benchmark workloads, driven through the package's public API.

Each workload function takes a :class:`Ctx` and returns the list of op
records ``{"op", "start", "end", "ok", "rows"}`` (times from
``time.time()``); op 0 is the cold first op. Output checks run afterwards
(``check.py``), outside every timed region.
"""

from __future__ import annotations

import glob
import time
from dataclasses import dataclass, field

from pyspark.sql import SparkSession

#: Seconds a catch-up stream may run before it counts as failed; short
#: enough that a run with a stuck stream still ends within 180 s.
STREAM_TIMEOUT_S = 90


@dataclass
class Ctx:
    spark: SparkSession
    tracer: object
    inputs: str  # generated input root
    out: str  # landed tables and published state
    ops: int  # ops after the cold first one
    props: dict
    notes: dict = field(default_factory=dict)


# ---- warehouse_refresh ---------------------------------------------------

def _report_date(op: int) -> str:
    """Each refresh runs for another report date, so no refresh can reuse
    the previous one's cached staging result."""
    import datetime as dt

    return (dt.date(1998, 8, 2) - dt.timedelta(days=7 * op)).isoformat()


def warehouse_config(inputs: str, out: str) -> dict:
    """The refreshed config. The first table has a staging select with
    ``cache: true``, a mart step with a ``join_strategy`` block and a rollup
    step with a window, then journal write, ``merge_full`` and a ``landing``
    with ``sketch_keys``; the second reads the orders again for a windowed
    per-customer rollup."""

    def dep(alias):
        return {"alias": alias, "format": "parquet", "path": f"{inputs}/{alias}"}

    report = [{"name": "report_date", "variable": "report_date"}]
    return {"tables": [
        {
            "target": "mart.part_sales",
            "primary_key": ["p_partkey", "o_year"],
            "dependencies": [dep("lineitem"), dep("orders"), dep("part")],
            "parameters": report,
            "transform": {"full": [
                {"type": "select", "alias": "stg", "cache": True, "sql": (
                    "SELECT l.l_partkey, YEAR(o.o_orderdate) AS o_year, "
                    "l.l_quantity, l.l_extendedprice * (1 - l.l_discount) "
                    "AS revenue FROM lineitem l JOIN orders o "
                    "ON l.l_orderkey = o.o_orderkey "
                    "WHERE l.l_shipdate <= DATE '{report_date}'")},
                {"type": "select", "alias": "mart",
                 "join_strategy": {"left": "stg", "right": "part",
                                   "left_key": "l_partkey",
                                   "right_key": "p_partkey"},
                 "sql": (
                    "SELECT p.p_partkey, s.o_year, p.p_brand, "
                    "SUM(s.revenue) AS revenue, SUM(s.l_quantity) AS qty, "
                    "COUNT(*) AS n_lines FROM stg s JOIN part p "
                    "ON s.l_partkey = p.p_partkey "
                    "GROUP BY p.p_partkey, s.o_year, p.p_brand")},
                {"type": "select", "alias": "rollup", "sql": (
                    "SELECT *, RANK() OVER (PARTITION BY p_brand, o_year "
                    "ORDER BY revenue DESC, p_partkey) AS brand_rank, "
                    "SUM(revenue) OVER (PARTITION BY p_brand, o_year) "
                    "AS brand_revenue FROM mart")},
            ]},
            "landing": {"path": f"{out}/part_sales", "sketch_keys": ["p_partkey"]},
        },
        {
            # a plain second table: one select with a window, landed
            # without sketches
            "target": "mart.customer_value",
            "primary_key": ["c_custkey"],
            "dependencies": [dep("orders"), dep("customer"), dep("nation")],
            "parameters": report,
            "transform": {"full": [
                {"type": "select", "sql": (
                    "SELECT c.c_custkey, c.c_nationkey, n.n_name, "
                    "c.c_mktsegment, co.n_orders, co.total, "
                    "RANK() OVER (PARTITION BY n.n_name "
                    "ORDER BY co.total DESC, c.c_custkey) AS nation_rank "
                    "FROM (SELECT o_custkey, COUNT(*) AS n_orders, "
                    "SUM(o_totalprice) AS total FROM orders "
                    "WHERE o_orderdate <= DATE '{report_date}' "
                    "GROUP BY o_custkey) co JOIN customer c "
                    "ON co.o_custkey = c.c_custkey "
                    "JOIN nation n ON c.c_nationkey = n.n_nationkey")},
            ]},
            "landing": {"path": f"{out}/customer_value"},
        },
    ]}


def warehouse_refresh(ctx: Ctx) -> list[dict]:
    from dwh_etl_framework_spark.plans.config import parse_pipeline_config
    from dwh_etl_framework_spark.plans.pipeline import run_pipeline_config

    cfg = parse_pipeline_config(warehouse_config(ctx.inputs, ctx.out))
    ops = []
    for i in range(ctx.ops + 1):
        date = _report_date(ctx.ops - i)  # the last op lands the checked date
        rec = {"op": i, "rows": ctx.props["rows_per_op"], "start": time.time()}
        try:
            with ctx.tracer.op(i):
                run_pipeline_config(
                    ctx.spark, cfg, transform_dt="2024-01-01 00:00:00",
                    variable_resolver={"report_date": date}.__getitem__,
                )
            rec["ok"] = True
        except Exception as exc:  # one failed refresh must not end the run
            rec["ok"], rec["error"] = False, repr(exc)[:300]
        rec["end"] = time.time()
        ops.append(rec)
    ctx.notes["report_date"] = _report_date(0)
    ctx.notes["run_window"] = (ops[0]["start"], ops[-1]["end"])
    return ops


# ---- streaming helpers ---------------------------------------------------

def _await_stream(ctx: Ctx, query, n_files: int, rows_per_file: int,
                  first_op: int = 0) -> list[dict]:
    """Wait for a catch-up stream; turn its triggers into op records.

    A stream that has not terminated within ``STREAM_TIMEOUT_S`` is stopped
    and every trigger it did not complete counts as a failed op; a trigger
    is never recorded from a timed-out stream as a sample."""
    finished = query.awaitTermination(STREAM_TIMEOUT_S)
    end = time.time()
    if not finished:
        query.stop()
    error = query.exception()
    progress = [p for p in query.recentProgress if p.numInputRows > 0]
    ops = []
    for p in progress:
        start = _iso_to_epoch(p.timestamp)
        ops.append({
            "op": first_op + p.batchId, "rows": p.numInputRows, "start": start,
            "end": start + p.durationMs["triggerExecution"] / 1000.0,
            "ok": finished and error is None,
            "durations": dict(p.durationMs),
        })
    for i in range(len(ops), n_files):  # triggers that never ran
        ops.append({"op": first_op + i, "rows": rows_per_file, "start": end,
                    "end": end, "ok": False})
    if not finished:
        ctx.notes["stream_error"] = f"timed out after {STREAM_TIMEOUT_S} s"
    elif error is not None:
        ctx.notes["stream_error"] = str(error)[:300]
    ctx.tracer.stream_ops(ops)
    ctx.notes["stream_end"] = end
    return ops


def _iso_to_epoch(ts: str) -> float:
    import datetime as dt

    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


# ---- journal_upsert --------------------------------------------------------

def journal_upsert(ctx: Ctx) -> list[dict]:
    """Replay the journal files through ``stream_merge_to_master`` with
    ``maxFilesPerTrigger=1``: a closed-loop catch-up, one trigger per file."""
    from dwh_etl_framework_spark.operators.merge import JournalSpec
    from dwh_etl_framework_spark.streaming import merge as smerge

    spark = ctx.spark
    path = f"{ctx.out}/master"
    # publishing the base master is set-up, outside the run and the trace
    smerge.StreamMasterState(spark, path).write(
        spark.read.parquet(f"{ctx.inputs}/base"))
    state = ctx.tracer.state(smerge.StreamMasterState, spark, path,
                             "streaming.merge")
    files = sorted(glob.glob(f"{ctx.inputs}/journal/*.parquet"))
    schema = spark.read.parquet(files[0]).schema
    t0 = time.time()
    with ctx.tracer.span("streaming.merge:stream_merge_to_master"):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(f"{ctx.inputs}/journal")
        )
        query = smerge.stream_merge_to_master(
            stream, JournalSpec(primary_key=("k",)), state,
            f"{ctx.out}/_checkpoint",
        )
        ops = _await_stream(ctx, query, len(files), ctx.props["rows_per_op"])
    ctx.notes["run_window"] = (t0, ctx.notes["stream_end"])
    return ops


# ---- corpus_curation -------------------------------------------------------

def corpus_curation(ctx: Ctx) -> list[dict]:
    """Batch pass (the cold first op), then one ingest trigger per file."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators import dedup, graph, setjoin
    from dwh_etl_framework_spark.streaming import ingest_dedup
    from dwh_etl_framework_spark.streaming.merge import StreamMasterState

    spark, tr = ctx.spark, ctx.tracer
    state = tr.state(StreamMasterState, spark, f"{ctx.out}/corpus",
                     "streaming.merge")
    first = {"op": 0, "rows": ctx.props["base_docs"], "start": time.time()}
    try:
        with tr.op(0):
            docs = spark.read.parquet(f"{ctx.inputs}/base")
            with tr.span("operators.dedup:exact_dedup"):
                exact = dedup.exact_dedup(docs, "text", "doc_id")
            with tr.span("operators.setjoin:prefix_filter_jaccard_pairs"):
                pairs = setjoin.prefix_filter_jaccard_pairs(
                    exact, "text", "doc_id", n=3, threshold=0.5
                )
            with tr.span("operators.graph:dedup_clusters"):
                clusters = graph.dedup_clusters(exact.select("doc_id"), pairs,
                                                "doc_id")
            keep = clusters.filter(F.col("is_survivor")).select("doc_id")
            state.write(exact.join(keep, "doc_id").select("doc_id", "text"))
        first["ok"] = True
    except Exception as exc:
        first["ok"], first["error"] = False, repr(exc)[:300]
        exact = pairs = None
    first["end"] = time.time()
    ctx.notes["batch"] = {"exact": exact, "pairs": pairs}
    files = sorted(glob.glob(f"{ctx.inputs}/increments/*.parquet"))
    if not first["ok"]:
        return [first] + [{"op": 1 + i, "rows": ctx.props["rows_per_op"],
                           "start": first["end"], "end": first["end"],
                           "ok": False} for i in range(len(files))]
    schema = spark.read.parquet(files[0]).schema
    with tr.span("streaming.ingest_dedup:stream_ingest_dedup"):
        stream = (
            spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(f"{ctx.inputs}/increments")
        )
        query = ingest_dedup.stream_ingest_dedup(
            stream, state, f"{ctx.out}/_checkpoint"
        )
        ops = _await_stream(ctx, query, len(files), ctx.props["rows_per_op"],
                            first_op=1)
    ctx.notes["run_window"] = (first["start"], ctx.notes["stream_end"])
    return [first] + ops


WORKLOADS = {
    "warehouse_refresh": warehouse_refresh,
    "journal_upsert": journal_upsert,
    "corpus_curation": corpus_curation,
}
