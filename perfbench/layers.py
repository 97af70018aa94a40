"""Per-layer metric names and the figures derived from SQL-plan metrics.

Spark is lazy, so a layer call that only builds a plan shows up with no
jobs; its work runs inside a later call (``merge_full`` inside the landing
write, the setjoin verify inside the first clustering round). The per-span
figures in ``spans.py`` attribute work to the call that executed it; the
figures here take the lazy operators' share from the SQL-plan node metrics
of the executions that ran them.
"""

from __future__ import annotations

import re
import statistics

from spans import LAYERS

_PER_SPAN = [
    ("calls", "count"), ("call_s", "s"), ("self_s", "s"), ("jobs", "count"),
    ("gap_s", "s"), ("task_s", "s"), ("shuffle_write_mb", "MB"),
    ("spill_mb", "MB"), ("output_mb", "MB"), ("failed_tasks", "count"),
]
TRIGGER = ["addBatch", "queryPlanning", "getBatch", "walCommit"]

PER_LAYER = (
    [(f"{layer}.{m}", unit) for layer in LAYERS for m, unit in _PER_SPAN]
    + [(f"streaming.trigger.{d}_s", "s") for d in TRIGGER]
    + [
        ("operators.setjoin.verify_yield", "ratio"),
        ("operators.graph.rounds", "count"),
        ("streaming.ingest_dedup.survivor_ratio", "ratio"),
        ("streaming.merge.rows_written_per_input_row", "ratio"),
        ("trace.run_s", "s"),
        ("trace.unexplained_s", "s"),
    ]
)


def _metric(node: dict, name: str) -> float:
    """A node metric's total as a number (sizes in bytes, counts as is)."""
    for m in node.get("metrics", []):
        if m["name"] == name:
            return _parse(m["value"])
    return 0.0


_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}


def _parse(value: str) -> float:
    """'12,345' -> 12345; 'total (min, med, max ...)\\n3.2 MiB (...)' -> bytes."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = re.match(r"\s*([\d,]+(?:\.\d+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    num = float(m.group(1).replace(",", ""))
    return num * _UNITS.get(m.group(2) or "B", 1) if m.group(2) else num


def _executions(tracer, prefix: str) -> list[dict]:
    """SQL executions owned by spans whose name starts with ``prefix``."""
    seen, out = set(), []
    for s in tracer.spans:
        if s["name"].startswith(prefix):
            for ex in tracer.sql_by_span.get(s["id"], []):
                if ex["id"] not in seen:
                    seen.add(ex["id"])
                    out.append(ex)
    return out


def _plan_descs(spark, exec_id: int) -> dict[int, str]:
    """Node id -> node description from the SQL status store's plan graph
    (the REST API gives node names and metrics, not descriptions)."""
    graph = spark._jsparkSession.sharedState().statusStore().planGraph(exec_id)
    nodes = graph.allNodes()
    return {int(n.id()): n.desc()
            for n in (nodes.apply(i) for i in range(nodes.size()))}


def _merge_exchange_mb(spark, ex: dict) -> float:
    """Shuffle MB of the journal merge's exchange in one execution: the
    Exchange fed by the partial argmax over the (``__transform_dt``,
    ``__load_dt``, ``-__seqno``) struct that ``latest_per_key`` plans."""
    if "__o1" not in ex.get("planDescription", ""):
        return 0.0
    descs = _plan_descs(spark, ex["id"])
    child_of = {e["toId"]: e["fromId"] for e in ex.get("edges", [])}
    total = 0.0
    for n in ex["nodes"]:
        if n["nodeName"] != "Exchange":
            continue
        child = descs.get(child_of.get(n["nodeId"], -1), "")
        if "__o1" in child and "Aggregate" in child:
            total += _metric(n, "shuffle bytes written")
    return total / 2**20


def derived(tracer, ctx, ops, check: dict) -> dict:
    """Figures that come from plan-node metrics, progress reports and the
    output check rather than from span timing."""
    out: dict[str, float] = {}
    trig = [o["durations"] for o in ops if "durations" in o and o["ok"]]
    for d in TRIGGER:
        vals = [t.get(d, 0) / 1000.0 for t in trig]
        if vals:
            out[f"streaming.trigger.{d}_s"] = statistics.median(vals)
    spark = ctx.spark
    merge_mb = sum(
        _merge_exchange_mb(spark, ex)
        for prefix in ("sources.sinks", "streaming.merge:StreamMasterState.write")
        for ex in _executions(tracer, prefix)
    )
    if merge_mb:
        out["operators.merge.shuffle_write_mb"] = merge_mb
    # candidate pairs = rows of the verify stage's repartition on
    # (doc_a, doc_b); the first clustering round executes it
    cand = 0.0
    for ex in _executions(tracer, "operators.graph"):
        descs = None
        for n in ex["nodes"]:
            if n["nodeName"] != "Exchange":
                continue
            descs = descs or _plan_descs(spark, ex["id"])
            d = descs.get(n["nodeId"], "")
            if "REPARTITION_BY_NUM" in d and "doc_a" in d and "doc_b" in d:
                cand += _metric(n, "shuffle records written")
    if cand:
        out["operators.setjoin.verify_yield"] = check["verified_pairs"] / cand
    rounds = sum(
        1 for ex in _executions(tracer, "operators.graph")
        if any(n["nodeName"] == "CollectMetrics" for n in ex["nodes"])
    )
    if rounds:
        out["operators.graph.rounds"] = float(rounds)
    if check.get("increment_docs"):
        out["streaming.ingest_dedup.survivor_ratio"] = (
            check["increment_survivors"] / check["increment_docs"])
    written = sum(
        _metric(n, "number of output rows")
        for ex in _executions(tracer, "streaming.merge:StreamMasterState.write")
        for n in ex["nodes"] if n["nodeName"].startswith("Execute Insert")
    )
    consumed = sum(o["rows"] for o in ops if o["ok"])
    if written and consumed:
        out["streaming.merge.rows_written_per_input_row"] = written / consumed
    return out
