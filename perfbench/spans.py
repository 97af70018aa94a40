"""Tracing for the benchmark's traced run.

Spans are recorded only from the benchmark's own files, around the calls
into each layer's public functions: the benchmark wraps those functions
(and the ``StreamMasterState`` it hands to the streams) while the traced
run lasts, and restores them afterwards. A span is kept in memory as
``(name, start, end, parent, op)`` and written out when the run ends.
Span names are ``<layer>:<function>``; the layer is the package module.

Each span sets its own Spark job group, so every job is attributed to the
call that ran it. Streaming jobs carry the query's ``runId`` as their job
group; they go to the innermost span open when they were submitted. Job,
stage and SQL-plan figures come from the local status REST API after the
run, once the listener bus is drained.

Per span, "self" means the part of its interval no child span covers.
``gap_s`` is the self time in which no Spark job was running: driver-side
planning, sizing collects and round-trips.
"""

from __future__ import annotations

import bisect
import contextlib
import datetime as dt
import json
import threading
import time
import urllib.request
from collections import defaultdict

#: (module, attribute, span name): the public functions wrapped in the
#: traced run, at the name the calling module looks them up under.
WRAPPED = [
    ("dwh_etl_framework_spark.plans.pipeline", "register_sources",
     "sources.registry:register_sources"),
    ("dwh_etl_framework_spark.plans.pipeline", "run_transform_steps",
     "plans.steps:run_transform_steps"),
    ("dwh_etl_framework_spark.plans.pipeline", "stamp_journal_columns",
     "operators.merge:stamp_journal_columns"),
    ("dwh_etl_framework_spark.plans.pipeline", "merge_full",
     "operators.merge:merge_full"),
    ("dwh_etl_framework_spark.sources.sinks", "write_table",
     "sources.sinks:write_table"),
    ("dwh_etl_framework_spark.sources.sinks", "write_table_with_sketches",
     "sources.sinks:write_table_with_sketches"),
    ("dwh_etl_framework_spark.streaming.merge", "merge_delta",
     "operators.merge:merge_delta"),
    ("dwh_etl_framework_spark.streaming.merge", "stamp_journal_columns",
     "operators.merge:stamp_journal_columns"),
    ("dwh_etl_framework_spark.streaming.ingest_dedup", "screen_batch",
     "streaming.ingest_dedup:screen_batch"),
    ("dwh_etl_framework_spark.operators.dedup", "minhash_signatures",
     "operators.dedup:minhash_signatures"),
    ("dwh_etl_framework_spark.operators.dedup", "lsh_candidate_pairs_cross",
     "operators.dedup:lsh_candidate_pairs_cross"),
]

LAYERS = [
    "session", "sources.registry", "plans.steps", "sources.sinks",
    "operators.merge", "operators.dedup", "operators.setjoin",
    "operators.graph", "streaming.merge", "streaming.ingest_dedup",
]


class NullTracer:
    """The untraced run: every hook is a no-op."""

    enabled = False

    def span(self, name):
        return contextlib.nullcontext()

    def op(self, op_id):
        return contextlib.nullcontext()

    def state(self, cls, spark, path, layer):
        return cls(spark, path)

    def stream_ops(self, ops):
        pass


class Tracer(NullTracer):
    enabled = True

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[dict] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self._patched: list[tuple] = []

    # -- recording ---------------------------------------------------------
    @contextlib.contextmanager
    def span(self, name, op_id=None):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            idx = len(self.spans)
            rec = {"id": idx, "name": name, "op": op_id, "start": time.time(),
                   "end": None, "group": f"perfbench-{idx}"}
            self.spans.append(rec)
        sc = self.spark.sparkContext if self.spark is not None else None
        prev = None
        if sc is not None:
            prev = (sc.getLocalProperty("spark.jobGroup.id"),
                    sc.getLocalProperty("spark.job.description"))
            sc.setLocalProperty("spark.jobGroup.id", rec["group"])
            sc.setLocalProperty("spark.job.description", name)
        stack.append(idx)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.time()
            if sc is not None:
                sc.setLocalProperty("spark.jobGroup.id", prev[0])
                sc.setLocalProperty("spark.job.description", prev[1])

    def op(self, op_id):
        return self.span("op", op_id)

    def wrap(self, fn, name):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def install(self):
        import importlib

        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            orig = getattr(mod, attr)
            self._patched.append((mod, attr, orig))
            setattr(mod, attr, self.wrap(orig, name))

    def uninstall(self):
        for mod, attr, orig in reversed(self._patched):
            setattr(mod, attr, orig)
        self._patched.clear()

    def state(self, cls, spark, path, layer):
        tracer = self

        class TracedState(cls):
            def read(self):
                with tracer.span(f"{layer}:StreamMasterState.read"):
                    return super().read()

            def write(self, df):
                with tracer.span(f"{layer}:StreamMasterState.write"):
                    return super().write(df)

        return TracedState(spark, path)

    def stream_ops(self, ops):
        """Add one synthetic ``op`` span per trigger, from the trigger's
        own progress report (its start and ``triggerExecution``)."""
        with self._lock:
            for o in ops:
                if o["end"] > o["start"]:
                    self.spans.append({
                        "id": len(self.spans), "name": "op", "op": o["op"],
                        "start": o["start"], "end": o["end"], "group": None,
                    })

    # -- folding -------------------------------------------------------------
    def fold(self) -> dict:
        """Attribute jobs to spans and fold them into per-layer metrics."""
        rest = _Rest(self.spark)
        jobs, stages, sqls = rest.jobs(), rest.stages(), rest.sql()
        spans = [s for s in self.spans if s["end"] is not None]
        _build_tree(spans)
        by_group = {s["group"]: s for s in spans if s["group"]}
        starts = sorted((s["start"], s["id"]) for s in spans)
        by_id = {s["id"]: s for s in spans}
        for s in spans:
            s.update(jobs=[], task_s=0.0, shuffle_write_mb=0.0, spill_mb=0.0,
                     output_mb=0.0, failed_tasks=0)
        job_iv = []
        for j in jobs:
            t0, t1 = _ts(j.get("submissionTime")), _ts(j.get("completionTime"))
            if t0 is None:
                continue
            job_iv.append((t0, t1 if t1 is not None else t0))
            owner = by_group.get(j.get("jobGroup"))
            if owner is None:
                owner = _innermost(starts, by_id, t0)
            if owner is None:
                continue
            owner["jobs"].append(j["jobId"])
            for sid in j.get("stageIds", []):
                st = stages.get(sid)
                if st is None:
                    continue
                owner["task_s"] += st["executorRunTime"] / 1000.0
                owner["shuffle_write_mb"] += st["shuffleWriteBytes"] / 2**20
                owner["spill_mb"] += st["diskBytesSpilled"] / 2**20
                owner["output_mb"] += st["outputBytes"] / 2**20
                owner["failed_tasks"] += st["numFailedTasks"]
        busy = _union(job_iv)
        for s in spans:
            self_iv = _subtract([(s["start"], s["end"])],
                                [(c["start"], c["end"]) for c in s["children"]])
            s["self_s"] = _length(self_iv)
            s["gap_s"] = _length(_subtract(self_iv, busy))
        self.sql_by_span = _sql_by_span(sqls, spans)
        return self._layers(spans)

    def _layers(self, spans) -> dict:
        out: dict[str, float] = {}
        agg = defaultdict(lambda: defaultdict(float))
        for s in spans:
            layer = s["name"].split(":")[0]
            if layer not in LAYERS:
                continue
            a = agg[layer]
            if not _has_ancestor_layer(s, layer):
                a["calls"] += 1
                a["call_s"] += s["end"] - s["start"]
            a["self_s"] += s["self_s"]
            a["jobs"] += len(s["jobs"])
            a["gap_s"] += s["gap_s"]
            for k in ("task_s", "shuffle_write_mb", "spill_mb", "output_mb",
                      "failed_tasks"):
                a[k] += s[k]
        for layer, a in agg.items():
            for k, v in a.items():
                out[f"{layer}.{k}"] = v
        return out

    def op_accounting(self) -> list[dict]:
        """Per op: wall time, the self time of each layer inside it, and the
        remainder no layer span explains (the op span's own self time)."""
        rows = []
        for s in self.spans:
            if s["name"] != "op" or "self_s" not in s:
                continue
            per_layer = defaultdict(float)
            stack = list(s["children"])
            while stack:
                c = stack.pop()
                per_layer[c["name"].split(":")[0]] += c["self_s"]
                stack.extend(c["children"])
            rows.append({
                "op": s["op"], "wall_s": s["end"] - s["start"],
                "layers_self_s": dict(per_layer),
                "unexplained_s": s["self_s"],
                "unexplained_gap_s": s["gap_s"],
            })
        return rows

    def dump(self, path: str, extra: dict) -> None:
        def plain(s):
            return {
                "name": s["name"], "start": s["start"], "end": s["end"],
                "parent": s.get("parent"), "op": s.get("op_id", s["op"]),
                "self_s": s.get("self_s"), "gap_s": s.get("gap_s"),
                "jobs": s.get("jobs"),
            }

        with open(path, "w") as fh:
            json.dump({"spans": [plain(s) for s in self.spans],
                       "ops": self.op_accounting(), **extra}, fh, indent=1)


# ---- helpers ---------------------------------------------------------------

def _build_tree(spans):
    """Parent = the innermost span whose interval contains this one; an
    enclosing ``op`` span gives its op id to everything inside it."""
    order = sorted(spans, key=lambda s: (s["start"], -(s["end"]), s["id"]))
    for s in spans:
        s["children"] = []
        s["parent"] = s["_up"] = None
    stack: list[dict] = []
    for s in order:
        while stack and not (stack[-1]["start"] <= s["start"]
                             and s["end"] <= stack[-1]["end"]):
            stack.pop()
        if stack:
            s["parent"], s["_up"] = stack[-1]["id"], stack[-1]
            stack[-1]["children"].append(s)
        s["op_id"] = s["op"] if s["name"] == "op" else (
            stack[-1].get("op_id") if stack else None)
        stack.append(s)


def _innermost(starts, by_id, t):
    """The shortest span open at time ``t``."""
    i = bisect.bisect_right(starts, (t, float("inf")))
    best = None
    for _, sid in reversed(starts[:i]):
        s = by_id[sid]
        if s["end"] >= t and (best is None or s["end"] - s["start"]
                              < best["end"] - best["start"]):
            best = s
    return best


def _has_ancestor_layer(s, layer):
    p = s.get("_up")
    while p is not None:
        if p["name"].split(":")[0] == layer:
            return True
        p = p.get("_up")
    return False


def _union(iv):
    out = []
    for a, b in sorted(iv):
        if out and a <= out[-1][1]:
            out[-1][1] = max(out[-1][1], b)
        else:
            out.append([a, b])
    return [tuple(x) for x in out]


def _subtract(base, cut):
    out = list(base)
    for c0, c1 in _union(cut):
        nxt = []
        for a, b in out:
            if c1 <= a or b <= c0:
                nxt.append((a, b))
                continue
            if a < c0:
                nxt.append((a, c0))
            if c1 < b:
                nxt.append((c1, b))
        out = nxt
    return out


def _length(iv):
    return sum(b - a for a, b in iv)


def _ts(s):
    if not s:
        return None
    return dt.datetime.strptime(s.replace("GMT", "+0000"),
                                "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


class _Rest:
    """The local Spark status REST API, read after the listener bus drained."""

    def __init__(self, spark):
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = (f"http://127.0.0.1:{port}/api/v1/applications/"
                     f"{sc.applicationId}")

    def _get(self, path):
        with urllib.request.urlopen(self.base + path, timeout=60) as r:
            return json.load(r)

    def jobs(self):
        return self._get("/jobs")

    def stages(self):
        out = {}
        for st in self._get("/stages"):
            if st.get("status") == "SKIPPED":
                continue
            out[st["stageId"]] = st  # last attempt wins
        return out

    def sql(self):
        return self._get("/sql?details=true&planDescription=true"
                         "&offset=0&length=100000")


def _sql_by_span(sqls, spans):
    """SQL executions grouped by the span that owns their jobs."""
    job_owner = {j: s["id"] for s in spans for j in s["jobs"]}
    out = defaultdict(list)
    for ex in sqls:
        ids = (ex.get("successJobIds", []) + ex.get("failedJobIds", [])
               + ex.get("runningJobIds", []))
        owners = {job_owner[j] for j in ids if j in job_owner}
        for o in owners:
            out[o].append(ex)
    return out
