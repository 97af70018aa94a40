"""Step execution + sequencing (F7, F9-F14; ``airflow_etl.py:234-270,540-667``).

The reference's inner engine call is ``spark.sql(script)`` — ours too. Its
checkpoint-cache (F9) wrote each cached step to ORC and re-read it
(``airflow_etl.py:263-269``); here checkpointing is pluggable:

- ``persist``  — ``df.persist(MEMORY_AND_DISK)`` (no lineage cut, cheapest),
- ``local``    — ``df.localCheckpoint(eager=True)`` (lineage cut, in-memory),
- ``parquet``  — write+re-read like the reference (lineage cut, survives the
  session; the right choice for very long pipelines at 100 TB where
  recomputation on executor loss would be catastrophic).
"""

from __future__ import annotations

import uuid
from collections.abc import Callable, Mapping
from dataclasses import dataclass, field, replace
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from dwh_etl_framework_spark.plans.config import TransformStep
from dwh_etl_framework_spark.plans.params import fill_sql_parameters

#: Registry for python steps (typed replacement of the reference's
#: ``compile()+exec()`` of arbitrary files, ``airflow_etl.py:627-641``).
PythonStep = Callable[[SparkSession, Mapping[str, DataFrame]], DataFrame]
PYTHON_STEPS: dict[str, PythonStep] = {}


def register_python_step(name: str) -> Callable[[PythonStep], PythonStep]:
    def deco(fn: PythonStep) -> PythonStep:
        PYTHON_STEPS[name] = fn
        return fn

    return deco


@dataclass
class StepContext:
    """Everything a step needs; threads the named-DataFrame environment."""

    spark: SparkSession
    parameters: Mapping[str, object] = field(default_factory=dict)
    dataframes: dict[str, DataFrame] = field(default_factory=dict)
    sql_base_dir: str | Path | None = None
    checkpoint_mode: str = "persist"  # persist | local | parquet
    checkpoint_dir: str | None = None
    #: named JDBC connections for engine='pushdown' steps (F8): key →
    #: {"url": ..., "options": {...}} — the Spark-native form of the
    #: reference's Airflow connection Variables (connector.py:6-17)
    connections: Mapping[str, Mapping] = field(default_factory=dict)
    #: JoinDecisions recorded by steps that declared ``join_strategy``,
    #: keyed by step alias (or "left⋈right" when the step has none) —
    #: the audit trail a pipeline run leaves of its sketch-driven plan
    #: choices.
    join_decisions: dict[str, object] = field(default_factory=dict)
    #: DataFrames the steps pinned in memory (``persist``/``local``
    #: checkpoints and the join planner's sketch checkpoints), for the
    #: caller to release once nothing reads them (``session.release``).
    persisted: list[DataFrame] = field(default_factory=list)


def plan_step_join(ctx: StepContext, spec: Mapping) -> tuple:
    """Sketch-driven join planning for a select step (the x105 decision
    at the pipeline-config surface; see ``TransformStep.join_strategy``).

    Derives a :class:`~dwh_etl_framework_spark.operators.sketch.JoinDecision`
    from a CMS sketch per side and re-registers the two temp views under
    the decided physical shape:

    - broadcast decision → the small side's view carries a broadcast
      hint (the hint is part of the view's logical plan, so it applies
      however the step's SQL references the view);
    - shuffle decision → BOTH views are repartitioned on their join keys
      at the decision's exchange width, so the join reuses the
      co-partitioning and adds no further exchange — the
      ``apply_join_strategy`` discipline, reachable from config.

    The shaping is SCOPED to this step: the caller restores the original
    views after the step's SQL is analyzed (views resolve at analysis
    time, so the step's plan keeps the shape while later steps see the
    unshaped inputs — a leaked broadcast hint would otherwise force
    broadcasting in joins the planner would never choose it for).
    Returns ``(decision, restore)`` where ``restore()`` undoes the view
    re-registration.

    Sketch source: by default each side is sketched inline (one scan);
    ``left_state``/``right_state`` point at CMS fold state directories
    (``streaming/distinct.fold_cms_batch``) to serve the sketch from
    continuously maintained state instead — the metadata-only planning
    story for incremental runs (decision equality batch≡stream is pinned
    by ``tests/test_join_strategy.py``)."""
    from pyspark.sql import functions as F

    from dwh_etl_framework_spark.operators.sketch import (
        CMS_W,
        choose_join_strategy,
        cms_sketch,
    )

    def resolve(name: str) -> DataFrame:
        df = ctx.dataframes.get(name)
        return df if df is not None else ctx.spark.table(name)

    def persisted_sketch(
        name: str, key: str, state_dir: str | None, table_path: str | None
    ) -> tuple[DataFrame, int | None] | None:
        """Load a side's PERSISTED sketch — a landed table's
        ``_sketches/`` metadata (``left_table``/``right_table``, zero
        scans, the F17 sink tier) or a CMS fold state dir
        (``left_state``/``right_state``, the streaming tier). Returns
        ``None`` when the side has no persisted source (inline scan);
        width is ``None`` only for legacy state written before widths
        were persisted."""
        if table_path is not None:
            from dwh_etl_framework_spark.sources.sinks import read_table_sketch

            sk, sw = read_table_sketch(ctx.spark, table_path, key)
            if "w" in spec and int(spec["w"]) != sw:
                raise ValueError(
                    f"join_strategy asks w={spec['w']} but the landed "
                    f"sketch for {name!r} ({table_path!r}) was written at "
                    f"w={sw} — the 'w' option cannot re-width persisted "
                    "counters"
                )
            sk = sk.localCheckpoint(eager=True)
            ctx.persisted.append(sk)
            return sk, sw
        if state_dir is not None:
            from dwh_etl_framework_spark.streaming.distinct import (
                cms_state_width,
                current_cms,
            )
            from dwh_etl_framework_spark.streaming.merge import StreamMasterState

            st = StreamMasterState(ctx.spark, state_dir)
            sk = current_cms(st)
            if sk is None:
                raise ValueError(
                    f"join_strategy state dir {state_dir!r} holds no folded "
                    f"sketch yet for view {name!r}"
                )
            sw = cms_state_width(st)
            if "w" in spec and sw is not None and int(spec["w"]) != sw:
                raise ValueError(
                    f"join_strategy asks w={spec['w']} but the folded state "
                    f"for {name!r} ({state_dir!r}) was built at w={sw} — "
                    "the 'w' option cannot re-width persisted counters"
                )
            return sk, sw
        return None

    left, right = spec["left"], spec["right"]
    lkey, rkey = spec["left_key"], spec["right_key"]
    # Phase 1: load any persisted sketches and learn their widths, so an
    # inline-scanned side can ADOPT a persisted width instead of
    # hard-failing on a perfectly satisfiable config (review r11: a
    # landed w=64 table + a plain view used to raise 're-fold one side'
    # although the inline sketch is computed fresh and could simply be
    # built at 64).
    lp = persisted_sketch(left, lkey, spec.get("left_state"), spec.get("left_table"))
    rp = persisted_sketch(right, rkey, spec.get("right_state"), spec.get("right_table"))
    known = [p[1] for p in (lp, rp) if p is not None and p[1] is not None]
    if "w" in spec:
        w = int(spec["w"])
    elif known:
        w = known[0]  # two conflicting knowns are caught by the guard below
    else:
        w = CMS_W
    # Phase 2: inline sides sketch at the resolved width.
    def inline_sketch(name: str, key: str) -> tuple[DataFrame, int]:
        sk = cms_sketch(resolve(name).select(key), key, w).localCheckpoint(
            eager=True
        )
        ctx.persisted.append(sk)
        return sk, w

    lsk, lw = lp if lp is not None else inline_sketch(left, lkey)
    rsk, rw = rp if rp is not None else inline_sketch(right, rkey)
    # width guard (ADVICE r10): cms_join_size inner-joins the two counter
    # tables on (r, col) — sketches at DIFFERENT widths silently drop
    # cells and UNDER-estimate the join size, violating the
    # never-undercounts guarantee the shuffle sizing relies on.
    if lw is not None and rw is not None:
        if lw != rw:
            raise ValueError(
                f"join_strategy sketch widths differ: {left!r} is w={lw}, "
                f"{right!r} is w={rw} — re-fold one side so both hash into "
                "the same width"
            )
    else:
        # legacy state without a persisted width: its max populated col
        # is a LOWER bound on its width; a bound at or past the known
        # side's width proves a mismatch (the reverse proves nothing, so
        # this path detects, not certifies — re-fold to persist widths).
        known = lw if lw is not None else rw
        legacy_sk = rsk if lw is not None else lsk
        if known is not None:
            bound = legacy_sk.agg(F.max("col").alias("m")).first()["m"]
            if bound is not None and int(bound) >= int(known):
                raise ValueError(
                    "join_strategy sketch widths differ: a state-served "
                    f"sketch populates col={int(bound)} but the other side "
                    f"is w={int(known)} — re-fold the state (new folds "
                    "persist their width) so the guard can certify equality"
                )
    par = spec.get("parallelism")
    decision = choose_join_strategy(
        lsk,
        rsk,
        broadcast_threshold_rows=int(spec.get("broadcast_threshold_rows", 1_000_000)),
        rows_per_task=int(spec.get("rows_per_task", 2_000_000)),
        parallelism=int(par) if par is not None else None,
    )
    if decision.strategy == "broadcast_left":
        shaped = {left: F.broadcast(resolve(left))}
    elif decision.strategy == "broadcast_right":
        shaped = {right: F.broadcast(resolve(right))}
    else:
        n = decision.shuffle_partitions
        shaped = {
            left: resolve(left).repartition(n, F.col(lkey)),
            right: resolve(right).repartition(n, F.col(rkey)),
        }
    originals = {name: resolve(name) for name in shaped}
    for name, df in shaped.items():
        df.createOrReplaceTempView(name)
        ctx.dataframes[name] = df

    def restore() -> None:
        for name, df in originals.items():
            df.createOrReplaceTempView(name)
            ctx.dataframes[name] = df

    return decision, restore


def plan_step_join_order(ctx: StepContext, spec: Mapping) -> tuple:
    """Statistics-tier join-ORDER planning for a select step (the x109
    System-R decision at the pipeline-config surface; see
    ``TransformStep.join_order``).

    Reads exact row counts (CMS tier) and NDVs (HLL tier) from the three
    tables' landed ``_sketches/`` metadata — NONE of the inputs is
    scanned — runs the Selinger intermediate-size dynamic program
    (``sources.sinks.choose_join_order_from_metadata``, pinned equal to
    the oracled x109 arithmetic), and registers temp view ``spec['as']``
    holding the chain joined in the chosen left-deep order:

    - ``lm_first`` → ``(left ⋈ mid) ⋈ right``
    - ``mr_first`` → ``(mid ⋈ right) ⋈ left``

    Inner-join semantics are order-independent, so the step's SQL sees
    the same rows either way; only the physical join tree changes —
    Catalyst preserves the authored order for connected equi-join chains
    (CBO join reordering is off by default), so the DP's choice IS the
    executed order (pinned by ``tests/test_join_order_step.py``). The
    view is SCOPED to this step like join_strategy's shaping: the caller
    restores/drops it after the step's SQL is analyzed. Returns
    ``(order_decision, restore)``.

    Two spec forms:

    - three-table (``left``/``mid``/``right`` + tables + keys) — the
      pairwise x109 decision;
    - ``chain: [{view, table, right_key[, left_key]}, …]`` for ANY
      chain length — the x110 interval DP
      (``choose_chain_join_order_from_metadata``); each element's
      ``right_key`` joins the next element's ``left_key``.

    Scale shape: at 100 TB the decision costs k ≤ d·w counter reads
    plus 2(k-1) ≤ m-row register reads; choosing the wrong first join on
    a skewed chain is the difference between an |orders|-row and an
    |lineitem|-row intermediate exchange."""
    from dwh_etl_framework_spark.sources.sinks import (
        choose_chain_join_order_from_metadata,
        choose_join_order_from_metadata,
    )

    def resolve(name: str) -> DataFrame:
        df = ctx.dataframes.get(name)
        return df if df is not None else ctx.spark.table(name)

    if "chain" in spec:
        elems = spec["chain"]
        tabs: list[tuple] = []
        for i, e in enumerate(elems):
            if i == 0:
                tabs.append((e["table"], e["right_key"]))
            elif i == len(elems) - 1:
                tabs.append((e["table"], e["left_key"]))
            else:
                tabs.append((e["table"], e["left_key"], e["right_key"]))
        order = choose_chain_join_order_from_metadata(ctx.spark, tabs)
        dfs = [resolve(e["view"]) for e in elems]
        seq = order["order"]
        chain = dfs[seq[0]]
        lo = hi = seq[0]
        for t in seq[1:]:
            edge = t if t < lo else t - 1  # the chain edge being joined
            cond = (
                dfs[edge][elems[edge]["right_key"]]
                == dfs[edge + 1][elems[edge + 1]["left_key"]]
            )
            chain = chain.join(dfs[t], cond)
            lo, hi = min(lo, t), max(hi, t)
    else:
        order = choose_join_order_from_metadata(
            ctx.spark,
            (spec["left_table"], spec["left_key"]),
            (spec["mid_table"], spec["mid_left_key"], spec["mid_right_key"]),
            (spec["right_table"], spec["right_key"]),
        )
        left = resolve(spec["left"])
        mid = resolve(spec["mid"])
        right = resolve(spec["right"])
        cond_lm = left[spec["left_key"]] == mid[spec["mid_left_key"]]
        cond_mr = mid[spec["mid_right_key"]] == right[spec["right_key"]]
        if order["chosen"] == "lm_first":
            chain = left.join(mid, cond_lm).join(right, cond_mr)
        else:
            chain = mid.join(right, cond_mr).join(left, cond_lm)

    name = spec["as"]
    had_prior = name in ctx.dataframes
    prior = ctx.dataframes.get(name)
    chain.createOrReplaceTempView(name)
    ctx.dataframes[name] = chain

    def restore() -> None:
        if had_prior:
            prior.createOrReplaceTempView(name)
            ctx.dataframes[name] = prior
        else:
            ctx.spark.catalog.dropTempView(name)
            ctx.dataframes.pop(name, None)

    return order, restore


def checkpoint(df: DataFrame, ctx: StepContext, step_alias: str | None) -> DataFrame:
    """Materialize a step result (F9); in-memory results are recorded in
    ``ctx.persisted``."""
    mode = ctx.checkpoint_mode
    if mode == "parquet":
        base = ctx.checkpoint_dir or "/tmp/dwh_etl_framework_spark/checkpoints"
        path = f"{base}/{step_alias or uuid.uuid4().hex}"
        df.write.mode("overwrite").parquet(path)
        return ctx.spark.read.parquet(path)
    if mode == "persist":
        df = df.persist(StorageLevel.MEMORY_AND_DISK)
    elif mode == "local":
        df = df.localCheckpoint(eager=True)
    else:
        raise ValueError(f"unknown checkpoint mode {mode!r}")
    ctx.persisted.append(df)
    return df


def run_select_step(ctx: StepContext, step: TransformStep) -> DataFrame:
    """F11: fill params → execute → optional cache+view.

    engine='spark' runs in the session (F7); engine='pushdown' ships the
    SQL to the named JDBC connection and pulls the result (F8, the
    reference's engine='greenplum' branch, airflow_etl.py:252-260)."""
    sql = fill_sql_parameters(step.resolve_sql(ctx.sql_base_dir), ctx.parameters)
    restores: list = []

    def record_decision(base: str, decision: object) -> None:
        key, i = base, 2
        while key in ctx.join_decisions:  # two steps sharing an alias/pair:
            key, i = f"{base}#{i}", i + 1  # keep every audit entry
        ctx.join_decisions[key] = decision

    if step.join_order is not None:
        order, restore_order = plan_step_join_order(ctx, step.join_order)
        restores.append(restore_order)
        record_decision(
            f"order:{step.alias or step.join_order['as']}", order
        )
    if step.join_strategy is not None:
        decision, restore_views = plan_step_join(ctx, step.join_strategy)
        restores.append(restore_views)
        record_decision(
            step.alias
            or f"{step.join_strategy['left']}⋈{step.join_strategy['right']}",
            decision,
        )
    if step.pruned_scans is not None:
        from dwh_etl_framework_spark.sources.zonemaps import (
            register_pruned_view,
        )

        for scan in step.pruned_scans:
            intervals = {
                c: (b[0], b[1]) for c, b in scan["intervals"].items()
            }
            info, restore_scan = register_pruned_view(
                ctx.spark, scan["as"], scan["table"], intervals
            )
            restores.append(restore_scan)
            # same audit trail as the join decisions: what the zone-map
            # metadata pruned, per step (SUPERSET contract — the step's
            # SQL still applies its exact predicate)
            record_decision(f"prune:{scan['as']}", info)
    try:
        if step.engine == "pushdown":
            try:
                conn = ctx.connections[step.connection]
            except KeyError:
                raise KeyError(
                    f"pushdown step references unknown connection "
                    f"{step.connection!r}; known: {sorted(ctx.connections)}"
                ) from None
            from dwh_etl_framework_spark.sources.registry import (
                SourceSpec,
                load_source,
            )

            df = load_source(
                ctx.spark,
                SourceSpec(
                    alias=step.alias or "__pushdown",
                    format="jdbc",
                    url=conn["url"],
                    query=sql,
                    options=dict(conn.get("options", {})),
                ),
            )
        else:
            df = ctx.spark.sql(sql)
    finally:
        # spark.sql analyzed the statement above (or raised), so the
        # shaped/chain views are already bound into df's plan where one
        # exists; restoring in finally scopes the shaping to THIS
        # step even when the SQL raises — otherwise a caller that
        # catches the error and continues would run every later step
        # against broadcast-hinted/repartitioned views (ADVICE r10)
        for restore in reversed(restores):
            restore()
    if step.cache or step.cache_dir:
        if step.cache_dir:
            # explicit cache_dir forces a durable parquet checkpoint, like the
            # reference's ORC dump dir (airflow_etl.py:573-575)
            local = replace(ctx, checkpoint_mode="parquet", checkpoint_dir=step.cache_dir)
            df = checkpoint(df, local, step.alias)
        else:
            df = checkpoint(df, ctx, step.alias)
    if step.alias:
        df.createOrReplaceTempView(step.alias)
        ctx.dataframes[step.alias] = df
    return df


def run_sql_script_step(ctx: StepContext, step: TransformStep) -> None:
    """F12: side-effecting SQL (DDL/DML) against the Spark catalog.

    The reference shipped these to Greenplum over psycopg2
    (``airflow_etl.py:593-625``); Spark-native, the catalog is the warehouse.
    Multiple statements are ';'-separated like a psql script.
    """
    sql = fill_sql_parameters(step.resolve_sql(ctx.sql_base_dir), ctx.parameters)
    for statement in filter(None, (s.strip() for s in sql.split(";"))):
        ctx.spark.sql(statement)


def run_python_step(ctx: StepContext, step: TransformStep) -> DataFrame:
    """F13: run a registered python callable as a pipeline stage."""
    try:
        fn = PYTHON_STEPS[step.python]
    except KeyError:
        raise KeyError(
            f"python step {step.python!r} is not registered; "
            f"known: {sorted(PYTHON_STEPS)}"
        ) from None
    df = fn(ctx.spark, dict(ctx.dataframes))
    if step.alias:
        df.createOrReplaceTempView(step.alias)
        ctx.dataframes[step.alias] = df
    return df


def run_transform_steps(
    ctx: StepContext, steps: list[TransformStep]
) -> DataFrame | None:
    """F14: run steps in order; the last select/python result is the pipeline

    output (``airflow_etl.py:643-667``).
    """
    result: DataFrame | None = None
    for step in steps:
        if step.type == "select":
            result = run_select_step(ctx, step)
        elif step.type == "sql script":
            run_sql_script_step(ctx, step)
        elif step.type == "python":
            result = run_python_step(ctx, step)
        else:  # pragma: no cover - validated at config parse
            raise ValueError(f"unknown step type {step.type!r}")
    return result
