"""Sinks F15-F17 of the reference, Spark-first.

Reference parity (SURVEY.md §2a):
- F15 jdbc-sink append — ``connector.py:51-61``.
- F16 truncate-overwrite sink — ``airflow_etl.py:70-108`` (TRUNCATE then
  append). In Spark this is ``mode("overwrite")``; for JDBC we keep the
  reference's truncate-in-place behavior via the ``truncate`` option so the
  target table's DDL survives.
- F17 datalake landing sink — ``airflow_etl.py:441-450`` (Hudi bulk_insert).
  Re-expressed as a parquet/delta write with explicit file-count control:
  at 100 TB the thing that matters is emitting sanely-sized files, so the
  writer repartitions by the partition columns (or to a target partition
  count) before writing.

Landed metadata: one commit protocol. A metadata landing writes the data
and then statistics beside it in a hidden directory of the table
(``_sketches/`` here, ``_zonemaps/`` in ``sources/zonemaps.py``). The two
writes are not one atomic commit, so every landing path runs them inside
one marker bracket (:func:`_commit`): touch ``<meta dir>/_pending_<id>``,
write the data, write the metadata, then delete the marker or raise. A
crash inside the bracket leaves the marker, and every reader of that tier
refuses while one exists, so a crashed landing is never served silently.
A full overwrite touches the marker right after its data write, because
that write wipes the metadata directory with the rest of the table (a crash
before it leaves no metadata, which is loud already). Single-partition
landings replace one hive partition under dynamic partition-overwrite
inside the same bracket (:func:`_overwrite_one_partition`).

The width rule for CMS fragments: an overwrite lands at ``w``, or at
``CMS_W`` when ``w`` is omitted, and reads no landed width. An append or a
partition landing that omits ``w`` adopts the width the key's landed
fragments carry (``CMS_W`` when the key has none), so one key's fragments
always merge. An explicit ``w`` on append is used as given (a conflicting
one then makes readers refuse ``mixed widths``); a partition landing
refuses an explicit ``w`` that conflicts with the landed width.
"""

from __future__ import annotations

import math
import uuid
from collections.abc import Callable, Collection, Mapping

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def write_table(
    df: DataFrame,
    path: str,
    fmt: str = "parquet",
    mode: str = "append",
    partition_by: list[str] | None = None,
    target_file_partitions: int | None = None,
) -> None:
    """Land a DataFrame at a datalake path (F17).

    ``partition_by`` produces a hive-layout table so downstream scans get
    partition pruning (the reference wrote unpartitioned dirs,
    ``airflow_etl.py:433-439`` — its main pruning defect at scale).
    """
    writer = df
    if partition_by:
        # co-locate rows of each output partition to avoid small files
        writer = df.repartition(*partition_by)
    elif target_file_partitions:
        writer = df.repartition(target_file_partitions)
    w = writer.write.format(fmt).mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.save(path)


def overwrite_table(df: DataFrame, path: str, fmt: str = "parquet", **kwargs) -> None:
    """Truncate-and-reload semantics (F16 / R12)."""
    write_table(df, path, fmt=fmt, mode="overwrite", **kwargs)


# ---- sketch metadata at sink time (VERDICT r10 #6) ----------------------

#: metadata subdirectory inside the table path. The leading underscore
#: matters: Spark's file index treats ``_*`` paths as hidden, so a plain
#: ``spark.read.parquet(table_path)`` never sees the sketch rows — the
#: metadata rides INSIDE the table directory invisibly (the same
#: convention as ``_SUCCESS``/``_metadata``).
SKETCH_DIR = "_sketches"

#: commit-intent marker (``<meta dir>/_pending_<id>``): present from just
#: before a landing's first side effect until every fragment has landed.
#: Readers REFUSE while one exists — a crashed write can therefore never
#: serve an undercounting sketch silently (ADVICE r11 #1).
PENDING_PREFIX = "_pending_"

#: erasure tombstone (``_sketches/<col>__hll_invalidated``): the HLL NDV
#: tier is MAX-merge-only, so erasure removes it; the tombstone keeps a
#: later append from quietly recreating a registers-cover-only-new-rows
#: tier (ADVICE r11 #2). Cleared only by a full-scan rebuild or an
#: overwrite (which wipes the whole table dir, tombstone included, and
#: lands a complete fresh HLL).
HLL_TOMBSTONE_SUFFIX = "__hll_invalidated"


def _hadoop_fs(spark, path: str):
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(path)
    return hpath.getFileSystem(spark._jsc.hadoopConfiguration()), hpath


def _touch(spark, path: str) -> None:
    fs, p = _hadoop_fs(spark, path)
    fs.create(p, True).close()


def _markers(spark, meta_dir: str) -> tuple[list[str], list[str]]:
    """(pending write markers, HLL erasure tombstones) in ``meta_dir``."""
    fs, p = _hadoop_fs(spark, meta_dir)
    if not fs.exists(p):
        return [], []
    names = [
        st.getPath().getName() for st in fs.listStatus(p) if st.isFile()
    ]
    return (
        sorted(n for n in names if n.startswith(PENDING_PREFIX)),
        sorted(n for n in names if n.endswith(HLL_TOMBSTONE_SUFFIX)),
    )


def _refuse_if_pending(
    spark,
    path: str,
    meta: str = SKETCH_DIR,
    repair: str = "Run rebuild_table_sketches() to rescan and republish.",
) -> list[str]:
    """Raise while a landing into ``<path>/<meta>`` is unpublished;
    otherwise return the tier's erasure tombstones."""
    pending, tombstones = _markers(spark, f"{path}/{meta}")
    if pending:
        raise IOError(
            f"{meta} metadata at {path!r} is inconsistent: a landing "
            f"crashed mid-span ({pending}) — the data directory may hold "
            f"rows the metadata does not describe. {repair}"
        )
    return tombstones


def _commit(
    spark,
    meta_dir: str,
    write_data: Callable[[], None],
    write_meta: Callable[[], None],
    data_wipes_meta: bool = False,
) -> None:
    """The marker bracket (module docstring): the marker exists from
    before the first side effect that leaves data without matching
    metadata until the metadata has landed. On an exception it stays."""
    marker = f"{meta_dir}/{PENDING_PREFIX}{uuid.uuid4().hex}"
    if not data_wipes_meta:
        _touch(spark, marker)
    write_data()
    if data_wipes_meta:
        _touch(spark, marker)
    write_meta()
    fs, p = _hadoop_fs(spark, marker)
    if fs.exists(p) and not fs.delete(p, False):
        raise IOError(f"failed to clear the pending marker {marker}")


def _overwrite_one_partition(
    df: DataFrame,
    path: str,
    partition_by: list[str],
    meta_dir: str,
    write_meta: Callable[[object], None],
    fmt: str = "parquet",
    what: str = "partition",
):
    """Land ``df``, which must hold exactly one combination of
    ``partition_by`` values, over that hive partition alone, then
    ``write_meta(combination)`` — both inside the marker bracket. Spark's
    dynamic partition-overwrite mode is set for the data write and
    restored after it. Returns the combination row."""
    spark = df.sparkSession
    combos = df.select(*partition_by).distinct().collect()
    if len(combos) != 1:
        raise ValueError(
            f"df holds {len(combos)} distinct {partition_by} combinations "
            f"— a {what} landing lands exactly one {what} per call (split "
            f"the input by {what} first)"
        )

    def write_data() -> None:
        conf = "spark.sql.sources.partitionOverwriteMode"
        previous = spark.conf.get(conf, "static")
        spark.conf.set(conf, "dynamic")
        try:
            write_table(
                df, path, fmt=fmt, mode="overwrite", partition_by=partition_by
            )
        finally:
            spark.conf.set(conf, previous)

    _commit(spark, meta_dir, write_data, lambda: write_meta(combos[0]))
    return combos[0]


def _fragments(spark, path: str, name: str) -> DataFrame:
    # recursive: erasure_<id> and part_<...> fragments live in
    # subdirectories next to the top-level ones
    return spark.read.option("recursiveFileLookup", "true").parquet(
        f"{path}/{SKETCH_DIR}/{name}"
    )


def _one_width(widths: list, path: str, col: str) -> int:
    if len(widths) != 1:
        raise ValueError(
            f"sketch fragments for {col!r} at {path!r} carry mixed widths "
            f"{sorted(widths)} — rebuild_table_sketches(w=...) rewrites "
            "them at one width"
        )
    return int(widths[0])


def _landed_width(spark, path: str, col: str) -> int | None:
    """The ``__cms_w`` the landed CMS fragments of ``col`` carry, or None
    when the key has no fragment directory. Read errors propagate; mixed
    widths raise, because such fragments do not merge."""
    fs, p = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}/{col}")
    if not fs.exists(p):
        return None
    rows = _fragments(spark, path, col).select("__cms_w").distinct().collect()
    return _one_width([r[0] for r in rows], path, col)


def _fragment_widths(
    spark, path: str, keys: list[str], w: int | None, mode: str
) -> dict[str, int]:
    """Per-key CMS width under the width rule (module docstring);
    ``mode`` is ``overwrite``, ``append`` or ``partition``."""
    from dwh_etl_framework_spark.operators.sketch import CMS_W

    widths = {}
    for col in keys:
        landed = None
        if mode == "partition" or (mode == "append" and w is None):
            landed = _landed_width(spark, path, col)
        if w is not None and landed is not None and int(w) != landed:
            raise ValueError(
                f"explicit w={w} conflicts with the landed width "
                f"{landed} for {col!r} at {path!r}"
            )
        widths[col] = int(w or landed or CMS_W)
    return widths


def _write_key_fragments(
    df: DataFrame,
    path: str,
    widths: Mapping[str, int],
    mode: str,
    sub: str = "",
    tombstones: Collection[str] | None = None,
) -> None:
    """Per key: the CMS fragment (tagged ``__cms_w``) at
    ``_sketches/<col><sub>``, then the HLL fragment at
    ``_sketches/<col>__hll<sub>`` unless an erasure tombstoned the key's
    NDV tier. ``tombstones`` defaults to the ones on disk now."""
    from dwh_etl_framework_spark.operators.sketch import (
        cms_sketch,
        hll_registers,
    )

    if tombstones is None:
        _, tombstones = _markers(df.sparkSession, f"{path}/{SKETCH_DIR}")
    for col, w in widths.items():
        sk = cms_sketch(df.select(col), col, w).withColumn(
            "__cms_w", F.lit(w)
        )
        sk.coalesce(1).write.mode(mode).parquet(
            f"{path}/{SKETCH_DIR}/{col}{sub}"
        )
        if f"{col}{HLL_TOMBSTONE_SUFFIX}" in tombstones:
            continue  # see write_table_with_sketches "Erasure interplay"
        # NDV tier: per-key HLL registers (MAX-mergeable, so appended
        # fragments merge-on-read like the CMS counters SUM). NDV feeds
        # the System-R join-output estimate (:func:`ndv_join_estimate`)
        # — the TIGHT companion to the CMS inner product's SAFE bound.
        regs = hll_registers(df.select(col), [], col)
        regs.coalesce(1).write.mode(mode).parquet(
            f"{path}/{SKETCH_DIR}/{col}__hll{sub}"
        )


def _key_dirs(spark, path: str) -> list[str]:
    """The ``_sketches/`` child dirs of the keys (HLL siblings excluded)."""
    fs, hpath = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}")
    if not fs.exists(hpath):
        return []
    return sorted(
        st.getPath().getName()
        for st in fs.listStatus(hpath)
        if st.isDirectory() and not st.getPath().getName().endswith("__hll")
    )


def write_table_with_sketches(
    df: DataFrame,
    path: str,
    sketch_keys: list[str],
    fmt: str = "parquet",
    mode: str = "append",
    w: int | None = None,
    **kwargs,
) -> None:
    """F17 + planner statistics: land the table AND a CMS sketch per key
    column under ``<path>/_sketches/<col>/``. CMS counters SUM-merge, so
    ``append`` writes append counter FRAGMENTS (one per write; readers
    merge-on-read by summing), and ``overwrite`` replaces them with the
    new table's sketch — the sketch directory always describes exactly
    the data directory's content.

    Crash consistency (ADVICE r11 #1) and the width ``w`` follow the one
    protocol and width rule of the module docstring: append brackets the
    data append too (the only silent window is data-landed-sketch-
    missing), overwrite sets the marker right after its data write. A
    crashed write reads as loud-broken until
    :func:`rebuild_table_sketches` republishes from a full scan.

    Erasure interplay (ADVICE r11 #2): an append over an erasure
    tombstone (:func:`subtract_table_sketch` removed the MAX-merge-only
    HLL tier) appends the CMS fragment but SKIPS the HLL fragment — a
    recreated tier would cover only the new rows and silently undercount
    every surviving pre-erasure key. The NDV tier stays loud-absent
    until a rebuild or a full overwrite.

    This is the 100 TB serving shape the x105 decision table claims: the
    broadcast-vs-shuffle choice (:func:`decision_from_metadata`) then
    reads two ≤ d·w counter tables instead of scanning either input —
    per-day/per-partition sketches merge by the same SUM."""
    spark = df.sparkSession
    overwrite = mode == "overwrite"
    if not overwrite:
        _refuse_if_pending(spark, path)  # don't compound a crash
    widths = _fragment_widths(
        spark, path, sketch_keys, w, "overwrite" if overwrite else "append"
    )
    # One materialization serves the table write AND every sketch pass:
    # without it, each cms/hll build re-executes the DataFrame's full
    # lineage (2 extra passes per key — a landed master's whole merge
    # plan, multiplied), and a non-deterministic upstream could make the
    # sketches describe different data than was landed (review r11).
    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _commit(
            spark,
            f"{path}/{SKETCH_DIR}",
            lambda: write_table(df, path, fmt=fmt, mode=mode, **kwargs),
            lambda: _write_key_fragments(df, path, widths, mode),
            data_wipes_meta=overwrite,
        )
    finally:
        df.unpersist()


def write_partition_with_sketches(
    df: DataFrame,
    path: str,
    sketch_keys: list[str],
    partition_by: list[str],
    w: int | None = None,
    fmt: str = "parquet",
) -> str:
    """Idempotently land ONE partition of a hive-partitioned table plus
    its per-partition sketch fragments — the 100 TB serving shape the
    f38 metadata loop claims (per-day fragments merged on read,
    ``write_table_with_sketches`` docstring): a daily ingest job calls
    this once per day, and a RE-RUN of the same day REPLACES both the
    data partition and its fragments instead of double-counting.

    Mechanics:

    - ``df`` must contain exactly one distinct combination of
      ``partition_by`` values (validated — the combination names the
      fragment subdirectory, e.g. ``_sketches/<col>/part_day=2024-01-05``).
    - the data lands under Spark's DYNAMIC partition-overwrite mode, so
      ``mode("overwrite")`` replaces only the touched hive partition;
    - each key's CMS/HLL fragments land with ``mode("overwrite")`` in
      the partition-named subdirectory — same idempotence contract as
      ``subtract_table_sketch``'s ``erasure_<id>`` fragments; readers
      merge-on-read recursively, so per-partition fragments SUM (CMS) /
      MAX (HLL) to exactly the whole table's sketch;
    - the marker bracket and the erasure tombstone interplay are those
      of :func:`write_table_with_sketches` append mode.

    Width follows the module's width rule: omitting ``w`` adopts the
    landed width, and an explicit conflicting ``w`` raises rather than
    stranding unmergeable fragments. Returns the partition tag."""
    if not partition_by:
        raise ValueError("write_partition_with_sketches requires partition_by")
    spark = df.sparkSession
    _refuse_if_pending(spark, path)  # don't compound a crash
    widths = _fragment_widths(spark, path, sketch_keys, w, "partition")

    def tag_of(combo) -> str:
        return "part_" + "_".join(f"{c}={combo[c]}" for c in partition_by)

    df = df.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        combo = _overwrite_one_partition(
            df,
            path,
            partition_by,
            f"{path}/{SKETCH_DIR}",
            lambda combo: _write_key_fragments(
                df, path, widths, "overwrite", sub=f"/{tag_of(combo)}"
            ),
            fmt=fmt,
        )
    finally:
        df.unpersist()
    return tag_of(combo)


def rebuild_table_sketches(
    spark,
    path: str,
    sketch_keys: list[str] | None = None,
    w: int | None = None,
    fmt: str = "parquet",
) -> list[str]:
    """Full-scan repair of a table's sketch metadata: recompute one CMS
    fragment + one HLL fragment per key from the CURRENT data directory,
    overwrite the per-key sketch dirs, then clear every pending marker
    and erasure tombstone. This is the recovery path the loud failures
    point at — a crashed :func:`write_table_with_sketches` append or an
    erasure-invalidated NDV tier.

    Markers are cleared LAST, so a crash mid-rebuild leaves the
    metadata loud-broken (re-run to finish), never silently partial.
    Returns the rebuilt key list. ``sketch_keys`` defaults to the keys
    with existing sketch dirs; ``w`` defaults to each key's landed
    width, or ``CMS_W`` for a key without fragments. Mixed-width
    fragments from a crash require an explicit ``w``, and a fragment
    directory that cannot be read raises rather than being rebuilt at a
    guessed width."""
    from dwh_etl_framework_spark.operators.sketch import CMS_W

    if sketch_keys is None:
        sketch_keys = _key_dirs(spark, path)
    if not sketch_keys:
        raise ValueError(
            f"no sketched keys under {path!r} — pass sketch_keys explicitly"
        )
    widths = {
        col: int(w or _landed_width(spark, path, col) or CMS_W)
        for col in sketch_keys
    }
    df = spark.read.format(fmt).load(path).persist(StorageLevel.MEMORY_AND_DISK)
    try:
        _write_key_fragments(df, path, widths, "overwrite", tombstones=())
    finally:
        df.unpersist()
    pending, tombstones = _markers(spark, f"{path}/{SKETCH_DIR}")
    for name in pending + tombstones:
        mfs, mp = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}/{name}")
        if mfs.exists(mp) and not mfs.delete(mp, False):
            raise IOError(f"failed to clear marker {name} after rebuild")
    return list(sketch_keys)


def read_table_sketch(spark, path: str, col: str) -> tuple[DataFrame, int]:
    """Merge-on-read of a persisted key sketch: SUM the counter fragments
    appended by successive writes into one (r, col, cnt) table. Returns
    ``(sketch, w)`` and refuses mixed widths (fragments written at
    different ``w`` do not merge — the plans/steps width guard) as well
    as a crashed unpublished write (pending marker — the data dir may
    hold rows no fragment covers)."""
    _refuse_if_pending(spark, path)
    w = _landed_width(spark, path, col)
    if w is None:
        raise FileNotFoundError(f"no sketch fragments for {col!r} at {path!r}")
    merged = _fragments(spark, path, col).groupBy("r", "col").agg(
        F.sum("cnt").cast("long").alias("cnt")
    )
    return merged, w


def sketched_keys(spark, path: str) -> list[str]:
    """The key columns a landed table carries sketches for (the
    ``_sketches/`` child dirs, HLL siblings excluded)."""
    _refuse_if_pending(spark, path)
    return _key_dirs(spark, path)


def subtract_table_sketch(
    spark,
    path: str,
    erased: DataFrame,
    erasure_id: str,
    cols: list[str] | None = None,
) -> None:
    """Keep the CMS metadata EXACT through a right-to-erasure rewrite
    (the f36 path): CMS counters are LINEAR, so deleting rows folds in
    as a NEGATIVE fragment, summed on read — ``cms_cardinality`` /
    ``cms_join_size`` keep describing exactly the surviving rows with
    no rescan. By default EVERY sketched key is subtracted (a single
    repaired column would leave the others overcounting erased rows).

    Fail-closed + idempotent by construction (review r11):

    - the non-subtractable HLL tier (MAX registers) is removed FIRST via
      the Hadoop FS API (works on any filesystem; a failed delete
      raises) — a crash mid-way leaves NDV readers failing loudly, never
      serving erased keys;
    - each negative fragment lands with ``mode("overwrite")`` in its own
      ``erasure_<erasure_id>`` subdirectory, so re-running the same
      erasure (crash recovery, at-least-once orchestration) REPLACES its
      fragment instead of double-subtracting. ``erasure_id`` must
      uniquely name the erasure batch (e.g. the request id)."""
    from dwh_etl_framework_spark.operators.sketch import cms_sketch

    keys = cols if cols is not None else sketched_keys(spark, path)
    if not keys:
        raise ValueError(f"no sketched keys found under {path!r}")
    for col in keys:
        fs, hll = _hadoop_fs(spark, f"{path}/{SKETCH_DIR}/{col}__hll")
        if fs.exists(hll) and not fs.delete(hll, True):
            raise IOError(
                f"failed to remove the stale NDV tier at {hll} — aborting "
                "before the CMS subtraction so metadata stays consistent"
            )
        # tombstone BEFORE the CMS subtraction: a later append must not
        # recreate the HLL tier covering only its own rows (ADVICE r11
        # #2) — read_table_ndv refuses and write_table_with_sketches
        # skips the HLL fragment until rebuild_table_sketches (or a full
        # overwrite, which wipes the tombstone with the table dir).
        _touch(spark, f"{path}/{SKETCH_DIR}/{col}{HLL_TOMBSTONE_SUFFIX}")
        _, w = read_table_sketch(spark, path, col)
        neg = (
            cms_sketch(erased.select(col), col, w)
            .withColumn("cnt", -F.col("cnt"))
            .withColumn("__cms_w", F.lit(w))
        )
        neg.coalesce(1).write.mode("overwrite").parquet(
            f"{path}/{SKETCH_DIR}/{col}/erasure_{erasure_id}"
        )


def read_table_ndv(spark, path: str, col: str) -> int:
    """Approximate distinct count of a persisted key, merge-on-read:
    MAX the HLL register fragments appended by successive writes, then
    the all-integer estimate (``operators/sketch.hll_estimate`` — ~2%
    at the configured register count). Never touches the data files.

    Refuses loudly while the key carries an erasure tombstone or the
    table a pending-write marker: MAX registers can't subtract, so a
    post-erasure NDV needs a full rebuild first. One
    :func:`read_chain_stats` read."""
    return read_chain_stats(spark, [], [(path, col)])[1][0]


def read_chain_stats(
    spark,
    counts: list[tuple[str, str]],
    ndvs: list[tuple[str, str]],
) -> tuple[list[int], list[int]]:
    """Batched metadata reads for the join-order planners (round 15,
    guide §5 "the driver should do almost no data work"): every
    per-statistic single-row aggregate (scan + agg over ≤ d·w counter /
    m register rows) is unioned into ONE plan and collected once, where
    separate reads would each launch their own tiny Spark job — planning
    a k-table chain that way cost ~2k driver round-trips dominated by
    fixed per-job overhead, measured ~3 s per warm f40 call at sf0.1.
    Refuses a pending marker, an erasure-tombstoned NDV tier and mixed
    CMS widths; the NDV applies Flajolet's small-range correction
    driver-side.

    ``counts``: (table_path, key) pairs → exact row counts from the CMS
    tier. ``ndvs``: (table_path, key) pairs → HLL NDVs. Returns the two
    result lists in input order."""
    from dwh_etl_framework_spark.operators.sketch import (
        CMS_D,
        HLL_M,
        hll_estimate,
    )

    tombstones = {
        p: _refuse_if_pending(spark, p)
        for p in dict.fromkeys(p for p, _ in [*counts, *ndvs])
    }
    for path, col in ndvs:
        if f"{col}{HLL_TOMBSTONE_SUFFIX}" in tombstones[path]:
            raise IOError(
                f"the NDV tier for {col!r} at {path!r} was invalidated by "
                "a right-to-erasure rewrite (MAX registers cannot "
                "subtract) — run rebuild_table_sketches() to rescan, or "
                "overwrite the table with a fresh sketched write"
            )

    frames = []
    for i, (path, col) in enumerate(counts):
        frames.append(
            _fragments(spark, path, col).agg(
                (F.sum("cnt") / F.lit(CMS_D)).cast("long").alias("n"),
                F.collect_set("__cms_w").cast("array<long>").alias("aux"),
            ).select(F.lit(f"c{i}").alias("tag"), "n", "aux")
        )
    for i, (path, col) in enumerate(ndvs):
        merged = (
            _fragments(spark, path, f"{col}__hll")
            .groupBy("bucket")
            .agg(F.max("reg").alias("reg"))
        )
        frames.append(
            hll_estimate(merged, []).select(
                F.lit(f"d{i}").alias("tag"),
                F.col("hll_estimate").cast("long").alias("n"),
                F.array(F.col("n_buckets_used"))
                .cast("array<long>")
                .alias("aux"),
            )
        )
    unioned = frames[0]
    for f in frames[1:]:
        unioned = unioned.unionByName(f)
    rows = {r["tag"]: r for r in unioned.collect()}

    ns: list[int] = []
    for i, (path, col) in enumerate(counts):
        _one_width(rows[f"c{i}"]["aux"], path, col)
        ns.append(int(rows[f"c{i}"]["n"]))
    ds: list[int] = []
    for i, _ in enumerate(ndvs):
        est, empty = int(rows[f"d{i}"]["n"]), HLL_M - int(rows[f"d{i}"]["aux"][0])
        # Flajolet's small-range (linear counting) correction: the raw
        # estimator is biased below ~2.5m; with empty registers,
        # m·ln(m/V) is the better estimate. Driver-side float math is
        # fine — the NDV is a costing statistic, not an oracle value
        # (the oracled x84 twin pins the integer-only raw formula).
        if est < 5 * HLL_M // 2 and empty > 0:
            est = int(round(HLL_M * math.log(HLL_M / empty)))
        ds.append(est)
    return ns, ds


def ndv_join_estimate(
    spark,
    left_path: str,
    left_key: str,
    right_path: str,
    right_key: str,
) -> dict:
    """The System-R uniform-containment join-output estimate from
    persisted metadata alone: ``n_l · n_r / max(ndv_l, ndv_r)`` —
    row counts recovered exactly from the CMS counters
    (:func:`~dwh_etl_framework_spark.operators.sketch.cms_cardinality`),
    distinct counts from the HLL tier, in one :func:`read_chain_stats`
    read.

    Division of labor (NOTES r10 weakness #5): the CMS inner product
    NEVER undercounts, so exchanges size from it; this estimate is
    TIGHT on fact-fact joins where the inner-product bound is loose,
    but assumes per-key uniformity and key containment, so it CAN
    undercount under skew — use it for costing/comparison, never for
    the never-undercounts exchange sizing."""
    sides = [(left_path, left_key), (right_path, right_key)]
    (n_l, n_r), (ndv_l, ndv_r) = read_chain_stats(spark, sides, sides)
    denom = max(ndv_l, ndv_r, 1)
    return {
        "n_left": n_l,
        "n_right": n_r,
        "ndv_left": ndv_l,
        "ndv_right": ndv_r,
        "est_join_rows_ndv": -(-n_l * n_r // denom),
    }


def choose_join_order_from_metadata(
    spark,
    left: tuple[str, str],
    mid: tuple[str, str, str],
    right: tuple[str, str],
) -> dict:
    """System-R join-ORDER selection for a three-table chain served
    ENTIRELY from landed ``_sketches/`` metadata — none of the three
    tables is scanned. ``left=(path, key_lm)``, ``mid=(path, key_lm,
    key_mr)``, ``right=(path, key_mr)``; the chain is
    left ⋈(key_lm) mid ⋈(key_mr) right.

    The 3-table case of :func:`choose_chain_join_order_from_metadata`
    (one batched metadata read): row counts are EXACT from the CMS tier
    (Σcnt = d·N), NDVs from the HLL tier, and the Selinger
    intermediate-size arithmetic is the x109 spec verbatim —
    ``tests/test_join_order.py`` pins this result equal to the oracled
    inline computation. ``lm_first`` wins ties, as the chain DP extends
    on the right. Python's unbounded ints do the products, so (unlike
    the BIGINT-certified query) this entry point has no 2^63 ceiling.
    Costing-tier caveat inherited from :func:`ndv_join_estimate`: the
    NDV estimate assumes per-key uniformity — use the CMS bound, not
    this, to SIZE exchanges."""
    from dwh_etl_framework_spark.operators.sketch import (
        chain_interval_estimates,
    )

    chain = choose_chain_join_order_from_metadata(spark, [left, mid, right])
    est = chain_interval_estimates(chain["n_rows"], chain["edge_ndvs"])
    n_l, n_m, n_r = chain["n_rows"]
    return {
        "n_left": n_l,
        "n_mid": n_m,
        "n_right": n_r,
        "est_lm_first": est[(0, 1)],
        "est_mr_first": est[(1, 2)],
        "est_final_rows": chain["est_final"],
        "chosen": "lm_first" if chain["order"][0] == 0 else "mr_first",
    }


def choose_chain_join_order_from_metadata(spark, tables: list[tuple]) -> dict:
    """:func:`choose_join_order_from_metadata` generalized to a k-table
    chain (the x110 interval DP,
    :func:`~dwh_etl_framework_spark.operators.sketch.chain_join_order`):
    every statistic comes from the landed ``_sketches/`` tiers — exact
    row counts from the CMS counters, edge NDVs from the HLL registers —
    so planning a k-way join costs O(k) metadata reads and ZERO input
    scans.

    ``tables`` is the chain in join-graph order: first element
    ``(path, right_key)``, middles ``(path, left_key, right_key)``,
    last ``(path, left_key)`` — ``right_key`` of table i joins
    ``left_key`` of table i+1.

    Returns the :func:`chain_join_order` dict plus ``paths`` (the chain
    order echoed back) so callers can map ``order`` indices to tables.
    Costing-tier caveat inherited from :func:`ndv_join_estimate`: the
    NDV estimate assumes per-key uniformity — use the CMS bound, not
    this, to SIZE exchanges."""
    from dwh_etl_framework_spark.operators.sketch import chain_join_order

    k = len(tables)
    if k < 2:
        raise ValueError("a join chain needs at least 2 tables")

    def _keys(idx: int) -> tuple[str | None, str | None]:
        t = tables[idx]
        if idx == 0:
            return None, t[1]
        if idx == k - 1:
            return t[1], None
        return t[1], t[2]

    # one batched job for the k counts + 2(k-1) edge NDVs (round 15 —
    # see read_chain_stats; formerly ~3k sequential driver round-trips)
    count_specs = []
    for idx, t in enumerate(tables):
        lk, rk = _keys(idx)
        count_specs.append((t[0], lk or rk))
    ndv_specs = []
    for idx in range(k - 1):
        _, rk = _keys(idx)
        lk, _ = _keys(idx + 1)
        ndv_specs.append((tables[idx][0], rk))
        ndv_specs.append((tables[idx + 1][0], lk))
    ns, raw_ds = read_chain_stats(spark, counts=count_specs, ndvs=ndv_specs)
    ds: list[int] = [
        max(raw_ds[2 * i], raw_ds[2 * i + 1], 1) for i in range(k - 1)
    ]
    out = chain_join_order(ns, ds)
    out["paths"] = [t[0] for t in tables]
    out["n_rows"] = ns
    out["edge_ndvs"] = ds
    return out


def decision_from_metadata(
    spark,
    left_path: str,
    left_key: str,
    right_path: str,
    right_key: str,
    **choose_kwargs,
):
    """The x105 broadcast-vs-shuffle decision served from PERSISTED
    sketch metadata alone — neither table is scanned. Both sides'
    fragments merge-on-read; widths must agree (the cms_join_size
    inner product only aligns same-width sketches)."""
    from dwh_etl_framework_spark.operators.sketch import choose_join_strategy

    lsk, lw = read_table_sketch(spark, left_path, left_key)
    rsk, rw = read_table_sketch(spark, right_path, right_key)
    if lw != rw:
        raise ValueError(
            f"persisted sketch widths differ: {left_path}/{left_key} is "
            f"w={lw}, {right_path}/{right_key} is w={rw}"
        )
    return choose_join_strategy(
        lsk.localCheckpoint(eager=True),
        rsk.localCheckpoint(eager=True),
        **choose_kwargs,
    )


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    mode: str = "append",
    batchsize: int = 10_000,
    truncate: bool = False,
    options: dict[str, str] | None = None,
) -> None:
    """JDBC sink (F15/F16). ``truncate=True`` + mode overwrite reproduces the

    reference's TRUNCATE-then-append protocol (``airflow_etl.py:95-108``)
    without dropping the target's DDL.
    """
    writer = (
        df.write.format("jdbc")
        .option("url", url)
        .option("dbtable", table)
        .option("batchsize", str(batchsize))
    )
    if truncate:
        writer = writer.option("truncate", "true")
    for key, value in (options or {}).items():
        writer = writer.option(key, value)
    writer.mode(mode).save()
