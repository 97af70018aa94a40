"""The one landing protocol of ``sources/sinks.py`` (marker bracket and
width rule), for every writer that lands metadata beside its data.

Kill-point sweep, in the style of ``test_chaos_killpoints.py``: each
writer is crashed at EVERY metadata write of its bracket — after its data
write has landed, so the window is data-landed-metadata-missing. Every
reader of the crashed tier must then refuse, and the documented repair
(``rebuild_table_sketches`` for the sketch tier, a bulk re-land for zone
maps) must give the same reads as an uninterrupted landing. The metadata
writes are the only ``DataFrameWriter.parquet`` calls a landing makes
(the data goes through ``write_table``'s ``save``), so counting those
calls enumerates the kill points."""

from __future__ import annotations

import contextlib
from dataclasses import dataclass
from typing import Callable

import pytest
from pyspark.sql import functions as F
from pyspark.sql.readwriter import DataFrameWriter

from dwh_etl_framework_spark.operators.sketch import CMS_W
from dwh_etl_framework_spark.sources import sinks
from dwh_etl_framework_spark.sources.sinks import (
    SKETCH_DIR,
    read_chain_stats,
    read_table_ndv,
    read_table_sketch,
    rebuild_table_sketches,
    sketched_keys,
    write_partition_with_sketches,
    write_table_with_sketches,
)
from dwh_etl_framework_spark.sources.zonemaps import (
    land_fragment_with_zonemap,
    read_table_pruned,
    write_table_with_zonemaps,
)

from conftest import SF_DIR

KEY = "o_custkey"


class Boom(RuntimeError):
    """Injected crash."""


@contextlib.contextmanager
def _crash_at_metadata_write(k: int):
    """Raise :class:`Boom` instead of the ``k``-th (0-based) parquet write."""
    real = DataFrameWriter.parquet
    seen = [0]

    def parquet(self, path, *args, **kwargs):
        if seen[0] == k:
            raise Boom(path)
        seen[0] += 1
        return real(self, path, *args, **kwargs)

    DataFrameWriter.parquet = parquet
    try:
        yield
    finally:
        DataFrameWriter.parquet = real


def _orders(spark):
    return spark.read.parquet(f"{SF_DIR}/orders.parquet").select(
        "o_orderkey", KEY, (F.col("o_orderkey") % 3).alias("day")
    )


# ---- per-writer harnesses ------------------------------------------------


@dataclass(frozen=True)
class Harness:
    setup: Callable  # (spark, path) -> None: the state before the write
    write: Callable  # (spark, path) -> None: the landing under test
    repair: Callable  # (spark, path) -> None: the documented repair
    readers: Callable  # (spark, path) -> list of zero-arg reads
    reads: Callable  # (spark, path) -> comparable result of every read
    n_meta_writes: int


def _sketch_readers(spark, path):
    return [
        lambda: read_table_sketch(spark, path, KEY),
        lambda: read_table_ndv(spark, path, KEY),
        lambda: read_chain_stats(spark, [(path, KEY)], [(path, KEY)]),
        lambda: sketched_keys(spark, path),
    ]


def _sketch_reads(spark, path):
    sk, w = read_table_sketch(spark, path, KEY)
    return (
        w,
        sorted(tuple(r) for r in sk.filter("cnt != 0").collect()),
        read_table_ndv(spark, path, KEY),
        read_chain_stats(spark, [(path, KEY)], [(path, KEY)]),
        sketched_keys(spark, path),
    )


def _rebuild(spark, path):
    # explicit keys: a crash before the first fragment leaves no key dir
    rebuild_table_sketches(spark, path, sketch_keys=[KEY])


def _zonemap_table(spark, replaced: bool):
    rows = [(i, i, 10 * i, i // 25) for i in range(100)]
    if replaced:  # fragment 2 re-landed with different rows and bounds
        rows = [r for r in rows if r[3] != 2] + [(500, 55, 9000, 2)]
    return spark.createDataFrame(rows, "id long, a long, b long, __fragment long")


def _zonemap_reads(spark, path):
    df, info = read_table_pruned(spark, path, {"a": (40, 60)})
    return (
        sorted(tuple(r) for r in df.collect()),
        info["fragments_total"],
        info["fragments_kept"],
    )


HARNESSES = {
    # base landed at w=64; the append omits w, so it must adopt 64
    "sketched_append": Harness(
        setup=lambda spark, path: write_table_with_sketches(
            _orders(spark).filter("day = 0"), path, [KEY],
            mode="overwrite", w=64,
        ),
        write=lambda spark, path: write_table_with_sketches(
            _orders(spark).filter("day != 0"), path, [KEY], mode="append"
        ),
        repair=_rebuild,
        readers=_sketch_readers,
        reads=_sketch_reads,
        n_meta_writes=2,
    ),
    # an overwrite of a w=64 table lands at CMS_W when w is omitted
    "sketched_overwrite": Harness(
        setup=lambda spark, path: write_table_with_sketches(
            _orders(spark).filter("day = 0"), path, [KEY],
            mode="overwrite", w=64,
        ),
        write=lambda spark, path: write_table_with_sketches(
            _orders(spark), path, [KEY], mode="overwrite"
        ),
        repair=_rebuild,
        readers=_sketch_readers,
        reads=_sketch_reads,
        n_meta_writes=2,
    ),
    "partition_landing": Harness(
        setup=lambda spark, path: [
            write_partition_with_sketches(
                _orders(spark).filter(f"day = {d}"), path, [KEY], ["day"],
                w=64,
            )
            for d in (0, 1)
        ],
        write=lambda spark, path: write_partition_with_sketches(
            _orders(spark).filter("day = 2"), path, [KEY], ["day"]
        ),
        repair=_rebuild,
        readers=_sketch_readers,
        reads=_sketch_reads,
        n_meta_writes=2,
    ),
    "zonemap_reland": Harness(
        setup=lambda spark, path: write_table_with_zonemaps(
            _zonemap_table(spark, replaced=False), path, ["a", "b"]
        ),
        write=lambda spark, path: land_fragment_with_zonemap(
            _zonemap_table(spark, replaced=True).filter("__fragment = 2"),
            path, ["a", "b"],
        ),
        repair=lambda spark, path: write_table_with_zonemaps(
            _zonemap_table(spark, replaced=True), path, ["a", "b"]
        ),
        readers=lambda spark, path: [
            lambda: read_table_pruned(spark, path, {"a": (0, 1000)})
        ],
        reads=_zonemap_reads,
        n_meta_writes=1,
    ),
}

@pytest.fixture(scope="module")
def uninterrupted_reads(spark, tmp_path_factory):
    """Reads of each writer's uninterrupted landing, computed once."""
    reads: dict[str, object] = {}

    def get(name):
        if name not in reads:
            h = HARNESSES[name]
            path = str(tmp_path_factory.mktemp(f"clean_{name}") / "t")
            h.setup(spark, path)
            h.write(spark, path)
            reads[name] = h.reads(spark, path)
        return reads[name]

    return get


@pytest.mark.parametrize(
    "name,k",
    [(n, k) for n, h in HARNESSES.items() for k in range(h.n_meta_writes)],
    ids=lambda v: str(v),
)
def test_every_metadata_killpoint_refuses_then_repairs(
    spark, tmp_path, uninterrupted_reads, name, k
):
    h = HARNESSES[name]
    want = uninterrupted_reads(name)
    path = str(tmp_path / "t")
    h.setup(spark, path)
    with _crash_at_metadata_write(k), pytest.raises(Boom):
        h.write(spark, path)
    for read in h.readers(spark, path):
        with pytest.raises(IOError, match="pending|crashed"):
            read()
    h.repair(spark, path)
    assert h.reads(spark, path) == want


# ---- the width rule --------------------------------------------------------


def test_sketched_append_without_w_adopts_the_landed_width(spark, tmp_path):
    """Regression: an append that omits ``w`` used to land at ``CMS_W``
    over a table landed at ``w=64``, after which every read refused the
    key with ``mixed widths``."""
    orders = _orders(spark)
    path = str(tmp_path / "o")
    write_table_with_sketches(
        orders.filter("day = 0"), path, [KEY], mode="overwrite", w=64
    )
    write_table_with_sketches(orders.filter("day != 0"), path, [KEY], mode="append")
    sk, w = read_table_sketch(spark, path, KEY)
    assert w == 64
    assert read_chain_stats(spark, [(path, KEY)], [])[0] == [orders.count()]


def test_overwrite_reads_no_landed_width(spark, tmp_path, monkeypatch):
    """An overwrite lands at ``w`` or ``CMS_W`` and never reads the old
    table's width (the refresh landing gains no job)."""
    orders = _orders(spark)
    path = str(tmp_path / "o")
    write_table_with_sketches(orders, path, [KEY], mode="overwrite", w=64)

    def no_read(*args):
        raise AssertionError("overwrite read the landed width")

    monkeypatch.setattr(sinks, "_landed_width", no_read)
    write_table_with_sketches(orders, path, [KEY], mode="overwrite")
    monkeypatch.undo()
    assert read_table_sketch(spark, path, KEY)[1] == CMS_W


def test_rebuild_raises_on_an_unreadable_fragment_dir(spark, tmp_path):
    """A fragment directory that cannot be read must fail the rebuild, not
    be rebuilt at a guessed ``CMS_W`` (the landed width is unknown)."""
    orders = _orders(spark)
    path = str(tmp_path / "o")
    write_table_with_sketches(orders, path, [KEY], mode="overwrite", w=64)
    frag_dir = tmp_path / "o" / SKETCH_DIR / KEY
    for f in frag_dir.iterdir():
        f.unlink()
    junk = frag_dir / "part-00000-junk.parquet"
    junk.write_bytes(b"not a parquet file")
    with pytest.raises(Exception) as err:
        rebuild_table_sketches(spark, path)
    assert not isinstance(err.value, ValueError)  # not a refusal message
    assert [f.name for f in frag_dir.iterdir()] == [junk.name]
