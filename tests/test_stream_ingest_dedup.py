"""Streaming deduplicating ingest (R33×X1): foreachBatch replay of the

x50 incremental screen. Invariants:

1. **Replay ≡ sequential fold**: streaming the document slices as 4
   micro-batches (file order pinned via mtimes + maxFilesPerTrigger=1)
   yields exactly the corpus produced by folding ``screen_batch`` over
   the same slices in the same order — the twin rule every streaming
   operator in this repo follows.
2. **Planted duplicates are screened**: an exact copy and a near-copy
   (one token changed) planted in later slices are dropped; a genuinely
   novel document is kept.
3. **Idempotent re-ingest**: replaying the same files against the
   existing corpus (fresh checkpoint, so every batch re-delivers) adds
   zero rows — the digest tier makes at-least-once delivery safe.
4. **Held corpus index**: a query derives the corpus signatures once and
   then extends its in-memory index trigger by trigger; a restarted query
   or a write from outside the stream makes it rebuild from disk, and
   either way the corpus equals the sequential ``screen_batch`` fold.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup
from dwh_etl_framework_spark.streaming.ingest_dedup import (
    CorpusIndex,
    DedupIngestConfig,
    screen_batch,
    stream_ingest_dedup,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR


def _slices(spark):
    """Four ordered document slices with planted duplicates in later
    slices: slice 1 re-ships slice-0 text under a new id (exact dup),
    slice 2 ships a one-token-changed copy (near dup), slice 3 a novel
    doc. Base docs are fixture rows, so the screen runs on real text."""
    docs = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id") < 40)
    )
    rows = sorted(docs.collect(), key=lambda r: r.doc_id)
    base = [(r.doc_id, r.text) for r in rows]
    s0, s1, s2, s3 = base[:10], base[10:20], base[20:30], base[30:40]
    exact_copy = (1000, base[0][1])
    toks = base[1][1].split(" ")
    toks[len(toks) // 2] = "mutated_token_xyz"
    near_copy = (1001, " ".join(toks))
    novel = (1002, "entirely novel zebra quasar melon " * 8)
    return [s0, s1 + [exact_copy], s2 + [near_copy], s3 + [novel]]


def _write_slices(spark, slices, base_dir):
    for i, rows in enumerate(slices):
        path = f"{base_dir}/slice_{i}.parquet"
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("overwrite").parquet(path)
        # FileStreamSource orders by modification time: pin it explicitly
        # so micro-batch order == slice order on any filesystem
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _ids(df):
    return sorted(r.doc_id for r in df.select("doc_id").collect())


def _await(q, timeout=120):
    """Wait for an availableNow query; a timeout stops it and fails."""
    if not q.awaitTermination(timeout):
        q.stop()
        raise TimeoutError(f"stream did not finish within {timeout} s")


def _stream(spark, src):
    return (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )


def _fold(spark, cfg, slices, corpus=None):
    """The sequential batch fold of ``screen_batch`` over ``slices``."""
    for rows in slices:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        survivors = screen_batch(corpus, batch, cfg).localCheckpoint()
        corpus = survivors if corpus is None else corpus.unionByName(survivors)
    return corpus


def _count_signature_inputs(monkeypatch):
    """Record the row count of every ``minhash_signatures`` input."""
    sizes = []
    real = dedup.minhash_signatures

    def counting(df, *args, **kwargs):
        sizes.append(df.count())
        return real(df, *args, **kwargs)

    monkeypatch.setattr(dedup, "minhash_signatures", counting)
    return sizes


def test_stream_ingest_equals_sequential_fold(spark, tmp_path):
    cfg = DedupIngestConfig()
    slices = _slices(spark)
    src = str(tmp_path / "src")
    _write_slices(spark, slices, src)

    # sequential batch fold — the semantic ground truth
    corpus = None
    for rows in slices:
        batch = spark.createDataFrame(rows, "doc_id long, text string")
        survivors = screen_batch(corpus, batch, cfg).localCheckpoint()
        corpus = survivors if corpus is None else corpus.unionByName(survivors)
    expected = _ids(corpus)

    # streaming replay, one file per micro-batch, in mtime order
    state = StreamMasterState(spark, str(tmp_path / "corpus"))
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_ingest_dedup(
        stream, state, str(tmp_path / "ckpt"), cfg
    )
    _await(q)
    got = _ids(state.read())

    assert got == expected
    assert 1000 not in got          # exact copy screened
    assert 1001 not in got          # near copy screened by cross-LSH
    assert 1002 in got              # novel doc kept
    # corpus carries no exact duplicates
    n_texts = state.read().select("text").distinct().count()
    assert n_texts == len(got)

    # idempotent re-ingest: a fresh checkpoint re-delivers every file as
    # if the feed replayed; the digest tier must add zero rows
    # (at-least-once safety) — continues the SAME corpus state
    q2 = stream_ingest_dedup(
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src),
        state,
        str(tmp_path / "ckpt2"),
        cfg,
    )
    _await(q2)
    assert _ids(state.read()) == got


def test_growing_corpus_derives_corpus_signatures_once(
    spark, tmp_path, monkeypatch
):
    """Four triggers grow a seeded corpus. The corpus-side signatures are
    derived once for the query, when its first trigger builds the index;
    every later trigger extends the index with its survivors' rows, so
    the other signature inputs are the batches alone."""
    cfg = DedupIngestConfig()
    slices = _slices(spark)
    src = str(tmp_path / "src")
    _write_slices(spark, slices, src)
    seed = (
        spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("doc_id", "text")
        .filter(F.col("doc_id").between(100, 139))
    )
    state = StreamMasterState(spark, str(tmp_path / "corpus"))
    state.write(seed)
    sizes = _count_signature_inputs(monkeypatch)
    q = stream_ingest_dedup(_stream(spark, src), state, str(tmp_path / "c"), cfg)
    _await(q)
    triggers = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(triggers) == 4
    assert state.version() == 5  # the seed plus one write per trigger
    largest_batch = max(len(rows) for rows in slices)
    assert [n for n in sizes if n > largest_batch] == [40]
    assert len(sizes) == 1 + len(triggers)
    monkeypatch.undo()
    assert _ids(state.read()) == _ids(_fold(spark, cfg, slices, corpus=seed))


def test_restarted_query_rebuilds_index_from_disk(
    spark, tmp_path, monkeypatch
):
    """A second query over the same state with a fresh checkpoint starts
    with an empty held index: it rebuilds from the stored corpus, and the
    corpus ends equal to an uninterrupted run (the sequential fold, which
    the replay test pins to the stream)."""
    cfg = DedupIngestConfig()
    slices = _slices(spark)
    first, full = str(tmp_path / "first"), str(tmp_path / "full")
    _write_slices(spark, slices[:2], first)
    _write_slices(spark, slices, full)
    state = StreamMasterState(spark, str(tmp_path / "corpus"))
    _await(stream_ingest_dedup(
        _stream(spark, first), state, str(tmp_path / "c1"), cfg
    ))
    stored = state.read().count()
    sizes = _count_signature_inputs(monkeypatch)
    _await(stream_ingest_dedup(
        _stream(spark, full), state, str(tmp_path / "c2"), cfg
    ))
    largest_batch = max(len(rows) for rows in slices)
    assert [n for n in sizes if n > largest_batch] == [stored]
    monkeypatch.undo()
    assert _ids(state.read()) == _ids(_fold(spark, cfg, slices))


def test_outside_write_between_triggers_forces_rebuild(spark, tmp_path):
    """A ``StreamMasterState.write`` from outside the stream moves the
    published version past the held index's tag, so the next trigger
    rebuilds from disk and screens against the outside rows too. The
    triggers call the query's own foreachBatch function directly, which
    is what puts the outside write between two of them."""
    cfg = DedupIngestConfig()
    slices = _slices(spark)
    # 2001 is an exact copy of a doc that slice 3 ships later
    outside = [(2000, "an outside write lands here " * 4),
               (2001, slices[3][1][1])]
    state = StreamMasterState(spark, str(tmp_path / "corpus"))
    index = CorpusIndex(state, cfg)

    def trigger(i):
        batch = spark.createDataFrame(slices[i], "doc_id long, text string")
        index.ingest(batch, i)
        assert index.version == state.version()

    trigger(0)
    trigger(1)
    state.write(state.read().unionByName(
        spark.createDataFrame(outside, "doc_id long, text string")
    ))
    assert state.version() == 3 != index.version
    trigger(2)
    trigger(3)
    got = _ids(state.read())
    assert 2001 in got and slices[3][1][0] not in got
    assert index.rows.count() == len(got)

    expected = _fold(spark, cfg, slices[:2]).unionByName(
        spark.createDataFrame(outside, "doc_id long, text string")
    )
    assert got == _ids(_fold(spark, cfg, slices[2:], corpus=expected))
