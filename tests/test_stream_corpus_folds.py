"""Streaming twins of x95 (quota sample) and x96 (boilerplate dfs).

Invariants (the repo's streaming twin rule):

1. **Replay ≡ batch**: streaming the documents in 4 slices yields the
   same quota sample / boilerplate report as one batch pass.
2. **Idempotent re-delivery (quota)**: the bottom-k reservoir is a
   set-merge — re-streaming every slice through a FRESH checkpoint
   leaves the state unchanged, no guard needed (the HLL property).
3. **Guarded re-delivery (dfreq)**: SUM counters are not idempotent —
   re-applying a batch_id within a run is a recorded no-op.
4. **Bounded state**: quota state ≤ n rows per stratum; dfreq state is
   vocabulary-sized (counters), never documents.
"""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import sampling
from dwh_etl_framework_spark.streaming.corpus_folds import (
    batch_dfreq,
    current_boilerplate,
    fold_dfreq_batch,
    stream_dfreq,
    stream_quota_sample,
    stream_weighted_sample,
    update_quota,
    update_weighted,
)
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

from conftest import SF_DIR

DOC_SCHEMA = "doc_id long, source string, text string"


def _write_doc_slices(spark, base_dir: str) -> None:
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").select(
        "doc_id", "source", "text"
    )
    for i in range(4):
        path = f"{base_dir}/slice_{i}.parquet"
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _doc_stream(spark, src: str):
    return (
        spark.readStream.schema(DOC_SCHEMA)
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )


def _quota_dict(df):
    return {(r["source"], r["doc_id"]): r["rk"] for r in df.collect()}


def _run_quota(spark, src, state_path, ckpt):
    state = StreamMasterState(spark, state_path)
    q = stream_quota_sample(
        _doc_stream(spark, src), state, ckpt, ["source"], "doc_id", 10
    )
    q.awaitTermination(120)
    return state


def test_stream_quota_equals_batch(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_doc_slices(spark, src)
    state = _run_quota(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    whole = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    batch = sampling.quota_sample(
        whole, ["source"], "doc_id", n_per_stratum=10, salt="quota:"
    ).select("source", "doc_id", "rk")
    assert _quota_dict(state.read()) == _quota_dict(batch)
    # bounded state: ≤ n rows per stratum
    per = state.read().groupBy("source").count().collect()
    assert all(r["count"] <= 10 for r in per)


def test_stream_quota_redelivery_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_doc_slices(spark, src)
    state_path = str(tmp_path / "state")
    state = _run_quota(spark, src, state_path, str(tmp_path / "ckpt1"))
    before = _quota_dict(state.read())
    # fresh checkpoint: every slice re-delivers; set-merge must not move
    state2 = _run_quota(spark, src, state_path, str(tmp_path / "ckpt2"))
    assert _quota_dict(state2.read()) == before


def test_update_quota_pure_fold_matches(spark):
    whole = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    st = None
    for i in range(4):
        st = update_quota(
            st, whole.filter(F.col("doc_id") % 4 == i), ["source"],
            "doc_id", 10,
        )
    direct = sampling.quota_sample(
        whole, ["source"], "doc_id", n_per_stratum=10, salt="quota:"
    ).select("source", "doc_id", "rk")
    assert _quota_dict(st) == _quota_dict(direct)


def _report_dict(df):
    return {
        (r["source"], r["shingle"]): (
            r["df"], r["n_docs"], r["is_boilerplate"], r["rk"]
        )
        for r in df.collect()
    }


def test_stream_dfreq_report_equals_batch_x96(spark, tmp_path):
    from dwh_etl_framework_spark.queries.wave13 import x96_boilerplate_ngrams

    src = str(tmp_path / "src")
    _write_doc_slices(spark, src)
    state = StreamMasterState(spark, str(tmp_path / "state"))
    q = stream_dfreq(
        _doc_stream(spark, src), state, str(tmp_path / "ckpt"),
        "text", "doc_id", "source",
    )
    q.awaitTermination(180)
    live = current_boilerplate(state)
    batch = x96_boilerplate_ngrams(spark, SF_DIR)
    assert _report_dict(live) == _report_dict(batch)


def test_fold_dfreq_guard_blocks_redelivery(spark, tmp_path):
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    state = StreamMasterState(spark, str(tmp_path / "state"))
    assert fold_dfreq_batch(
        state, docs, 0, "text", "doc_id", "source", run_id="run-a"
    )
    before = {
        (r["source"], r["shingle"]): r["cnt"] for r in state.read().collect()
    }
    # same run, same batch_id: at-least-once re-execution → no-op
    assert not fold_dfreq_batch(
        state, docs, 0, "text", "doc_id", "source", run_id="run-a"
    )
    after = {
        (r["source"], r["shingle"]): r["cnt"] for r in state.read().collect()
    }
    assert after == before


def test_batch_dfreq_counters_are_corpus_free(spark):
    """State schema check: counters only — (source, shingle, cnt) with
    NULL-shingle doc-count rows; no text column ever reaches the state."""
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(20)
    contrib = batch_dfreq(docs, "text", "doc_id", "source")
    assert set(contrib.columns) == {"source", "shingle", "cnt"}
    nd = contrib.filter(F.col("shingle").isNull()).count()
    assert nd == docs.select("source").distinct().count()


# ---- x98 weighted-sample twin -------------------------------------------

def _weight_col():
    """x98's weight rule (wave14.py): length bucket 1-8. Built lazily —
    Column expressions need an active session at construction."""
    return F.greatest(
        F.lit(1), F.least(F.lit(8), F.expr("n_chars DIV 256"))
    ).cast("long")


def _weighted_docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").withColumn(
        "weight", _weight_col()
    )


def _wdict(df):
    return {r["doc_id"]: (r["weight"], r["wkey"], r["rk"]) for r in df.collect()}


def _write_weighted_slices(spark, base_dir: str) -> None:
    docs = _weighted_docs(spark).select("doc_id", "weight")
    for i in range(4):
        path = f"{base_dir}/slice_{i}.parquet"
        docs.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "overwrite"
        ).parquet(path)
        for root, _, files in os.walk(path):
            for f_ in files:
                os.utime(os.path.join(root, f_), (1_000_000 + i, 1_000_000 + i))
        os.utime(path, (1_000_000 + i, 1_000_000 + i))


def _run_weighted(spark, src, state_path, ckpt):
    state = StreamMasterState(spark, state_path)
    stream = (
        spark.readStream.schema("doc_id long, weight long")
        .option("maxFilesPerTrigger", 1)
        .option("recursiveFileLookup", True)
        .parquet(src)
    )
    q = stream_weighted_sample(
        stream, state, ckpt, "doc_id", "weight", 25, salt="ws:"
    )
    q.awaitTermination(120)
    return state


def test_stream_weighted_equals_batch_x98(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_weighted_slices(spark, src)
    state = _run_weighted(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    batch = sampling.weighted_sample(
        _weighted_docs(spark), "doc_id", "weight", n=25, salt="ws:"
    ).select("doc_id", "weight", "wkey", "rk")
    assert _wdict(state.read()) == _wdict(batch)
    # bounded state: ≤ n rows total
    assert state.read().count() <= 25


def test_stream_weighted_redelivery_is_idempotent(spark, tmp_path):
    src = str(tmp_path / "src")
    _write_weighted_slices(spark, src)
    state_path = str(tmp_path / "state")
    state = _run_weighted(spark, src, state_path, str(tmp_path / "ckpt1"))
    before = _wdict(state.read())
    # fresh checkpoint: every slice re-delivers; set-merge must not move
    state2 = _run_weighted(spark, src, state_path, str(tmp_path / "ckpt2"))
    assert _wdict(state2.read()) == before


def test_update_weighted_pure_fold_matches(spark):
    docs = _weighted_docs(spark)
    st = None
    for i in range(4):
        st = update_weighted(
            st, docs.filter(F.col("doc_id") % 4 == i), "doc_id", "weight",
            25, salt="ws:",
        )
    direct = sampling.weighted_sample(
        docs, "doc_id", "weight", n=25, salt="ws:"
    ).select("doc_id", "weight", "wkey", "rk")
    assert _wdict(st) == _wdict(direct)


def test_update_weighted_growth_only_displaces(spark):
    """Adding MORE rows can only displace kept rows with smaller keys:
    every survivor of the 2-slice fold that still survives the 4-slice
    fold keeps its wkey, and the kept-key set shrinks lexicographically
    (the bottom-k sketch property the merge relies on)."""
    docs = _weighted_docs(spark)
    two = update_weighted(
        None, docs.filter(F.col("doc_id") % 4 < 2), "doc_id", "weight", 25,
        salt="ws:",
    )
    four = update_weighted(
        two, docs.filter(F.col("doc_id") % 4 >= 2), "doc_id", "weight", 25,
        salt="ws:",
    )
    k2 = {r["doc_id"]: r["wkey"] for r in two.collect()}
    k4 = {r["doc_id"]: r["wkey"] for r in four.collect()}
    for d in set(k2) & set(k4):
        assert k2[d] == k4[d]
    assert max(k4.values()) <= max(k2.values())


# ---- x102 streaming phrase index ------------------------------------------


def _phrase_dict(df):
    return {
        (r["phrase_id"], r["doc_id"]): (r["n_occurrences"], r["first_pos"])
        for r in df.collect()
    }


def _run_phrase_index(spark, src, state_path, ckpt):
    from dwh_etl_framework_spark.queries.wave16 import PHRASES
    from dwh_etl_framework_spark.streaming.corpus_folds import (
        stream_phrase_index,
    )

    state = StreamMasterState(spark, state_path)
    q = stream_phrase_index(
        _doc_stream(spark, src), state, ckpt, "text", "doc_id", PHRASES
    )
    q.awaitTermination(120)
    return state


def test_stream_phrase_index_equals_batch_x102(spark, tmp_path):
    from dwh_etl_framework_spark.operators.phrase import phrase_vocab
    from dwh_etl_framework_spark.queries.wave16 import (
        PHRASES,
        x102_phrase_search,
    )
    from dwh_etl_framework_spark.streaming.corpus_folds import (
        current_phrase_matches,
    )

    src = str(tmp_path / "src")
    _write_doc_slices(spark, src)
    state = _run_phrase_index(
        spark, src, str(tmp_path / "state"), str(tmp_path / "ckpt")
    )
    live = current_phrase_matches(state, PHRASES)
    batch = x102_phrase_search(spark, SF_DIR)
    assert _phrase_dict(live) == _phrase_dict(batch)
    # corpus-free state: only vocabulary terms and integer positions
    postings = state.read()
    assert set(postings.columns) == {"doc_id", "i", "term"}
    terms = {r["term"] for r in postings.select("term").distinct().collect()}
    assert terms <= set(phrase_vocab(PHRASES))


def test_stream_phrase_index_redelivery_is_idempotent(spark, tmp_path):
    from dwh_etl_framework_spark.queries.wave16 import PHRASES
    from dwh_etl_framework_spark.streaming.corpus_folds import (
        current_phrase_matches,
    )

    src = str(tmp_path / "src")
    _write_doc_slices(spark, src)
    state_path = str(tmp_path / "state")
    state = _run_phrase_index(spark, src, state_path, str(tmp_path / "ckpt1"))
    before = _phrase_dict(current_phrase_matches(state, PHRASES))
    n_before = state.read().count()
    # fresh checkpoint: every slice re-delivers; set-union must not move
    state2 = _run_phrase_index(spark, src, state_path, str(tmp_path / "ckpt2"))
    assert _phrase_dict(current_phrase_matches(state2, PHRASES)) == before
    assert state2.read().count() == n_before
