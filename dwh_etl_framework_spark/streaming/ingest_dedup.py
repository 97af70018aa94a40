"""X1 as a continuous stream: deduplicating corpus ingest (foreachBatch).

The batch shape is x50_incremental_dedup (``queries/dedup_ops.py:298``):
each increment is screened against the existing corpus — exact tier by
text digest, near tier by MinHash-LSH restricted to corpus×batch
candidates (``operators/dedup.lsh_candidate_pairs_cross``) — and only
survivors are appended. This module runs that same screen inside
``foreachBatch``, so a document stream (a crawl feed) lands continuously
into an always-deduplicated corpus; the reference has no streaming tier
at all (its delta mode is declared and unimplemented,
``airflow_etl.py:452-463``), so this is the R33×X1 composition a training
-data pipeline actually needs.

Scope, per x50's contract: batch-INTERNAL exact duplicates collapse to
the min-id survivor inside the batch; batch-internal NEAR duplicates are
out of scope here (they are a separate, much smaller self-join job —
``lsh_jaccard_cascade`` over the post-ingest corpus periodically), and
corpus×corpus pairs never re-form because the corpus only ever grows by
screened survivors.

Scale shape: the corpus side of the screen is a **corpus index** held in
memory between triggers (:class:`CorpusIndex`): one materialized row
``(id, md5 digest, MinHash signature)`` per corpus document, tagged with
the ``StreamMasterState`` version it describes. A trigger probes the batch
against it (digests for the exact tier, signatures for the cross-LSH
tier), so the corpus's signatures are derived once per query, not once
per trigger. The survivors' rows, which the probe has already computed,
extend the index after the write, and the extended index is tagged with
the newly published version; the index it replaces is released. The
index is rebuilt from the corpus on disk whenever its tag differs from the
published version: on the first trigger of a query (a restart included),
after a write from outside the stream, and after a write that failed.
The corpus band table is still derived from the held signatures inside
each probe; both band sides stay bucket-capped there.

Corpus durability follows ``streaming/merge.StreamMasterState``: state is
the parquet path on disk, so a restarted stream resumes from the stored
corpus (at-least-once per micro-batch; the exact tier makes re-delivered
batches idempotent — a replayed document is its own digest-duplicate).
The index is a cache derived from that state and is never written.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import dedup
from dwh_etl_framework_spark.session import release
from dwh_etl_framework_spark.streaming.merge import StreamMasterState

_DIGEST = "__digest"


class DedupIngestConfig:
    """Knobs for the ingest screen — defaults mirror x50/x03 exactly."""

    def __init__(
        self,
        text_col: str = "text",
        id_col: str = "doc_id",
        n: int = 3,
        k: int = 64,
        bands: int = 16,
        rows_per_band: int = 4,
        est_threshold: float = 0.5,
    ):
        self.text_col = text_col
        self.id_col = id_col
        self.n = n
        self.k = k
        self.bands = bands
        self.rows_per_band = rows_per_band
        self.est_threshold = est_threshold


def build_index(corpus: DataFrame, cfg: DedupIngestConfig) -> DataFrame:
    """Materialize the corpus-side screen inputs: ``(id, __digest,
    signature)`` per corpus row. ``signature`` is null for a document too
    short to have an n-gram; such a document takes part in the exact tier
    only, as in the batch screen."""
    id_c, txt = cfg.id_col, cfg.text_col
    sigs = dedup.minhash_signatures(corpus, txt, id_c, n=cfg.n, k=cfg.k)
    return (
        corpus.select(id_c, F.md5(F.col(txt)).alias(_DIGEST))
        .join(sigs, id_c, "left")
        .localCheckpoint(eager=True)
    )


def probe_index(
    index: DataFrame | None, batch: DataFrame, cfg: DedupIngestConfig
) -> DataFrame:
    """Return the batch rows that survive the x50 screen against ``index``
    (``None``: an empty corpus), materialized, with the ``__digest`` and
    ``signature`` columns of their own index rows appended."""
    id_c, txt = cfg.id_col, cfg.text_col
    # batch-internal exact tier: min-id survivor per identical text
    batch = batch.withColumn(_DIGEST, F.md5(F.col(txt)))
    w_min = F.min(F.col(id_c)).over(Window.partitionBy(_DIGEST))
    batch = (
        batch.withColumn("__keep_id", w_min)
        .filter(F.col(id_c) == F.col("__keep_id"))
        .drop("__keep_id")
    )
    if index is not None:
        # exact tier vs corpus: digest anti-probe (text never shuffles)
        batch = batch.join(index.select(_DIGEST), _DIGEST, "left_anti")
    # the exact-screened batch feeds the signatures and the survivors:
    # materialize it once instead of re-running both screens per consumer
    screened = batch.localCheckpoint(eager=True)
    batch_sigs = dedup.minhash_signatures(
        screened, txt, id_c, n=cfg.n, k=cfg.k
    ).localCheckpoint(eager=True)
    survivors = screened
    if index is not None:
        # near tier: corpus×batch LSH candidates only
        near = dedup.lsh_candidate_pairs_cross(
            index.filter(F.col("signature").isNotNull()).select(
                id_c, "signature"
            ),
            batch_sigs,
            id_c,
            bands=cfg.bands,
            rows_per_band=cfg.rows_per_band,
            est_threshold=cfg.est_threshold,
            inputs_materialized=True,
        ).select(F.col("doc_batch").alias(id_c)).distinct()
        survivors = survivors.join(near, id_c, "left_anti")
    out = survivors.join(batch_sigs, id_c, "left").localCheckpoint(eager=True)
    release(screened, batch_sigs)
    return out


def screen_batch(
    corpus: DataFrame | None, batch: DataFrame, cfg: DedupIngestConfig
) -> DataFrame:
    """Return the batch rows that survive the x50 screen vs ``corpus``.

    Builds an index from ``corpus`` and probes it, exactly as a stream
    trigger does, so the batch path and the foreachBatch path share one
    implementation — the twin-testing rule every streaming operator in
    this repo follows. No I/O; the result is materialized."""
    index = build_index(corpus, cfg) if corpus is not None else None
    survivors = probe_index(index, batch, cfg)
    release(index)
    return survivors.select(*batch.columns)


class CorpusIndex:
    """The corpus index one ingest query holds between its triggers, and
    the trigger that probes and extends it (:meth:`ingest`, the
    ``foreachBatch`` function).

    ``rows`` is the materialized :func:`build_index` table, or ``None``
    for an empty corpus; ``version`` is the ``StreamMasterState`` version
    it describes. A fresh instance holds nothing, so its first trigger
    rebuilds from disk."""

    def __init__(self, state: StreamMasterState, cfg: DedupIngestConfig):
        self.state = state
        self.cfg = cfg
        self.rows: DataFrame | None = None
        self.version: int | None = None

    def _hold(self, rows: DataFrame | None, version: int | None) -> None:
        old, self.rows, self.version = self.rows, rows, version
        release(old)

    def _sync(self) -> DataFrame | None:
        """Read the published corpus; rebuild the index unless it is
        tagged with the published version. Untagged state (never written,
        or a legacy flat layout) is never trusted."""
        published = self.state.version()
        corpus = self.state.read()
        if published is None or published != self.version:
            self._hold(
                build_index(corpus, self.cfg) if corpus is not None else None,
                published,
            )
        return corpus

    def ingest(self, batch_df: DataFrame, batch_id: int) -> None:
        if not batch_df.head(1):
            return
        corpus = self._sync()
        survivors = probe_index(self.rows, batch_df, self.cfg)
        try:
            docs = survivors.select(*batch_df.columns)
            self.state.write(
                corpus.unionByName(docs) if corpus is not None else docs
            )
            fresh = survivors.select(self.cfg.id_col, _DIGEST, "signature")
            rows = fresh if self.rows is None else self.rows.unionByName(fresh)
            self._hold(rows.localCheckpoint(eager=True), self.state.version())
        finally:
            release(survivors)


def stream_ingest_dedup(
    doc_stream: DataFrame,
    state: StreamMasterState,
    checkpoint_dir: str,
    cfg: DedupIngestConfig | None = None,
):
    """Start a foreachBatch query appending screened survivors to the

    corpus. Returns the StreamingQuery; caller awaits/stops it."""
    index = CorpusIndex(state, cfg or DedupIngestConfig())
    return (
        doc_stream.writeStream.foreachBatch(index.ingest)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
