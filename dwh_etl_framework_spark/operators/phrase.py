"""Positional phrase search over an inverted index (the x102 operator).

Documents explode to ``(doc_id, i, term)`` postings restricted to the
phrase vocabulary, and a match is a position-aligned hit covering every
word index of a phrase. The batch query (``queries/wave16.x102_phrase_search``)
and the continuous index (``streaming/corpus_folds``) share these functions
(twin rule), so both run one match plan.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def phrase_vocab(phrases: list[tuple[int, str]]) -> list[str]:
    """The distinct word set of a phrase workload (the postings slice a
    continuous index needs to persist)."""
    return sorted({w for _, p in phrases for w in p.split(" ")})


def phrase_postings(
    docs: DataFrame, text_col: str, id_col: str, phrases: list[tuple[int, str]]
) -> DataFrame:
    """(doc_id, i, term) positional postings restricted to the phrase
    vocabulary — the ONLY corpus pass of the phrase-search plan; the
    IN-filter runs inside the explode map-side, so the output is
    Σ df(word)-sized, never corpus-sized. Shared by the batch x102 and
    the streaming fold (twin rule)."""
    vocab = phrase_vocab(phrases)
    return (
        docs.select(
            F.col(id_col).alias("doc_id"),
            F.posexplode(F.split(text_col, " ")).alias("pos0", "term"),
        )
        .filter(F.col("term").isin(vocab))
        .select("doc_id", (F.col("pos0") + 1).alias("i"), "term")
    )


def phrase_matches(
    postings: DataFrame, phrases: list[tuple[int, str]]
) -> DataFrame:
    """The x102 match plan over any (doc_id, i, term) postings table:
    one join against the broadcast word table + the DISTINCT-widx
    coverage aggregate + the per-doc report. Identical whether the
    postings come from a batch scan or a persisted streaming index."""
    spark_sess = postings.sparkSession
    words = spark_sess.createDataFrame(
        [
            (pid, widx + 1, w)
            for pid, p in phrases
            for widx, w in enumerate(p.split(" "))
        ],
        "phrase_id int, widx int, word string",
    )
    names = spark_sess.createDataFrame(phrases, "phrase_id int, phrase string")
    plen = {pid: len(p.split(" ")) for pid, p in phrases}
    plen_df = spark_sess.createDataFrame(
        list(plen.items()), "phrase_id int, n_words long"
    )
    hits = postings.join(
        F.broadcast(words), postings["term"] == words["word"]
    ).select(
        "phrase_id", "doc_id", (F.col("i") - F.col("widx") + 1).alias("start"),
        "widx",
    )
    # coverage = COUNT(*), not COUNT(DISTINCT widx) (round 16): within a
    # (phrase_id, doc_id, start) group each widx occurs AT MOST once —
    # the postings table carries one term per (doc_id, i) (positional
    # index contract: posexplode emits unique positions, and the
    # streaming fold dedupes on redelivery) and ``words`` one row per
    # (phrase_id, widx), so the hit for (start, widx) can only come from
    # the single token at i = start + widx − 1. COUNT(DISTINCT) planned
    # as Expand + a second exchange; the plain COUNT keeps one map-side-
    # combinable aggregate. Measured at sf0.1: timed write 1.02 → 0.87 s
    # (4/5 interleaved reps), rows identical; the ORACLE keeps its
    # COUNT(DISTINCT h.widx) text, so the driver hash certifies the
    # uniqueness argument at every SF.
    matches = (
        hits.groupBy("phrase_id", "doc_id", "start")
        .agg(F.count(F.lit(1)).alias("__cov"))
        .join(F.broadcast(plen_df), "phrase_id")
        .filter(F.col("__cov") == F.col("n_words"))
    )
    return (
        matches.groupBy("phrase_id", "doc_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_occurrences"),
            F.min("start").cast("int").alias("first_pos"),
        )
        .join(F.broadcast(names), "phrase_id")
        .select("phrase_id", "phrase", "doc_id", "n_occurrences", "first_pos")
    )
