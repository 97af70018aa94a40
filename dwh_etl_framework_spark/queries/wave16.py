"""Round-9 wave 16: entity resolution end-to-end, positional phrase search.

**x101_entity_golden_record** composes the round's fuzzy tier into the
classic master-data-management operation the reference's journal-merge
protocol (airflow_etl.py:131-223) presupposes someone already ran:
resolve dirty natural keys into entities, then elect one golden row per
entity by a survivorship rule. Three audited tiers, all value-level
until the final row join:

1. **match** — distinct-first fuzzy value pairs (levenshtein ≤ 1 over
   the DISTINCT p_name universe via the lossless segment-pigeonhole
   join, operators/editjoin.py — the x99b shape: one map-side
   aggregate collapses 10⁹ rows to a 10²–10⁶ value vocabulary);
2. **cluster** — connected components over the value graph
   (operators/graph.py, 1 Spark job per iteration) with cluster id =
   min member vid, so transitive matches (a~b, b~c) land in ONE
   entity;
3. **survivorship** — the golden row per entity is elected by ONE
   map-side-combinable struct-MAX aggregate (max retail price, min
   partkey tiebreak — the x87 struct-ordering trick), NOT a window:
   a hot entity never becomes a single-task window partition.

The oracle runs the same pipeline naively in DuckDB (naive levenshtein
self-join over distinct values + recursive-CTE transitive closure +
arg-max window), so the driver hash proves the pigeonhole filter
lossless, the iterative CC exact, AND the aggregate survivorship ≡ the
window formulation, in one row set.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dwh_etl_framework_spark.operators import editjoin
from dwh_etl_framework_spark.operators.graph import dedup_clusters
from dwh_etl_framework_spark.operators.phrase import (
    phrase_matches,
    phrase_postings,
)
from dwh_etl_framework_spark.queries.registry import fixtures, query

_GOLDEN_SQL = """
    WITH RECURSIVE vals AS (
        SELECT p_name AS v, MIN(p_partkey) AS vid FROM part GROUP BY p_name
    ),
    pairs AS (
        SELECT a.vid AS u, b.vid AS v
        FROM vals a JOIN vals b
          ON a.v < b.v AND levenshtein(a.v, b.v) <= 1
    ),
    edges AS (
        SELECT u, v FROM pairs UNION ALL SELECT v, u FROM pairs
    ),
    reach AS (
        SELECT u AS node, v AS reachable FROM edges
        UNION
        SELECT r.node, e.v FROM reach r JOIN edges e ON r.reachable = e.u
    ),
    cc AS (
        SELECT node, LEAST(node, MIN(reachable)) AS component
        FROM reach GROUP BY node
    ),
    labeled AS (
        SELECT p.p_partkey, p.p_retailprice,
               COALESCE(cc.component, v.vid) AS entity_cluster
        FROM part p
        JOIN vals v ON p.p_name = v.v
        LEFT JOIN cc ON v.vid = cc.node
    ),
    ranked AS (
        SELECT *,
               CAST(COUNT(*) OVER (PARTITION BY entity_cluster) AS BIGINT)
                   AS n_members,
               first_value(p_partkey) OVER (
                   PARTITION BY entity_cluster
                   ORDER BY p_retailprice DESC, p_partkey ASC
               ) AS golden_partkey
        FROM labeled
    )
    SELECT p_partkey, entity_cluster, n_members, golden_partkey,
           p_partkey = golden_partkey AS is_golden
    FROM ranked
    """


@query("x101_entity_golden_record", oracle=_GOLDEN_SQL)
def x101_entity_golden_record(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X1/F19-adjacent entity resolution: every part row mapped to its

    fuzzy-name entity (levenshtein ≤ 1 value graph → connected
    components) with the per-entity golden row elected by max
    p_retailprice (p_partkey tiebreak). Value tiers are
    vocabulary-sized; the only row-level work is one broadcast label
    join and one struct-MAX aggregate — no window ever partitions by
    entity, so a million-row entity costs each map task one struct
    comparison, not a single-task sort. Uncapped segments
    (``max_segment_df=None``): the oracled entry must fail loudly, not
    silently relax (the x99 convention)."""
    t = fixtures(spark, sf_dir)
    rows = t.part.select("p_partkey", "p_name", "p_retailprice")

    # tier 1 — distinct-first: the value universe with min-partkey node
    # ids (one map-side-combinable aggregate; the x99b principle).
    vals = rows.groupBy("p_name").agg(F.min("p_partkey").alias("vid"))
    vpairs = editjoin.edit_distance_value_pairs(rows, "p_name", k=1)
    edges = (
        vpairs.join(
            vals.select(F.col("p_name").alias("val_a"), F.col("vid").alias("doc_a")),
            "val_a",
        )
        .join(
            vals.select(F.col("p_name").alias("val_b"), F.col("vid").alias("doc_b")),
            "val_b",
        )
        .select("doc_a", "doc_b")
    )

    # tier 2 — CC over the (vocabulary-sized) value graph.
    labels = dedup_clusters(vals.select("vid"), edges, "vid").select(
        "vid", F.col("cluster").alias("entity_cluster")
    )

    # row labeling: two joins against vocabulary-sized tables (broadcast
    # under AQE at any corpus size).
    labeled = rows.join(vals, "p_name").join(labels, "vid").select(
        "p_partkey", "p_retailprice", "entity_cluster"
    )

    # tier 3 — survivorship WITHOUT a window: golden row = struct-MAX of
    # (price, -partkey) per entity, plus the member count, in ONE
    # map-side-combinable aggregate; rows re-join the entity-sized
    # result by broadcast.
    golden = labeled.groupBy("entity_cluster").agg(
        F.count(F.lit(1)).cast("long").alias("n_members"),
        F.max(
            F.struct(
                F.col("p_retailprice").alias("p"),
                (-F.col("p_partkey")).alias("nk"),
            )
        ).alias("__g"),
    ).select(
        "entity_cluster",
        "n_members",
        (-F.col("__g.nk")).alias("golden_partkey"),
    )
    return labeled.join(F.broadcast(golden), "entity_cluster").select(
        "p_partkey",
        "entity_cluster",
        "n_members",
        "golden_partkey",
        (F.col("p_partkey") == F.col("golden_partkey")).alias("is_golden"),
    )


#: Fixed phrase workload for the oracled entry (drawn from the
#: generator's vocabulary so every SF matches some documents; a phrase
#: that happens to match nothing at some SF still oracle-checks — the
#: result set is simply empty for it).
PHRASES: list[tuple[int, str]] = [
    (1, "big order scan"),
    (2, "slow hash batch"),
    (3, "row column sort"),
    (4, "window fast query"),
]

_PHRASE_VALUES = ", ".join(
    f"({pid}, {widx + 1}, '{w}')"
    for pid, p in PHRASES
    for widx, w in enumerate(p.split(" "))
)
_PHRASE_NAMES = ", ".join(f"({pid}, '{p}')" for pid, p in PHRASES)

_PHRASE_SQL = f"""
    WITH toks AS (
        SELECT doc_id, string_split(text, ' ') AS t FROM documents
    ),
    pos AS (
        SELECT doc_id, t, unnest(generate_series(1, len(t))) AS i FROM toks
    ),
    terms AS (SELECT doc_id, i, t[i] AS term FROM pos),
    words(phrase_id, widx, word) AS (VALUES {_PHRASE_VALUES}),
    names(phrase_id, phrase) AS (VALUES {_PHRASE_NAMES}),
    plen AS (
        SELECT phrase_id, COUNT(*) AS n_words FROM words GROUP BY phrase_id
    ),
    hits AS (
        SELECT w.phrase_id, tm.doc_id, tm.i - w.widx + 1 AS start, w.widx
        FROM terms tm JOIN words w ON tm.term = w.word
    ),
    matches AS (
        SELECT h.phrase_id, h.doc_id, h.start
        FROM hits h JOIN plen p ON h.phrase_id = p.phrase_id
        GROUP BY h.phrase_id, h.doc_id, h.start, p.n_words
        HAVING COUNT(DISTINCT h.widx) = p.n_words
    )
    SELECT m.phrase_id, n.phrase, m.doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_occurrences,
           CAST(MIN(m.start) AS INTEGER) AS first_pos
    FROM matches m JOIN names n ON m.phrase_id = n.phrase_id
    GROUP BY m.phrase_id, n.phrase, m.doc_id
    """


@query("x102_phrase_search", oracle=_PHRASE_SQL)
def x102_phrase_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """X3 positional phrase search over an inverted index: every

    (phrase, document) match with occurrence count and first position,
    for a fixed multi-phrase workload, via ONE postings join + ONE
    coverage aggregate — no per-phrase plan, no LIKE scan.

    The formulation is the classic positional-index phrase query made
    set-wise: explode documents to (doc, pos, term) postings, join
    against the broadcast (phrase, word-index, word) table, and a
    position-aligned hit at ``start = pos - widx + 1`` covering ALL the
    phrase's word indices is a match (count(distinct widx) = phrase
    length — repeated words in a phrase are handled by the DISTINCT).

    Scale shape: the postings explode is the only corpus pass and the
    term IN-filter prunes it map-side to the phrase vocabulary before
    anything shuffles — query cost tracks Σ df(word), not corpus size
    (the x69 BM25 discipline); the coverage and per-doc aggregates are
    map-side combinable; text never shuffles. At 100 TB the postings
    table is the persisted index a retrieval tier maintains anyway —
    this operator IS its query path, and the oracle (the same
    construction in DuckDB over raw text) certifies it against the
    ground truth at every SF."""
    t = fixtures(spark, sf_dir)
    postings = phrase_postings(t.documents, "text", "doc_id", PHRASES)
    return phrase_matches(postings, PHRASES)


#: k-anonymity threshold for the oracled audit (chosen so the driver
#: fixture exercises BOTH outcomes: at sf0.01 the (nation, segment)
#: grid has groups of 5-7 below it and larger groups above).
K_ANON = 8

_KANON_SQL = f"""
    WITH grid AS (
        SELECT c_nationkey, c_mktsegment,
               CAST(COUNT(*) AS BIGINT) AS group_size
        FROM customer
        GROUP BY c_nationkey, c_mktsegment
    )
    SELECT c_nationkey, c_mktsegment, group_size,
           group_size >= {K_ANON} AS is_k_anonymous,
           CASE WHEN group_size >= {K_ANON} THEN CAST(0 AS BIGINT)
                ELSE group_size END AS n_suppressed_rows
    FROM grid
    """


@query("f31_k_anonymity_audit", oracle=_KANON_SQL)
def f31_k_anonymity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-tier governance: k-anonymity audit over the quasi-identifier

    grid (nation × market segment) — every QI combination with its
    group size, the k ≥ K_ANON (8) flag, and the row count a k-anonymous
    release would have to suppress. This is the privacy gate a
    training-data warehouse runs before exporting user-adjacent rows:
    a group smaller than k re-identifies its members by QI alone
    (Sweeney, IJUFKS 2002). One map-side-combinable aggregate over the
    corpus; the grid is dimension-sized (|nations| x |segments|), so
    everything downstream is broadcast-scale at any corpus size."""
    t = fixtures(spark, sf_dir)
    grid = t.customer.groupBy("c_nationkey", "c_mktsegment").agg(
        F.count(F.lit(1)).cast("long").alias("group_size")
    )
    ok = F.col("group_size") >= K_ANON
    return grid.select(
        "c_nationkey",
        "c_mktsegment",
        "group_size",
        ok.alias("is_k_anonymous"),
        F.when(ok, F.lit(0).cast("long"))
        .otherwise(F.col("group_size"))
        .alias("n_suppressed_rows"),
    )


#: x103 sketch width: the inner-product error bound is Σ|A|·Σ|B|/w per
#: hash row, so join-size estimation wants a wider sketch than point
#: queries (x86's 512); 4096 keeps the estimate within ~1.2x of truth
#: on the fixture while the sketch stays ≤ d·w = 16k counter rows.
JOINSIZE_W = 4096

_X103_A_COL = None  # built below (needs the duck hex template)


def _x103_sql() -> str:
    from dwh_etl_framework_spark.operators.sketch import (
        CMS_D,
        DUCK_HEX_AT,
        cms_col_expr,
    )

    col_a = cms_col_expr(DUCK_HEX_AT, "user_id", JOINSIZE_W)
    col_b = cms_col_expr(DUCK_HEX_AT, "o_custkey", JOINSIZE_W)
    return f"""
    WITH a_rows AS (
        SELECT user_id, unnest(generate_series(0, {CMS_D - 1})) AS r
        FROM events
    ),
    a_cells AS (
        SELECT r, {col_a} AS col, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM a_rows GROUP BY 1, 2
    ),
    b_rows AS (
        SELECT o_custkey, unnest(generate_series(0, {CMS_D - 1})) AS r
        FROM orders
    ),
    b_cells AS (
        SELECT r, {col_b} AS col, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM b_rows GROUP BY 1, 2
    ),
    dots AS (
        SELECT a.r, CAST(SUM(a.cnt * b.cnt) AS BIGINT) AS dot
        FROM a_cells a JOIN b_cells b ON a.r = b.r AND a.col = b.col
        GROUP BY a.r
    ),
    est AS (SELECT CAST(MIN(dot) AS BIGINT) AS est_join_size FROM dots),
    exact AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_size
        FROM events e JOIN orders o ON e.user_id = o.o_custkey
    )
    SELECT est_join_size, exact_join_size,
           est_join_size - exact_join_size AS overcount
    FROM est, exact
    """


@query("x103_join_size_estimate", oracle=_x103_sql())
def x103_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F-tier optimizer statistics: estimate |events ⋈ orders| on

    user_id = o_custkey from two count-min sketches WITHOUT running the
    join — est = MIN over hash rows of the counter dot product
    Σ_col cntA·cntB (Cormode & Muthukrishnan 2005; AMS-style inner
    product). One-sided: never undercounts (each row's dot product
    ≥ the true Σ_k a_k·b_k; the exact audit column proves it per run).

    This is the statistic a planner needs to pick broadcast vs shuffle
    or pre-size an exchange (the setjoin/editjoin cost-based verify
    discipline, supplied from sketches instead of a scan): each sketch
    is ONE map-side-combinable aggregate over its table (raw keys never
    shuffle — partitions reduce to ≤ d·w counters before the exchange),
    sketches are SUM-mergeable across days/streams, and the estimate
    itself joins two ≤ d·w counter tables — constant work regardless of
    corpus size. The exact audit beside it is the one full join this
    oracled entry pays to certify the bound; a production planner runs
    only the sketch path."""
    t = fixtures(spark, sf_dir)
    from dwh_etl_framework_spark.operators.sketch import cms_join_size, cms_sketch

    a = cms_sketch(t.events.select("user_id"), "user_id", JOINSIZE_W)
    b = cms_sketch(t.orders.select("o_custkey"), "o_custkey", JOINSIZE_W)
    est = cms_join_size(a, b)
    exact = (
        t.events.join(
            t.orders, F.col("user_id") == F.col("o_custkey")
        ).agg(F.count(F.lit(1)).cast("long").alias("exact_join_size"))
    )
    return est.crossJoin(F.broadcast(exact)).select(
        "est_join_size",
        "exact_join_size",
        (F.col("est_join_size") - F.col("exact_join_size")).alias("overcount"),
    )


#: Sorted-neighborhood window size (rank distance counted as a
#: candidate by each pass).
SNM_W = 3

_SNM_SQL = f"""
    WITH vals AS (SELECT p_name AS v FROM part GROUP BY p_name),
    ranked AS (
        SELECT v,
               CAST(row_number() OVER (ORDER BY v) AS BIGINT) AS fwd_rk,
               CAST(row_number() OVER (ORDER BY reverse(v)) AS BIGINT)
                   AS rev_rk
        FROM vals
    ),
    truth AS (
        SELECT a.v AS val_a, b.v AS val_b,
               CAST(levenshtein(a.v, b.v) AS INTEGER) AS dist
        FROM vals a JOIN vals b
          ON a.v < b.v AND levenshtein(a.v, b.v) <= 1
    )
    SELECT t.val_a, t.val_b, t.dist,
           ABS(ra.fwd_rk - rb.fwd_rk) AS fwd_gap,
           ABS(ra.rev_rk - rb.rev_rk) AS rev_gap,
           LEAST(ABS(ra.fwd_rk - rb.fwd_rk), ABS(ra.rev_rk - rb.rev_rk))
               <= {SNM_W} AS snm_recalled
    FROM truth t
    JOIN ranked ra ON ra.v = t.val_a
    JOIN ranked rb ON rb.v = t.val_b
    """


@query("x104_sorted_neighborhood_audit", oracle=_SNM_SQL)
def x104_sorted_neighborhood_audit(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """X1 blocking-strategy recall audit: every TRUE fuzzy value pair

    (levenshtein ≤ 1 — the lossless pigeonhole join is the ground
    truth, the x97 audit pattern) scored against two-pass
    sorted-neighborhood blocking (Hernández & Stolfo's merge/purge):
    a pair is a candidate when its rank distance under the FORWARD sort
    key or the REVERSED-string key is ≤ w. The fixture shows exactly
    why one pass is not enough — every true pair here is a
    first-character edit ("cold …"/"old …"), forward gap 32, reversed
    gap 1: the forward pass alone recalls NOTHING, the reverse pass
    recalls everything (the standard multi-pass SNM argument,
    exhibited pair by pair with both gaps in the output).

    Scale shape: the ranks are windows over the DISTINCT VALUE table
    (the x99b principle — vocabulary-sized, so the global sort is over
    10²–10⁶ short strings regardless of corpus rows); the truth side is
    the audited lossless segment join. This is the audit a team runs to
    pick w (or reject SNM) before trusting it as the cheap blocking
    tier on the full corpus."""
    t = fixtures(spark, sf_dir)
    from pyspark.sql.window import Window

    vals = t.part.select(F.col("p_name").alias("v")).distinct()
    ranked = vals.select(
        "v",
        F.row_number().over(Window.orderBy("v")).cast("long").alias("fwd_rk"),
        F.row_number()
        .over(Window.orderBy(F.reverse(F.col("v"))))
        .cast("long")
        .alias("rev_rk"),
    )
    truth = editjoin.edit_distance_value_pairs(t.part, "p_name", k=1).select(
        "val_a", "val_b", "dist"
    )
    ra = ranked.select(
        F.col("v").alias("val_a"),
        F.col("fwd_rk").alias("__fa"),
        F.col("rev_rk").alias("__ra"),
    )
    rb = ranked.select(
        F.col("v").alias("val_b"),
        F.col("fwd_rk").alias("__fb"),
        F.col("rev_rk").alias("__rb"),
    )
    fwd_gap = F.abs(F.col("__fa") - F.col("__fb"))
    rev_gap = F.abs(F.col("__ra") - F.col("__rb"))
    return (
        truth.join(F.broadcast(ra), "val_a")
        .join(F.broadcast(rb), "val_b")
        .select(
            "val_a",
            "val_b",
            "dist",
            fwd_gap.alias("fwd_gap"),
            rev_gap.alias("rev_gap"),
            (F.least(fwd_gap, rev_gap) <= SNM_W).alias("snm_recalled"),
        )
    )
