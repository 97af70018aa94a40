"""Output checks against DuckDB over the same generated files.

Each check runs after the timed region and returns ``(failed_ops, info)``:
the op ids whose output did not match, and figures the report keeps (row
counts, verified pairs, survivor counts). A check that cannot run at all
fails every op it covers.
"""

from __future__ import annotations

import glob
import os
from collections import defaultdict

import duckdb

# word-3-gram shingles, the operators' tokenisation (single-space split)
_SHINGLES = """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS t FROM {src}),
    idx AS (SELECT doc_id, t, unnest(generate_series(1, len(t) - 2)) AS i
            FROM toks WHERE len(t) >= 3)
    SELECT DISTINCT doc_id, t[i] || ' ' || t[i+1] || ' ' || t[i+2] AS shingle
    FROM idx
"""

#: the registry's x94 oracle shape: the naive shingle self-join, J >= 0.5
_NAIVE_PAIRS = """
    WITH sh AS ({shingles}),
    counts AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, COUNT(*) AS n_common
        FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        GROUP BY 1, 2
    )
    SELECT i.doc_a, i.doc_b, i.n_common, ca.n AS n_a, cb.n AS n_b
    FROM inter i
    JOIN counts ca ON i.doc_a = ca.doc_id
    JOIN counts cb ON i.doc_b = cb.doc_id
    WHERE CAST(i.n_common AS DOUBLE) / (ca.n + cb.n - i.n_common) >= 0.5
"""


def _differs(con, expected: str, actual: str) -> int:
    """Rows in one multiset and not the other (0 means equal)."""
    return con.sql(
        f"SELECT (SELECT COUNT(*) FROM (({expected}) EXCEPT ALL ({actual}))) "
        f"+ (SELECT COUNT(*) FROM (({actual}) EXCEPT ALL ({expected})))"
    ).fetchone()[0]


def published(path: str) -> str:
    """The parquet glob of a ``StreamMasterState``'s published version."""
    with open(os.path.join(path, "_LATEST")) as fh:
        return os.path.join(path, f"_v{int(fh.read().strip())}", "*.parquet")


def warehouse_refresh(inputs: str, out: str, ops: list[dict], notes: dict):
    con = duckdb.connect()
    for t in ("nation", "customer", "part", "orders", "lineitem"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{inputs}/{t}/*.parquet'")
    date = notes["report_date"]
    part_sales = f"""
        WITH stg AS (
            SELECT l.l_partkey, YEAR(o.o_orderdate) AS o_year, l.l_quantity,
                   l.l_extendedprice * (1 - l.l_discount) AS revenue
            FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
            WHERE l.l_shipdate <= DATE '{date}'),
        mart AS (
            SELECT p.p_partkey, s.o_year, p.p_brand, SUM(s.revenue) AS revenue,
                   SUM(s.l_quantity) AS qty, COUNT(*) AS n_lines
            FROM stg s JOIN part p ON s.l_partkey = p.p_partkey
            GROUP BY ALL)
        SELECT *, RANK() OVER (PARTITION BY p_brand, o_year
                               ORDER BY revenue DESC, p_partkey) AS brand_rank,
               SUM(revenue) OVER (PARTITION BY p_brand, o_year) AS brand_revenue
        FROM mart"""
    customer_value = f"""
        WITH co AS (
            SELECT o_custkey, COUNT(*) AS n_orders, SUM(o_totalprice) AS total
            FROM orders WHERE o_orderdate <= DATE '{date}' GROUP BY o_custkey)
        SELECT c.c_custkey, c.c_nationkey, n.n_name, c.c_mktsegment,
               co.n_orders, co.total,
               RANK() OVER (PARTITION BY n.n_name
                            ORDER BY co.total DESC, c.c_custkey) AS nation_rank
        FROM co JOIN customer c ON co.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey"""

    def canon(src, cols):
        return f"SELECT {cols} FROM ({src})"

    ps_cols = ("CAST(p_partkey AS BIGINT), CAST(o_year AS BIGINT), p_brand, "
               "CAST(revenue AS DECIMAL(38,4)), CAST(qty AS DECIMAL(38,2)), "
               "CAST(n_lines AS BIGINT), CAST(brand_rank AS BIGINT), "
               "CAST(brand_revenue AS DECIMAL(38,4))")
    cv_cols = ("CAST(c_custkey AS BIGINT), CAST(c_nationkey AS BIGINT), n_name, "
               "c_mktsegment, CAST(n_orders AS BIGINT), "
               "CAST(total AS DECIMAL(38,2)), CAST(nation_rank AS BIGINT)")
    info, bad = {}, 0
    for name, exp, cols in (("part_sales", part_sales, ps_cols),
                            ("customer_value", customer_value, cv_cols)):
        act = f"SELECT * FROM '{out}/{name}/*.parquet'"
        diff = _differs(con, canon(exp, cols), canon(act, cols))
        info[f"{name}_rows"] = con.sql(f"SELECT COUNT(*) FROM ({exp})").fetchone()[0]
        info[f"{name}_mismatched_rows"] = diff
        bad += diff
    return ({ops[-1]["op"]} if bad else set()), info


def journal_upsert(inputs: str, out: str, ops: list[dict], notes: dict):
    """Latest row per key under the merge order: a later trigger wins; inside
    one trigger the latest ``__transform_dt`` wins, then the earlier row of
    the file (``__seqno`` ascending)."""
    con = duckdb.connect()
    files = sorted(glob.glob(f"{inputs}/journal/*.parquet"))
    file_list = ", ".join(f"'{f}'" for f in files)
    expected = f"""
        WITH j AS (
            SELECT k, amount, status, src, __transform_dt,
                   CAST(regexp_extract(filename, '(\\d+)\\.parquet$', 1) AS INT)
                       AS f, file_row_number AS r
            FROM read_parquet([{file_list}], filename = true,
                              file_row_number = true)),
        b AS (SELECT k, amount, status, src, NULL::TIMESTAMP AS __transform_dt,
                     -1 AS f, 0 AS r FROM '{inputs}/base/*.parquet')
        SELECT k, amount, status, src FROM (SELECT * FROM j UNION ALL SELECT * FROM b)
        QUALIFY ROW_NUMBER() OVER (
            PARTITION BY k ORDER BY f DESC, __transform_dt DESC, r ASC) = 1"""
    actual = f"SELECT k, amount, status, src FROM '{published(f'{out}/master')}'"
    diff = _differs(con, expected, actual)
    info = {
        "master_rows": con.sql(f"SELECT COUNT(*) FROM ({actual})").fetchone()[0],
        "master_mismatched_rows": diff,
        "journal_rows": con.sql(
            f"SELECT COUNT(*) FROM read_parquet([{file_list}])").fetchone()[0],
    }
    return ({ops[-1]["op"]} if diff else set()), info


#: near-tier band: an increment doc this similar to a corpus doc must be
#: dropped, one below the lower bound must survive; MinHash-LSH may go
#: either way in between (the generator plants nothing there).
NEAR_MUST_DROP = 0.7
NEAR_MUST_KEEP = 0.3


def corpus_curation(inputs: str, out: str, ops: list[dict], notes: dict):
    con = duckdb.connect()
    con.sql(f"CREATE VIEW base AS SELECT * FROM '{inputs}/base/*.parquet'")
    batch_op, stream_ops = ops[0]["op"], ops[1:]
    failed: set = set()
    info: dict = {}
    # 1. exact-dedup survivors: lowest id per identical text, with copies
    exp_exact = con.sql(
        "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS n FROM base GROUP BY text"
    ).fetchall()
    nb = notes["batch"]
    if nb["exact"] is None:
        return {o["op"] for o in ops}, {"error": "batch pass failed"}
    act_exact = [(r["doc_id"], r["n_copies"])
                 for r in nb["exact"].select("doc_id", "n_copies").collect()]
    info["exact_survivors"] = len(exp_exact)
    if sorted(exp_exact) != sorted(act_exact):
        failed.add(batch_op)
        info["exact_mismatch"] = True
    # 2. verified pairs over the exact survivors (x94 oracle shape)
    con.sql("CREATE TABLE surv AS SELECT b.doc_id, b.text FROM base b "
            "JOIN (SELECT MIN(doc_id) AS doc_id FROM base GROUP BY text) s "
            "USING (doc_id)")
    exp_pairs = sorted(con.sql(
        _NAIVE_PAIRS.format(shingles=_SHINGLES.format(src="surv"))).fetchall())
    act_pairs = sorted(
        (r["doc_a"], r["doc_b"], r["n_common"], r["n_a"], r["n_b"])
        for r in nb["pairs"].collect()
    )
    info["verified_pairs"] = len(act_pairs)
    if exp_pairs != act_pairs:
        failed.add(batch_op)
        info["pairs_mismatch"] = len(set(exp_pairs) ^ set(act_pairs))
    # 3. the landed corpus after the batch pass: one survivor (lowest id)
    #    per connected cluster of verified pairs
    parent: dict = {}

    def find(x):
        while parent.get(x, x) != x:
            parent[x] = parent.get(parent[x], parent[x])
            x = parent[x]
        return x

    for a, b, *_ in exp_pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    batch_keep = {d for d, _ in exp_exact if find(d) == d}
    info["batch_survivors"] = len(batch_keep)
    final = con.sql(
        f"SELECT doc_id, text FROM '{published(f'{out}/corpus')}'").fetchall()
    final_ids = [d for d, _ in final]
    base_ids = {r[0] for r in con.sql("SELECT doc_id FROM base").fetchall()}
    if {d for d in final_ids if d in base_ids} != batch_keep:
        failed.add(batch_op)
        info["batch_corpus_mismatch"] = True
    if len(set(final_ids)) != len(final_ids) or \
            len({t for _, t in final}) != len(final):
        failed.add(stream_ops[-1]["op"] if stream_ops else batch_op)
        info["duplicate_in_corpus"] = True
    # 4. each increment against the corpus it met
    files = sorted(glob.glob(f"{inputs}/increments/*.parquet"))
    file_list = ", ".join(f"'{f}'" for f in files)
    con.sql(
        "CREATE TABLE inc AS SELECT doc_id, text, CAST(regexp_extract(filename, "
        f"'(\\d+)\\.parquet$', 1) AS INT) AS f FROM read_parquet([{file_list}], "
        "filename = true)")
    con.sql("CREATE TABLE keep AS SELECT * FROM surv WHERE doc_id IN "
            f"({', '.join(map(str, sorted(batch_keep))) or 'NULL'})")
    max_j = dict(con.sql(f"""
        WITH a AS ({_SHINGLES.format(src="(SELECT DISTINCT doc_id, text FROM inc)")}),
        b AS ({_SHINGLES.format(src="keep")}),
        na AS (SELECT doc_id, COUNT(*) AS n FROM a GROUP BY 1),
        nb AS (SELECT doc_id, COUNT(*) AS n FROM b GROUP BY 1),
        i AS (SELECT a.doc_id AS da, b.doc_id AS db, COUNT(*) AS c
              FROM a JOIN b USING (shingle) GROUP BY 1, 2)
        SELECT da, MAX(CAST(c AS DOUBLE) / (na.n + nb.n - c))
        FROM i JOIN na ON da = na.doc_id JOIN nb ON db = nb.doc_id GROUP BY da
    """).fetchall())
    in_final = set(final_ids)
    texts = {t for d, t in final if d in batch_keep}
    kept_before = set(batch_keep)
    inc_rows = con.sql("SELECT f, doc_id, text FROM inc ORDER BY f, doc_id").fetchall()
    by_file = defaultdict(list)
    for f, d, t in inc_rows:
        by_file[f].append((d, t))
    survivors = ambiguous = 0
    op_of_file = {i: o["op"] for i, o in enumerate(stream_ops)}
    for f in sorted(by_file):
        first_of_text: dict = {}
        for d, t in by_file[f]:  # ordered by id: min id per text first
            first_of_text.setdefault(t, d)
        for t, d in first_of_text.items():
            if t in texts:
                expect_keep = False
            elif max_j.get(d, 0.0) >= NEAR_MUST_DROP:
                expect_keep = False
            elif max_j.get(d, 0.0) < NEAR_MUST_KEEP:
                expect_keep = True
            else:
                ambiguous += 1
                expect_keep = d in in_final and d not in kept_before
            # a redelivered id was kept by an earlier trigger, not this one
            kept = d in in_final and d not in kept_before
            if expect_keep != kept:
                failed.add(op_of_file.get(f, batch_op))
        new = {d: t for t, d in first_of_text.items()
               if d in in_final and d not in kept_before}
        survivors += len(new)
        texts |= set(new.values())
        kept_before |= set(new)
    info["increment_docs"] = len(inc_rows)
    info["increment_survivors"] = survivors
    info["near_band_docs"] = ambiguous
    return failed, info
