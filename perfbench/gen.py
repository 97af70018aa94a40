"""Seeded input generator for the three benchmark workloads.

Every file is a pure function of ``(workload, seed, ops)``: the same
arguments write byte-identical parquet files. The program under test only
ever sees these files. Each generator returns a ``props`` dict describing
what it wrote (sizes, key skew, duplicate shares, cluster sizes, state
growth); the benchmark prints it with the run so a result can be read
against its input.

Sizes are chosen for one process on ``local[2]`` with one stream at a time,
so that a run (cold first op plus the warm ops) stays in the tens of seconds.

- ``warehouse_refresh``: a TPC-H-shaped star (nation, customer, part,
  orders, lineitem). Foreign keys are Zipf-skewed: ``o_custkey`` with
  exponent 1.2 over customers, ``l_partkey`` with exponent 1.1 over parts.
  Money columns are DECIMAL so sums are exact in every engine.
- ``journal_upsert``: a base master of ``JU_BASE_KEYS`` keys and one journal
  file per trigger. Each file mixes Zipf-skewed updates to hot keys, new
  keys, rows redelivered from an earlier file, and pairs of rows that share
  a key and its latest ``__transform_dt`` (so the write-order tie-breaker
  decides the winner).
- ``corpus_curation``: a base corpus over a Zipf vocabulary with planted
  clusters of exact copies and near-duplicates (one or two substituted
  words, word-3-gram Jaccard >= 0.75), then one increment file per
  trigger mixing fresh documents, exact and near copies of base documents,
  duplicates inside the increment and redelivered documents.
"""

from __future__ import annotations

import datetime as dt
import os
from decimal import Decimal

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _write(table: pa.Table, path: str, seq: int | None = None) -> int:
    """Write one parquet file. Stream input files get ``seq`` seconds past a
    fixed instant as their mtime, so a file stream (which takes new files
    in modification-time order) reads them in sequence."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, compression="snappy")
    if seq is not None:
        os.utime(path, (_STREAM_T0 + seq, _STREAM_T0 + seq))
    return os.path.getsize(path)


_STREAM_T0 = 1_700_000_000


def _zipf_index(rng: np.random.Generator, n: int, s: float, size: int) -> np.ndarray:
    """``size`` draws from {0..n-1} with P(i) proportional to 1/(i+1)^s."""
    p = 1.0 / np.arange(1, n + 1) ** s
    return rng.choice(n, size=size, p=p / p.sum())


def _money(cents: np.ndarray) -> pa.Array:
    return pa.array(
        [Decimal(int(c)).scaleb(-2) for c in cents], type=pa.decimal128(12, 2)
    )


# ---- warehouse_refresh ---------------------------------------------------

WH_CUSTOMERS = 1_500
WH_PARTS = 2_000
WH_ORDERS = 8_000
WH_LINEITEM_FILES = 2


def gen_warehouse(root: str, seed: int) -> dict:
    rng = np.random.default_rng([seed, 1])
    nbytes = 0
    nation = pa.table({
        "n_nationkey": pa.array(np.arange(25), pa.int64()),
        "n_name": [f"NATION{i:02d}" for i in range(25)],
        "n_regionkey": pa.array(np.arange(25) % 5, pa.int64()),
    })
    nbytes += _write(nation, f"{root}/nation/part-0.parquet")
    customer = pa.table({
        "c_custkey": pa.array(np.arange(1, WH_CUSTOMERS + 1), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(1, WH_CUSTOMERS + 1)],
        "c_nationkey": pa.array(rng.integers(0, 25, WH_CUSTOMERS), pa.int64()),
        "c_mktsegment": pa.array(
            np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                      "MACHINERY"])[rng.integers(0, 5, WH_CUSTOMERS)]
        ),
        "c_acctbal": _money(rng.integers(-99_999, 999_999, WH_CUSTOMERS)),
    })
    nbytes += _write(customer, f"{root}/customer/part-0.parquet")
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, WH_PARTS + 1), pa.int64()),
        "p_brand": pa.array(
            [f"Brand#{1 + i // 5}{1 + i % 5}" for i in rng.integers(0, 25, WH_PARTS)]
        ),
        "p_size": pa.array(rng.integers(1, 51, WH_PARTS), pa.int32()),
        "p_retailprice": _money(rng.integers(90_000, 200_000, WH_PARTS)),
    })
    nbytes += _write(part, f"{root}/part/part-0.parquet")

    epoch = dt.date(1992, 1, 1)
    odays = rng.integers(0, 2_400, WH_ORDERS)
    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, WH_ORDERS + 1) * 4, pa.int64()),
        "o_custkey": pa.array(
            1 + _zipf_index(rng, WH_CUSTOMERS, 1.2, WH_ORDERS), pa.int64()
        ),
        "o_orderdate": pa.array(
            [epoch + dt.timedelta(days=int(d)) for d in odays], pa.date32()
        ),
        "o_orderpriority": pa.array(
            np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
                      "5-LOW"])[rng.integers(0, 5, WH_ORDERS)]
        ),
        "o_totalprice": _money(rng.integers(100_000, 50_000_000, WH_ORDERS)),
    })
    nbytes += _write(orders, f"{root}/orders/part-0.parquet")

    lines_per = rng.integers(1, 8, WH_ORDERS)
    n_lines = int(lines_per.sum())
    okey = np.repeat(orders["o_orderkey"].to_numpy(), lines_per)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    ship = np.repeat(odays, lines_per) + rng.integers(1, 122, n_lines)
    lineitem = {
        "l_orderkey": pa.array(okey, pa.int64()),
        "l_linenumber": pa.array(lnum, pa.int32()),
        "l_partkey": pa.array(
            1 + _zipf_index(rng, WH_PARTS, 1.1, n_lines), pa.int64()
        ),
        "l_quantity": _money(rng.integers(1, 51, n_lines) * 100),
        "l_extendedprice": _money(rng.integers(90_000, 10_000_000, n_lines)),
        "l_discount": _money(rng.integers(0, 11, n_lines)),
        "l_shipdate": pa.array(
            [epoch + dt.timedelta(days=int(d)) for d in ship], pa.date32()
        ),
    }
    lt = pa.table(lineitem)
    bounds = np.linspace(0, n_lines, WH_LINEITEM_FILES + 1).astype(int)
    for i in range(WH_LINEITEM_FILES):
        nbytes += _write(
            lt.slice(bounds[i], bounds[i + 1] - bounds[i]),
            f"{root}/lineitem/part-{i}.parquet",
        )
    rows = 25 + WH_CUSTOMERS + WH_PARTS + WH_ORDERS + n_lines
    return {
        "tables": {"nation": 25, "customer": WH_CUSTOMERS, "part": WH_PARTS,
                   "orders": WH_ORDERS, "lineitem": n_lines},
        "key_skew": {"o_custkey": "zipf s=1.2", "l_partkey": "zipf s=1.1"},
        "rows_per_op": rows,
        "input_bytes": nbytes,
        "state_growth": "none: every refresh overwrites the same landed tables",
    }


# ---- journal_upsert --------------------------------------------------------

JU_BASE_KEYS = 40_000
JU_ROWS_PER_FILE = 4_000
_JU_T0 = dt.datetime(2024, 1, 1)


def _ju_rows(keys, tdt, amount, status, src):
    return {"k": keys, "amount": amount, "status": status, "src": src,
            "__transform_dt": tdt}


def gen_journal(root: str, seed: int, files: int) -> dict:
    rng = np.random.default_rng([seed, 2])
    statuses = np.array(["new", "open", "paid", "shipped", "closed"])
    base = pa.table({
        "k": pa.array(np.arange(JU_BASE_KEYS), pa.int64()),
        "amount": pa.array(rng.integers(0, 1_000_000, JU_BASE_KEYS), pa.int64()),
        "status": pa.array(statuses[rng.integers(0, 5, JU_BASE_KEYS)]),
        "src": pa.array(np.full(JU_BASE_KEYS, -1), pa.int64()),
    })
    nbytes = _write(base, f"{root}/base/part-0.parquet")
    next_key = JU_BASE_KEYS
    sent: list[dict] = []  # rows of earlier files, for redelivery
    n_upd = int(JU_ROWS_PER_FILE * 0.6)
    n_new = int(JU_ROWS_PER_FILE * 0.2)
    n_redeliver = int(JU_ROWS_PER_FILE * 0.1)
    n_tie = JU_ROWS_PER_FILE - n_upd - n_new - n_redeliver
    counts = {"update": 0, "new": 0, "redelivered": 0, "tie": 0}
    for f in range(files):
        hour = _JU_T0 + dt.timedelta(hours=f)
        upd_keys = _zipf_index(rng, next_key, 1.1, n_upd)
        new_keys = np.arange(next_key, next_key + n_new)
        next_key += n_new
        keys = np.concatenate([upd_keys, new_keys])
        mins = rng.integers(0, 60, keys.size)
        rows = _ju_rows(
            list(keys), [hour + dt.timedelta(minutes=int(m)) for m in mins],
            list(rng.integers(0, 1_000_000, keys.size)),
            list(statuses[rng.integers(0, 5, keys.size)]),
            list(range(f * 1_000_000, f * 1_000_000 + keys.size)),
        )
        # ties: a second row for a key, carrying the same __transform_dt
        # as that key's latest row in this file, so only the write order
        # (__seqno: file row order) separates them
        latest: dict[int, dt.datetime] = {}
        for k, t in zip(rows["k"], rows["__transform_dt"]):
            latest[k] = max(latest.get(k, t), t)
        tie_src = rng.choice(keys.size, size=n_tie, replace=False)
        ties = _ju_rows(
            [rows["k"][i] for i in tie_src],
            [latest[rows["k"][i]] for i in tie_src],
            list(rng.integers(0, 1_000_000, n_tie)),
            list(statuses[rng.integers(0, 5, n_tie)]),
            list(range(f * 1_000_000 + keys.size,
                       f * 1_000_000 + keys.size + n_tie)),
        )
        # redelivery: exact copies of rows an earlier file already carried,
        # for keys this file does not otherwise touch
        redo = _ju_rows([], [], [], [], [])
        if sent:
            taken = set(rows["k"])
            for i in rng.permutation(len(sent)):
                r = sent[i]
                if r["k"] in taken:
                    continue
                taken.add(r["k"])
                for c in redo:
                    redo[c].append(r[c])
                if len(redo["k"]) == n_redeliver:
                    break
        allrows = {c: rows[c] + ties[c] + redo[c] for c in rows}
        order = rng.permutation(len(allrows["k"]))
        table = pa.table({
            "k": pa.array([int(allrows["k"][i]) for i in order], pa.int64()),
            "amount": pa.array(
                [int(allrows["amount"][i]) for i in order], pa.int64()
            ),
            "status": pa.array([str(allrows["status"][i]) for i in order]),
            "src": pa.array([int(allrows["src"][i]) for i in order], pa.int64()),
            "__transform_dt": pa.array(
                [allrows["__transform_dt"][i] for i in order], pa.timestamp("us")
            ),
        })
        nbytes += _write(table, f"{root}/journal/{f:04d}.parquet", seq=f)
        sent.extend(
            {c: rows[c][i] for c in rows}
            for i in rng.choice(keys.size, size=64, replace=False)
        )
        counts["update"] += n_upd
        counts["new"] += n_new
        counts["redelivered"] += len(redo["k"])
        counts["tie"] += n_tie
    journal_rows = sum(counts.values())
    return {
        "base_keys": JU_BASE_KEYS,
        "files": files,
        "rows_per_file": JU_ROWS_PER_FILE,
        "journal_rows": journal_rows,
        "row_mix": counts,
        "key_skew": {"updates": "zipf s=1.1 over existing keys"},
        "state_growth": f"{JU_BASE_KEYS} -> {next_key} keys",
        "rows_per_op": JU_ROWS_PER_FILE,
        "input_bytes": nbytes,
    }


# ---- corpus_curation -------------------------------------------------------

CC_VOCAB = 4_000
CC_BASE_DOCS = 800
CC_DOCS_PER_FILE = 40


def _words(rng: np.random.Generator, vocab: np.ndarray, n: int) -> list[str]:
    return list(vocab[_zipf_index(rng, vocab.size, 1.05, n)])


def _near(rng: np.random.Generator, vocab: np.ndarray, words: list[str]) -> list[str]:
    """Substitute one or two interior words: word-3-gram Jaccard >= 0.75
    for the 40..70-word documents generated here."""
    out = list(words)
    for pos in rng.choice(np.arange(5, len(out) - 5), size=int(rng.integers(1, 3)),
                          replace=False):
        out[pos] = f"q{int(rng.integers(0, 10**9))}"
    return out


def gen_corpus(root: str, seed: int, files: int) -> dict:
    rng = np.random.default_rng([seed, 3])
    vocab = np.array([f"w{i}" for i in range(CC_VOCAB)])

    def fresh() -> list[str]:
        return _words(rng, vocab, int(rng.integers(40, 71)))

    originals = [fresh() for _ in range(CC_BASE_DOCS)]
    docs: list[list[str]] = list(originals)
    n_exact = n_near = 0
    cluster_sizes: dict[int, int] = {}
    planted = set()
    for i in rng.choice(CC_BASE_DOCS, size=CC_BASE_DOCS // 5, replace=False):
        planted.add(int(i))
        if len(planted) % 2:
            copies = int(rng.integers(1, 4))
            docs.extend([originals[i]] * copies)
            n_exact += copies
        else:
            copies = int(rng.integers(1, 3))
            docs.extend(_near(rng, vocab, originals[i]) for _ in range(copies))
            n_near += copies
        cluster_sizes[copies + 1] = cluster_sizes.get(copies + 1, 0) + 1
    ids = rng.permutation(len(docs)) + 1
    base = pa.table({
        "doc_id": pa.array(ids, pa.int64()),
        "text": [" ".join(d) for d in docs],
    })
    nbytes = _write(base, f"{root}/base/part-0.parquet")
    # near/exact copies in the increments only come from documents outside
    # every planted cluster, so their base original always survives curation
    sources = [i for i in range(CC_BASE_DOCS) if i not in planted]
    next_id = len(docs) + 1
    earlier: list[tuple[int, str]] = []
    mix = {"fresh": 0, "exact_copy": 0, "near_copy": 0, "in_batch_dup": 0,
           "redelivered": 0}
    per = CC_DOCS_PER_FILE
    for f in range(files):
        rows: list[tuple[int, str]] = []
        plan = (["fresh"] * int(per * 0.5) + ["exact_copy"] * int(per * 0.2)
                + ["near_copy"] * int(per * 0.15))
        for kind in plan:
            if kind == "fresh":
                text = " ".join(fresh())
            elif kind == "exact_copy":
                text = " ".join(originals[sources[rng.integers(len(sources))]])
            else:
                text = " ".join(
                    _near(rng, vocab, originals[sources[rng.integers(len(sources))]])
                )
            rows.append((next_id, text))
            next_id += 1
            mix[kind] += 1
        n_dup = int(per * 0.1)
        for j in rng.choice(len(rows), size=n_dup, replace=False):
            rows.append((next_id, rows[j][1]))
            next_id += 1
        mix["in_batch_dup"] += n_dup
        n_redo = per - len(rows)
        if earlier:
            for j in rng.choice(len(earlier), size=n_redo, replace=False):
                rows.append(earlier[j])
            mix["redelivered"] += n_redo
        else:
            for _ in range(n_redo):
                rows.append((next_id, " ".join(fresh())))
                next_id += 1
            mix["fresh"] += n_redo
        earlier.extend(r for r in rows[: int(per * 0.5)])
        order = rng.permutation(len(rows))
        table = pa.table({
            "doc_id": pa.array([rows[i][0] for i in order], pa.int64()),
            "text": [rows[i][1] for i in order],
        })
        nbytes += _write(table, f"{root}/increments/{f:04d}.parquet", seq=f)
    return {
        "vocab": CC_VOCAB,
        "word_skew": "zipf s=1.05",
        "base_docs": len(docs),
        "base_originals": CC_BASE_DOCS,
        "base_exact_copies": n_exact,
        "base_near_copies": n_near,
        "cluster_sizes": {str(k): v for k, v in sorted(cluster_sizes.items())},
        "files": files,
        "docs_per_file": per,
        "increment_mix": mix,
        "state_growth": f"corpus grows from about {CC_BASE_DOCS} survivors "
                        f"by the surviving share of {files * per} docs",
        "rows_per_op": per,
        "input_bytes": nbytes,
    }
