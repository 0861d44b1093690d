"""Seeded input generators for the benchmark workloads.

Every table is a pure function of ``(seed, scale)``: the same arguments give
byte-identical parquet files. The shapes follow the TPC-H-like tables the
package's queries expect (``datacompy_spark/queries.py``), scaled the way
TPC-H scales them: ``scale`` 0.1 gives ~600k lineitem rows.

Money columns carry two decimals. Timestamps are written without a zone,
as the package's loaders expect.
"""

from __future__ import annotations

import os
from typing import Dict, List, Tuple

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

LI_KEYS = ["l_orderkey", "l_linenumber", "l_partkey", "l_suppkey"]
# the duplicated key and the order that pairs its duplicates: together they
# are LI_KEYS, so ordinal pairing yields the same pairs as the unique key
LI_DUP_KEYS, LI_DUP_ORDER = LI_KEYS[:2], LI_KEYS[2:]
LI_ABS_TOL = {"l_extendedprice": 0.01, "default": 0.0}
WORDS = (
    "a the data table row column key value join merge scan sort filter "
    "group agg window query batch stream spark part line order customer "
    "small big fast slow hash vector"
).split()
LANGS = ["en", "en", "en", "de", "es", "fr", "zh"]


def _write(table: pa.Table, path: str) -> str:
    pq.write_table(table, path)
    return path


def _days_ts(rng, n: int, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days, n).astype("timedelta64[D]").astype(
        "timedelta64[us]"
    )


def _money(rng, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def lineitem(rng, scale: float) -> Dict[str, np.ndarray]:
    """Lineitem columns. ``(l_orderkey, l_linenumber)`` repeats for about a
    quarter of the rows; the 4-column key :data:`LI_KEYS` is unique."""
    n = max(int(6_000_000 * scale), 100)
    n_orders = max(int(1_500_000 * scale), 25)
    n_part = max(int(200_000 * scale), 20)
    n_supp = max(int(10_000 * scale), 10)
    keys = np.stack(
        [
            rng.integers(0, n_orders, n),
            rng.integers(1, 8, n),
            rng.integers(0, n_part, n),
            rng.integers(0, n_supp, n),
        ],
        axis=1,
    )
    _, first = np.unique(keys, axis=0, return_index=True)
    keys = keys[np.sort(first)]
    n = len(keys)
    return {
        "l_orderkey": keys[:, 0],
        "l_partkey": keys[:, 2],
        "l_suppkey": keys[:, 3],
        "l_linenumber": keys[:, 1].astype(np.int32),
        "l_quantity": rng.integers(1, 51, n).astype(np.float64),
        "l_extendedprice": _money(rng, n, 900.0, 105_000.0),
        "l_discount": rng.integers(0, 11, n) / 100.0,
        "l_tax": rng.integers(0, 9, n) / 100.0,
        "l_returnflag": rng.choice(np.array(["A", "N", "R"], dtype=object), n),
        "l_linestatus": rng.choice(np.array(["O", "F"], dtype=object), n),
        "l_shipdate": _days_ts(rng, n, "1995-01-01", 2500),
    }


def lineitem_pair(seed: int, scale: float, out_dir: str) -> Tuple[str, str, dict]:
    """Write ``df1``/``df2`` lineitem parquet files for the compare workloads.

    The seed picks the residues of ``l_orderkey`` that decide which orders
    each side drops and which rows of df2 are perturbed: price +0.001
    (inside the 0.01 tolerance), discount nulled, tax +0.5 and the return
    flag lower-cased (outside any tolerance)."""
    rng = np.random.default_rng(seed)
    li = lineitem(rng, scale)
    r = rng.integers(0, 1_000_000, 6)
    drop1, drop2 = r[0] % 50, (r[0] % 50 + 1 + r[1] % 49) % 50
    ok = li["l_orderkey"]
    keep1, keep2 = ok % 50 != drop1, ok % 50 != drop2
    df2 = dict(li)
    df2["l_extendedprice"] = np.where(
        ok % 10 == r[2] % 10, li["l_extendedprice"] + 0.001, li["l_extendedprice"]
    )
    disc = pa.array(li["l_discount"], mask=(ok % 17 == r[3] % 17))
    df2["l_tax"] = np.where(ok % 11 == r[4] % 11, li["l_tax"] + 0.5, li["l_tax"])
    lower = ok % 13 == r[5] % 13
    df2["l_returnflag"] = np.where(
        lower, np.char.lower(li["l_returnflag"].astype(str)).astype(object),
        li["l_returnflag"],
    )
    t1 = pa.table(li).filter(pa.array(keep1))
    cols2 = {k: (disc if k == "l_discount" else pa.array(v)) for k, v in df2.items()}
    t2 = pa.table(cols2).filter(pa.array(keep2))
    p1 = _write(t1, os.path.join(out_dir, "df1.parquet"))
    p2 = _write(t2, os.path.join(out_dir, "df2.parquet"))
    return p1, p2, {"df1_rows": t1.num_rows, "df2_rows": t2.num_rows}


def _words(rng, n_words: int) -> str:
    return " ".join(rng.choice(WORDS, n_words))


def documents(rng, n: int) -> pa.Table:
    """Word-salad documents; every fifth one is a light edit of an earlier
    document so the dedup queries find pairs."""
    texts: List[str] = []
    for i in range(n):
        if i >= 5 and i % 5 == 0:
            words = texts[int(rng.integers(0, i))].split()
            for _ in range(int(rng.integers(1, 4))):
                words[int(rng.integers(0, len(words)))] = str(rng.choice(WORDS))
            texts.append(" ".join(words))
        else:
            texts.append(_words(rng, int(rng.integers(10, 90))))
    return pa.table(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": rng.choice(np.array(LANGS, dtype=object), n),
            "source": [f"src{k}" for k in rng.integers(0, 20, n)],
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def query_tables(seed: int, scale: float, out_dir: str) -> Dict[str, int]:
    """Write the tables the operator-mix queries read, at ``scale``.
    Returns the row count of each table."""
    rng = np.random.default_rng(seed)
    tables = {
        "documents": documents(rng, max(int(50_000 * scale), 20)),
    }
    for name, t in tables.items():
        _write(t, os.path.join(out_dir, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}
