"""Seeded input generators.  The same seed gives the same files, byte for
byte; the program sees only these files and arrays."""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _emb_array(x: np.ndarray) -> pa.Array:
    d = x.shape[1]
    flat = pa.array(np.ascontiguousarray(x, dtype="f4").reshape(-1))
    return pa.FixedSizeListArray.from_arrays(flat, d).cast(pa.list_(pa.float32()))


def clustered(rng, n: int, d: int, k_true: int, noise: float):
    """Gaussian blobs around k_true centres, rows in random order so ids
    carry no cluster information."""
    centres = rng.normal(size=(k_true, d))
    lab = np.arange(n) % k_true
    pts = centres[lab] + noise * rng.normal(size=(n, d))
    perm = rng.permutation(n)
    return pts[perm].astype("f4"), lab[perm].astype("i4"), centres


def write_embeddings(out: str, x: np.ndarray, labels: np.ndarray) -> str:
    """A testdata-shaped sf dir holding one embeddings table."""
    os.makedirs(out, exist_ok=True)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(len(x), dtype="i8")),
                "embedding": _emb_array(x),
                "label": pa.array(labels.astype("i4")),
            }
        ),
        os.path.join(out, "embeddings.parquet"),
    )
    return out


def ap_corpus(out: str, seed: int, n: int) -> tuple[str, np.ndarray]:
    """Clustered corpus shaped like tools/above_gate_run.py's: d=16,
    32 true clusters, noise 0.6."""
    rng = np.random.default_rng((seed, n))
    x, lab, _ = clustered(rng, n, d=16, k_true=32, noise=0.6)
    return write_embeddings(out, x, lab), x


def emb_table(ids: np.ndarray, x: np.ndarray, labels: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "vec_id": pa.array(ids.astype("i8")),
            "embedding": _emb_array(x),
            "label": pa.array(labels.astype("i4")),
        }
    )


# --- the analytics tables (TESTDATA.md schemas) ------------------------------

_WORDS = (
    "a the key agg row scan slow fast table value part hash merge batch "
    "spark line sort window data column join small customer query order "
    "group filter stream big vector"
).split()
_TS_US = "timestamp[us]"


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D").astype("i8")
    b = np.datetime64(hi, "D").astype("i8")
    return rng.integers(a, b + 1, n)


def _ts_from_days(days: np.ndarray) -> pa.Array:
    us = days.astype("i8") * 86_400_000_000
    return pa.array(us, type=pa.int64()).cast(pa.timestamp("us"))


def mix_tables(out: str, seed: int, n_orders: int) -> str:
    """TPC-H-like star schema plus events, documents and embeddings, all
    sized off ``n_orders`` (sf0.1 has 150,000 orders)."""
    rng = np.random.default_rng((seed, 7))
    os.makedirs(out, exist_ok=True)

    def put(name, cols):
        pq.write_table(pa.table(cols), os.path.join(out, f"{name}.parquet"))

    n_cust = max(10, n_orders // 10)
    n_part = max(10, n_orders // 7)
    n_supp = max(10, n_orders // 150)
    put("region", {
        "r_regionkey": pa.array(np.arange(5, dtype="i4")),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    put("nation", {
        "n_nationkey": pa.array(np.arange(25, dtype="i4")),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array((np.arange(25) % 5).astype("i4")),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    put("customer", {
        "c_custkey": pa.array(np.arange(n_cust, dtype="i8")),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust).astype("i4")),
        "c_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_cust), 2)),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)]),
    })
    put("supplier", {
        "s_suppkey": pa.array(np.arange(n_supp, dtype="i8")),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp).astype("i4")),
        "s_acctbal": pa.array(np.round(rng.uniform(-999, 9999, n_supp), 2)),
    })
    put("part", {
        "p_partkey": pa.array(np.arange(n_part, dtype="i8")),
        "p_name": [f"part {i}" for i in range(n_part)],
        "p_brand": pa.array(np.array([f"Brand#{i}" for i in range(1, 6)])[rng.integers(0, 5, n_part)]),
        "p_type": pa.array(np.array(["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY"])[rng.integers(0, 5, n_part)]),
        "p_size": pa.array(rng.integers(1, 51, n_part).astype("i4")),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2100, n_part), 2)),
    })
    odays = _days(rng, "1995-01-01", "2001-08-01", n_orders)
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    put("orders", {
        "o_orderkey": pa.array(np.arange(n_orders, dtype="i8")),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_orders).astype("i8")),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_orders)]),
        "o_totalprice": pa.array(np.round(rng.uniform(1000, 500000, n_orders), 2)),
        "o_orderdate": _ts_from_days(odays),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_orders)]),
    })
    per = rng.integers(1, 8, n_orders)
    okey = np.repeat(np.arange(n_orders, dtype="i8"), per)
    n_li = len(okey)
    lineno = (np.arange(n_li) - np.repeat(np.cumsum(per) - per, per) + 1).astype("i4")
    qty = rng.integers(1, 51, n_li).astype("f8")
    price = np.round(qty * rng.uniform(900, 2100, n_li), 2)
    put("lineitem", {
        "l_orderkey": pa.array(okey),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li).astype("i8")),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li).astype("i8")),
        "l_linenumber": pa.array(lineno),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(price),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)]),
        "l_linestatus": pa.array(np.array(["O", "F"])[rng.integers(0, 2, n_li)]),
        "l_shipdate": _ts_from_days(np.repeat(odays, per) + rng.integers(1, 122, n_li)),
    })
    # events: users are the first tenth of the customers, timestamps in
    # January 2024 at microsecond precision (after every order)
    n_ev = max(100, n_orders * 2 // 3)
    t0 = np.datetime64("2024-01-01T00:00:00", "us").astype("i8")
    ts = np.sort(t0 + rng.integers(0, 30 * 86_400_000_000, n_ev))
    put("events", {
        "event_id": pa.array(np.arange(n_ev, dtype="i8")),
        "ts": pa.array(ts, type=pa.int64()).cast(pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(1, n_cust // 10), n_ev).astype("i8")),
        "event_type": pa.array(np.array(["click", "view", "purchase", "error", "login"])[rng.integers(0, 5, n_ev)]),
        "value": pa.array(np.round(rng.uniform(0, 100, n_ev), 2)),
        "props": [f'{{"k": {int(k)}}}' for k in rng.integers(0, 100, n_ev)],
    })
    put("documents", _documents(rng, max(50, n_orders // 30)))
    n_emb = max(100, n_orders // 75)
    x, lab, _ = clustered(rng, n_emb, d=64, k_true=10, noise=0.5)
    pq.write_table(
        emb_table(np.arange(n_emb), x, lab), os.path.join(out, "embeddings.parquet")
    )
    return out


def _documents(rng, n: int) -> dict:
    """Random word texts; one doc in ten is a one-word edit of an earlier
    doc (a near duplicate) and one in twenty a reordering of an earlier
    doc (same token set: an exact duplicate for dedup_exact)."""
    words = np.array(_WORDS)
    texts: list[str] = []
    for i in range(n):
        r = rng.random()
        if i > 10 and r < 0.10:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks[int(rng.integers(0, len(toks)))] = str(words[rng.integers(0, len(words))])
        elif i > 10 and r < 0.15:
            toks = texts[int(rng.integers(0, i))].split(" ")
            toks = list(np.array(toks)[rng.permutation(len(toks))])
        else:
            toks = list(words[rng.integers(0, len(words), int(rng.integers(8, 90)))])
        texts.append(" ".join(toks))
    return {
        "doc_id": pa.array(np.arange(n, dtype="i8")),
        "text": texts,
        "lang": pa.array(np.array(["en", "de", "fr", "es", "it"])[rng.integers(0, 5, n)]),
        "source": [f"src{int(s)}" for s in rng.integers(0, 20, n)],
        "n_chars": pa.array(np.array([len(t) for t in texts], dtype="i8")),
    }
