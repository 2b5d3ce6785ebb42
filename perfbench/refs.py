"""Independent references the benchmark checks the engine against.  None
of this imports the engine: Affinity Propagation is written here from
Frey & Dueck's update equations, cosine top-k is brute force, and
analytics results are compared with DuckDB running each query's declared
oracle SQL on the same parquet files."""

from __future__ import annotations

import datetime as dt
import math

import numpy as np

LAM = 0.5


# --- Affinity Propagation ----------------------------------------------------

def neg_sq_dist(x: np.ndarray) -> np.ndarray:
    """S[i, k] = -||x_i - x_k||^2 in float64, summed dimension by
    dimension."""
    x = x.astype("f8")
    s = np.zeros((len(x), len(x)))
    for j in range(x.shape[1]):
        diff = x[:, j, None] - x[None, :, j]
        s -= diff * diff
    return s


def dense_ap(x: np.ndarray, iterations: int) -> np.ndarray:
    """Labels of dense AP: median off-diagonal preference, damping 0.5,
    zero start, exemplars {k: r(k,k)+a(k,k) > 0}, each point to its most
    similar exemplar (lowest id on ties), exemplars to themselves."""
    s = neg_sq_dist(x)
    n = len(s)
    idx = np.arange(n)
    s[idx, idx] = np.median(s[~np.eye(n, dtype=bool)])
    r = np.zeros_like(s)
    a = np.zeros_like(s)
    for _ in range(iterations):
        v = a + s
        first = v.argmax(1)
        m1 = v[idx, first]
        v[idx, first] = -np.inf
        m2 = v.max(1)
        other = np.broadcast_to(m1[:, None], s.shape).copy()
        other[idx, first] = m2
        r = LAM * r + (1 - LAM) * (s - other)
        rp = np.maximum(r, 0.0)
        rp[idx, idx] = 0.0
        col = rp.sum(0)
        a_new = np.minimum(0.0, r[idx, idx][None, :] + col[None, :] - rp)
        a_new[idx, idx] = col
        a = LAM * a + (1 - LAM) * a_new
    ex = idx[(r[idx, idx] + a[idx, idx]) > 0]
    if len(ex) == 0:
        return np.full(n, -1)
    lab = ex[s[:, ex].argmax(1)]
    lab[ex] = ex
    return lab


# --- cosine top-k -----------------------------------------------------------

def cosine_topk(ids: np.ndarray, x: np.ndarray, q: np.ndarray, k: int,
                keep: np.ndarray | None = None) -> list[list[int]]:
    """Exact top-k ids per query by (cosine desc, id asc)."""
    xs = x.astype("f8")
    xn = xs / np.linalg.norm(xs, axis=1)[:, None]
    qn = q / np.linalg.norm(q, axis=1)[:, None]
    cos = qn @ xn.T
    if keep is not None:
        cos[:, ~keep] = -np.inf
    out = []
    for row in cos:
        top = np.lexsort((ids, -row))[:k]
        out.append([int(ids[t]) for t in top if np.isfinite(row[t])])
    return out


# --- analytics results --------------------------------------------------------

def _canon(v):
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return v
    if hasattr(v, "item") and not isinstance(v, (list, tuple)):
        v = v.item()
    if isinstance(v, int) and not isinstance(v, bool):
        return v
    if hasattr(v, "__float__") and not isinstance(v, (str, bool)):
        return float(v)
    return v


def _close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        # values the oracle rounds to 4-6 decimals may land one unit apart
        return abs(a - b) <= 1e-9 * max(abs(a), abs(b)) + 1.01e-4
    return a == b


def same_rows(spark_tbl, duck_tbl) -> str:
    """Empty string when the two Arrow tables hold the same multiset of
    rows (floats within rounding), else the first difference."""
    if spark_tbl.column_names != duck_tbl.column_names:
        return f"columns {spark_tbl.column_names} != {duck_tbl.column_names}"
    if spark_tbl.num_rows != duck_tbl.num_rows:
        return f"rows {spark_tbl.num_rows} != {duck_tbl.num_rows}"
    a = [tuple(_canon(v) for v in r.values()) for r in spark_tbl.to_pylist()]
    b = [tuple(_canon(v) for v in r.values()) for r in duck_tbl.to_pylist()]

    def key(row):
        exact = tuple(
            (0, "") if v is None else (1, str(v))
            for v in row if not isinstance(v, float)
        )
        return exact + tuple(round(v, 2) for v in row if isinstance(v, float))

    a.sort(key=key)
    b.sort(key=key)
    for ra, rb in zip(a, b):
        if len(ra) != len(rb) or not all(_close(x, y) for x, y in zip(ra, rb)):
            return f"row {ra} != {rb}"
    return ""
