"""Reference answers for every checked output, computed with NumPy and DuckDB
from the generated inputs alone (never from engine output).

Semantics follow ``tests/oracles.py``; the implementations are vectorised so
they run in well under a second at benchmark sizes.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

PAGERANK_RTOL = 1e-6


class Mismatch(AssertionError):
    """An engine output differs from its oracle."""


def check(ok: bool, what: str) -> None:
    if not ok:
        raise Mismatch(what)


def pagerank(vids, src, dst, n_iter: int, directed: bool, damping: float = 0.85) -> np.ndarray:
    """Power iteration with uniform dangling-mass redistribution → ranks in
    ``vids`` order (``vids`` sorted)."""
    n = len(vids)
    s, d = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    if not directed:
        s, d = np.concatenate([s, d]), np.concatenate([d, s])
    deg = np.bincount(s, minlength=n).astype(np.float64)
    dangling = deg == 0
    inv = np.divide(1.0, deg, out=np.zeros(n), where=~dangling)
    r = np.full(n, 1.0 / n)
    for _ in range(n_iter):
        contrib = np.bincount(d, weights=(r * inv)[s], minlength=n)
        r = (1 - damping) / n + damping * (contrib + r[dangling].sum() / n)
    return r


def min_labels(vids, src, dst) -> np.ndarray:
    """Connected components under min-vertex labelling (hook to the smaller
    root, then shortcut) → labels in ``vids`` order (``vids`` sorted)."""
    parent = np.arange(len(vids))
    s, d = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    while True:
        ps, pd_ = parent[s], parent[d]
        if (ps == pd_).all():
            return vids[parent]
        np.minimum.at(parent, np.maximum(ps, pd_), np.minimum(ps, pd_))
        while True:
            nxt = parent[parent]
            if (nxt == parent).all():
                break
            parent = nxt


def label_propagation(vids, src, dst, rounds: int) -> np.ndarray:
    """Synchronous LPA, highest neighbour-label frequency then minimum label
    (``tests/oracles.py::lpa_oracle``) → labels in ``vids`` order."""
    n = len(vids)
    s, d = np.searchsorted(vids, src), np.searchsorted(vids, dst)
    tgt, nbr = np.concatenate([d, s]), np.concatenate([s, d])
    label = np.arange(n)
    for _ in range(rounds):
        key, cnt = np.unique(tgt * n + label[nbr], return_counts=True)
        v, lab = key // n, key % n
        order = np.lexsort((lab, -cnt, v))
        v, lab = v[order], lab[order]
        first = np.ones(len(v), bool)
        first[1:] = v[1:] != v[:-1]
        new = label.copy()
        new[v[first]] = lab[first]
        label = new
    return vids[label]


def _edges_db(src, dst):
    import duckdb

    con = duckdb.connect(config={"threads": 2, "memory_limit": "1GB"})
    con.register("e_view", pd.DataFrame({"src": src, "dst": dst}))
    con.execute("CREATE TABLE e AS SELECT * FROM e_view")
    return con


def triangle_count(src, dst) -> int:
    """Exact count over canonical ``src < dst`` edges: each triangle a<b<c once."""
    con = _edges_db(src, dst)
    try:
        return int(con.execute(
            "SELECT count(*) FROM e e1 JOIN e e2 ON e1.dst = e2.src "
            "JOIN e e3 ON e3.src = e1.src AND e3.dst = e2.dst"
        ).fetchone()[0])
    finally:
        con.close()


def adamic_adar(src, dst, max_pivot_degree: int, top_k: int) -> pd.DataFrame:
    """DuckDB twin of ``operators.linkpred.adamic_adar`` → (a, b,
    common_neighbors, aa_score) in rank order."""
    con = _edges_db(src, dst)
    try:
        return con.execute(f"""
            WITH both_dirs AS (SELECT src, dst FROM e UNION ALL SELECT dst, src FROM e),
            deg AS (SELECT src AS w, count(*) AS d FROM both_dirs GROUP BY src),
            piv AS (SELECT w, 1.0 / ln(d) AS invw FROM deg WHERE d BETWEEN 2 AND {max_pivot_degree}),
            adj AS (SELECT b.src AS w, b.dst AS nbr, piv.invw FROM both_dirs b JOIN piv ON b.src = piv.w),
            pairs AS (
                SELECT l.nbr AS a, r.nbr AS b, count(*) AS common_neighbors, sum(l.invw) AS aa
                FROM adj l JOIN adj r ON l.w = r.w AND l.nbr < r.nbr GROUP BY 1, 2)
            SELECT a, b, common_neighbors, round(aa, 6) AS aa_score FROM pairs
            WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.src = pairs.a AND e.dst = pairs.b)
            ORDER BY aa_score DESC, a, b LIMIT {top_k}
        """).df()
    finally:
        con.close()


def guarded_wedges(src, dst, max_pivot_degree: int) -> int:
    """Σ d(d−1)/2 over pivots with ``2 ≤ d ≤ max_pivot_degree``: the wedge
    count the link-prediction self-join enumerates."""
    deg = np.bincount(np.concatenate([src, dst])).astype(np.int64)
    deg = deg[(deg >= 2) & (deg <= max_pivot_degree)]
    return int((deg * (deg - 1) // 2).sum())


def check_ranks(got: pd.DataFrame, vids, expected: np.ndarray, what: str) -> None:
    got = got.sort_values("vid")
    check(np.array_equal(got["vid"].to_numpy(), vids), f"{what}: vertex set differs")
    check(np.allclose(got["rank"].to_numpy(), expected, rtol=PAGERANK_RTOL, atol=0.0),
          f"{what}: ranks not allclose(rtol={PAGERANK_RTOL}) to power iteration")


def check_labels(got: pd.DataFrame, column: str, vids, expected: np.ndarray, what: str) -> None:
    got = got.sort_values("vid")
    check(np.array_equal(got["vid"].to_numpy(), vids), f"{what}: vertex set differs")
    check(np.array_equal(got[column].to_numpy(), expected), f"{what}: labels differ")
