"""Result checkers, independent of the engine.

Top-10 results are recomputed with DuckDB straight from the generated
parquet files (ties broken by hashtag ascending), nearest neighbours with
exact numpy cosine, and dedup decisions against the planted duplicate
groups.  Every checker returns a verdict plus the matched/returned/expected
counts the recall and precision metrics are built from.
"""

from __future__ import annotations

import csv
import glob
import os
from dataclasses import dataclass
from itertools import combinations

import numpy as np


@dataclass
class Verdict:
    ok: bool
    matched: int  # result items that are right
    returned: int  # result items the program gave
    expected: int  # result items the reference has

    def __add__(self, other: "Verdict") -> "Verdict":
        return Verdict(
            self.ok and other.ok,
            self.matched + other.matched,
            self.returned + other.returned,
            self.expected + other.expected,
        )


def compare_ranked(got: list[tuple], want: list[tuple]) -> Verdict:
    """Ranked lists must be equal; matched counts items present in both."""
    return Verdict(got == want, len(set(got) & set(want)), len(got), len(want))


# -- hourly top-10 --------------------------------------------------------


def duckdb_conn():
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    return con


def hours_top_k(con, files: list[str], k: int = 10) -> dict[str, list[tuple[str, int]]]:
    """Top-``k`` hashtags of each parquet file, in one query over all of them."""
    listed = ", ".join(f"'{f}'" for f in files)
    rows = con.execute(
        f"""
        WITH c AS (
          SELECT filename AS f, tag, COUNT(*) AS n
          FROM (SELECT filename, UNNEST(hashtags) AS tag
                FROM read_parquet([{listed}], filename = true, hive_partitioning = false))
          GROUP BY f, tag
        )
        SELECT f, tag, n FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY f ORDER BY n DESC, tag ASC) AS r FROM c
        ) WHERE r <= {int(k)} ORDER BY f, r
        """
    ).fetchall()
    out: dict[str, list[tuple[str, int]]] = {f: [] for f in files}
    for f, tag, n in rows:
        out[f].append((tag, int(n)))
    return out


def read_csv_top_k(out_dir: str) -> list[tuple[str, int]]:
    """The rows of the single CSV part ``write_csv_top_k`` leaves."""
    parts = sorted(glob.glob(os.path.join(out_dir, "part-*.csv")))
    rows: list[tuple[str, int]] = []
    for p in parts:
        with open(p, newline="") as f:
            r = csv.reader(f)
            next(r, None)  # header
            rows.extend((t, int(n)) for t, n in r)
    return rows


# -- stream: per-window top-10 --------------------------------------------


def window_top_k(con, files: list[str], window_s: int, k: int = 10) -> dict[int, list[tuple[str, int]]]:
    """Top-``k`` per tumbling event-time window, keyed by window start (epoch s)."""
    if not files:
        return {}
    listed = ", ".join(f"'{f}'" for f in files)
    rows = con.execute(
        f"""
        WITH ev AS (
          SELECT CAST(FLOOR(epoch_us(created_at) / {window_s * 1_000_000}) AS BIGINT)
                   * {window_s} AS ws,
                 UNNEST(hashtags) AS tag
          FROM read_parquet([{listed}])
        ), c AS (
          SELECT ws, tag, COUNT(*) AS n FROM ev GROUP BY ws, tag
        )
        SELECT ws, tag, n FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY ws ORDER BY n DESC, tag ASC) AS r FROM c
        ) WHERE r <= {int(k)} ORDER BY ws, r
        """
    ).fetchall()
    out: dict[int, list[tuple[str, int]]] = {}
    for ws, tag, n in rows:
        out.setdefault(int(ws), []).append((tag, int(n)))
    return out


def compare_windows(
    got: dict[int, list[tuple[str, int]]],
    want: dict[int, list[tuple[str, int]]],
    closed_before: int,
    window_s: int,
) -> tuple[Verdict, set[int]]:
    """Every window that ends by ``closed_before`` must be present and equal;
    any emitted window must equal the reference.  Returns the verdict and
    the starts of the windows that are wrong or missing."""
    bad: set[int] = set()
    total = Verdict(True, 0, 0, 0)
    for ws in sorted(set(got) | {w for w in want if w + window_s <= closed_before}):
        g = sorted(got.get(ws, []), key=lambda r: (-r[1], r[0]))
        v = compare_ranked(g, want.get(ws, []))
        if not v.ok:
            bad.add(ws)
        total = total + v
    return total, bad


# -- vector search ----------------------------------------------------------


def exact_knn(index: np.ndarray, queries: np.ndarray, k: int) -> np.ndarray:
    """Ids of the ``k`` most cosine-similar index rows, per query."""
    a = index / np.linalg.norm(index, axis=1, keepdims=True)
    q = queries / np.linalg.norm(queries, axis=1, keepdims=True)
    sims = q.astype(np.float64) @ a.astype(np.float64).T
    return np.argsort(-sims, axis=1, kind="stable")[:, :k]


def check_knn_batch(
    rows: list[tuple[int, int, float, int]],
    index: np.ndarray,
    queries: np.ndarray,
    query_ids: list[int],
    k: int,
    tol: float = 2e-6,
) -> Verdict:
    """``rows`` are (query_id, neighbor_id, cos_sim, rank) from ``ivf_knn``.

    Each query needs ``k`` rows ranked 1..k with non-increasing similarity
    that matches numpy's cosine for that pair; matched counts the returned
    neighbours that are among the exact top ``k``.
    """
    by_q: dict[int, list[tuple[int, float, int]]] = {q: [] for q in query_ids}
    ok = True
    for qid, nid, sim, rank in rows:
        if qid not in by_q:
            ok = False
            continue
        by_q[qid].append((int(rank), int(nid), float(sim)))
    truth = exact_knn(index, queries, k)
    matched = returned = 0
    for j, qid in enumerate(query_ids):
        got = sorted(by_q[qid])
        returned += len(got)
        if [r for r, _, _ in got] != list(range(1, k + 1)):
            ok = False
        sims = [s for _, _, s in got]
        if any(b > a + tol for a, b in zip(sims, sims[1:])):
            ok = False
        qv = queries[j].astype(np.float64)
        for _, nid, s in got:
            if not 0 <= nid < len(index):
                ok = False
                continue
            iv = index[nid].astype(np.float64)
            ref = float(qv @ iv / (np.linalg.norm(qv) * np.linalg.norm(iv)))
            if abs(ref - s) > tol:
                ok = False
        matched += len({nid for _, nid, _ in got} & set(truth[j].tolist()))
    return Verdict(ok, matched, returned, k * len(query_ids))


# -- corpus dedup ---------------------------------------------------------


def group_pairs(groups) -> set[tuple[int, int]]:
    out = set()
    for g in groups:
        out.update(combinations(sorted(g), 2))
    return out


def check_dedup(
    doc_ids: list[int],
    kept: list[int],
    components: list[tuple[int, int]],
    planted: list[list[int]],
) -> Verdict:
    """``components`` are (node, component) rows; ``kept`` the surviving ids.

    The kept set must be exactly one document per planted group plus every
    unplanted document.  matched/returned/expected count same-component
    document pairs, so recall and precision are pairwise.
    """
    comps: dict[int, list[int]] = {}
    for node, comp in components:
        comps.setdefault(int(comp), []).append(int(node))
    got = group_pairs(comps.values())
    want = group_pairs(planted)
    in_group = {d for g in planted for d in g}
    want_kept = {d for d in doc_ids if d not in in_group} | {min(g) for g in planted}
    ok = sorted(kept) == sorted(want_kept) and got == want
    return Verdict(ok, len(got & want), len(got), len(want))
