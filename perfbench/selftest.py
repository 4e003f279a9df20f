"""Checker self-test: each checker must accept a correct output and reject
a planted error (one dropped pair, one changed score, two merged clusters).

    python3 perfbench/selftest.py

The benchmark also runs it after every run's output checks.
"""

from __future__ import annotations

import sys

import pandas as pd

import checks as C


def _pairs() -> pd.DataFrame:
    return pd.DataFrame({"id1": [1, 1, 2, 5, 7], "id2": [2, 3, 3, 6, 8],
                         "sim": [0.8, 0.9, 1.0, 0.85, 0.8125]})


def run() -> list[C.Check]:
    want = _pairs()
    edges = want[["id1", "id2"]]
    clusters = pd.DataFrame({"node": [1, 2, 3, 5, 6, 7, 8],
                             "component": [1, 1, 1, 5, 5, 7, 7]})
    dropped = want.drop(index=3)
    changed = want.assign(sim=want["sim"].where(want.index != 1, 0.91))
    merged = clusters.assign(component=clusters["component"].replace(7, 5))
    cases = [
        ("rows: correct output accepted", C.compare_rows("t", want.copy(), want), True),
        ("rows: dropped pair rejected", C.compare_rows("t", dropped, want), False),
        ("rows: changed score rejected", C.compare_rows("t", changed, want), False),
        ("rows: changed rounded score rejected",
         C.compare_rows("t", changed, want, tol=C.ROUNDED_TOL), False),
        ("clusters: correct labels accepted", C.compare_clusters("t", clusters, edges), True),
        ("clusters: two merged clusters rejected", C.compare_clusters("t", merged, edges), False),
        ("clusters: dropped edge rejected",
         C.compare_clusters("t", clusters, edges.drop(index=3)), False),
    ]
    return [C.Check(f"selftest {name}", check.ok == expect, check.detail)
            for name, check, expect in cases]


if __name__ == "__main__":
    results = run()
    for c in results:
        print(f"{'ok  ' if c.ok else 'FAIL'} {c.name}: {c.detail}")
    sys.exit(0 if all(c.ok for c in results) else 1)
