"""Independent output checks.

Every checker compares a program output (collected to pandas) with a
computation that shares no code with the operator under test: DuckDB SQL,
a numpy all-pairs verifier over token bitmasks, a Python union-find, or the
fitted forest's own numpy ``predict_proba``. Each returns a ``Check``; the
benchmark counts each failed check as a failed operation.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

#: float columns may differ in the last bits when two engines order the same
#: arithmetic differently; a planted or real error is far larger
FLOAT_TOL = 1e-9
#: values the program rounds to 6 places may land one unit apart
ROUNDED_TOL = 1.01e-6


@dataclass
class Check:
    name: str
    ok: bool
    detail: str = ""


def compare_rows(name: str, got: pd.DataFrame, want: pd.DataFrame,
                 tol: float = FLOAT_TOL) -> Check:
    """Same multiset of rows: same columns and row count, and equal values
    after sorting, floats within ``tol`` and NULL equal to NULL."""
    if sorted(got.columns) != sorted(want.columns):
        return Check(name, False, f"columns {sorted(got.columns)} vs {sorted(want.columns)}")
    if len(got) != len(want):
        return Check(name, False, f"rows {len(got)} vs {len(want)}")
    cols = sorted(got.columns)
    keys = [c for c in cols if not pd.api.types.is_float_dtype(got[c])
            and not pd.api.types.is_float_dtype(want[c])]
    order = keys or cols
    a = got[cols].sort_values(order, kind="mergesort").reset_index(drop=True)
    b = want[cols].sort_values(order, kind="mergesort").reset_index(drop=True)
    for c in cols:
        x, y = a[c], b[c]
        if c in keys:
            bad = ~((x.astype(str) == y.astype(str)) | (x.isna() & y.isna()))
        else:
            xf = pd.to_numeric(x, errors="coerce").to_numpy(dtype=float)
            yf = pd.to_numeric(y, errors="coerce").to_numpy(dtype=float)
            both_nan = np.isnan(xf) & np.isnan(yf)
            bad = ~(both_nan | (np.abs(xf - yf) <= tol))
        n_bad = int(np.asarray(bad).sum())
        if n_bad:
            return Check(name, False, f"{n_bad} rows differ in {c}")
    return Check(name, True, f"{len(got)} rows")


def union_find(edges: pd.DataFrame, src: str = "id1", dst: str = "id2") -> dict:
    """node -> minimum node of its connected component."""
    parent: dict = {}

    def find(x):
        root = x
        while parent.setdefault(root, root) != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    for u, v in zip(edges[src].tolist(), edges[dst].tolist()):
        ru, rv = find(u), find(v)
        if ru != rv:
            if rv < ru:
                ru, rv = rv, ru
            parent[rv] = ru
    return {n: find(n) for n in list(parent)}


def compare_clusters(name: str, got: pd.DataFrame, edges: pd.DataFrame,
                     node: str = "node", component: str = "component") -> Check:
    """(node, component) rows equal the union-find labelling of ``edges``."""
    want = union_find(edges)
    have = dict(zip(got[node].tolist(), got[component].tolist()))
    if len(have) != len(got):
        return Check(name, False, "a node has two rows")
    if have.keys() != want.keys():
        return Check(name, False, f"{len(have.keys() ^ want.keys())} nodes differ")
    n_bad = sum(1 for k, v in want.items() if have[k] != v)
    if n_bad:
        return Check(name, False, f"{n_bad} nodes carry another label")
    return Check(name, True, f"{len(have)} nodes, {len(set(want.values()))} clusters")


# -- numpy all-pairs verifier over token bitmasks ---------------------------

def token_masks(token_sets: list[set[str]]) -> np.ndarray:
    """One uint64 bitmask per record; the corpus vocabulary must fit in 64."""
    vocab = sorted(set().union(*token_sets))
    if len(vocab) > 64:
        raise ValueError(f"vocabulary of {len(vocab)} tokens does not fit a bitmask")
    bit = {t: np.uint64(1) << np.uint64(i) for i, t in enumerate(vocab)}
    out = np.zeros(len(token_sets), dtype=np.uint64)
    for i, s in enumerate(token_sets):
        for t in s:
            out[i] |= bit[t]
    return out


def popcount(x: np.ndarray) -> np.ndarray:
    bits = np.unpackbits(x.astype(np.uint64).view(np.uint8).reshape(-1, 8), axis=1)
    return bits.sum(axis=1, dtype=np.int64)


@dataclass
class PairCounts:
    """Overlap and set sizes of every record pair i < j."""
    i: np.ndarray
    j: np.ndarray
    o: np.ndarray
    la: np.ndarray
    lb: np.ndarray

    @classmethod
    def all_pairs(cls, masks: np.ndarray) -> "PairCounts":
        i, j = np.triu_indices(len(masks), k=1)
        sizes = popcount(masks)
        return cls(i, j, popcount(masks[i] & masks[j]), sizes[i], sizes[j])

    def jaccard(self) -> np.ndarray:
        with np.errstate(divide="ignore", invalid="ignore"):
            return self.o / (self.la + self.lb - self.o)

    def nonempty(self) -> np.ndarray:
        return (self.la > 0) & (self.lb > 0)

    def ta_score(self) -> np.ndarray:
        """jac + cos + dice + overlap coefficient, in that order."""
        o = self.o.astype(np.float64)
        with np.errstate(divide="ignore", invalid="ignore"):
            jac = o / (self.la + self.lb - self.o)
            cos = o / np.sqrt((self.la * self.lb).astype(np.float64))
            dice = 2.0 * o / (self.la + self.lb)
            oc = o / np.minimum(self.la, self.lb)
        return jac + cos + dice + oc


def prf(pred: pd.DataFrame, gold: pd.DataFrame) -> tuple[float, float, float]:
    """precision, recall, F1 of predicted pairs (id1, id2) against gold."""
    p = set(zip(pred["id1"].tolist(), pred["id2"].tolist()))
    g = set(zip(gold["id1"].tolist(), gold["id2"].tolist()))
    tp = len(p & g)
    precision = tp / len(p) if p else 0.0
    recall = tp / len(g) if g else 0.0
    f1 = 2 * precision * recall / (precision + recall) if tp else 0.0
    return precision, recall, f1
