"""Reference answers the benchmark checks the engine's outputs against.

The facade oracles are numpy/pandas restatements of the documented laws:
squared-L2 exact top-k scored 1/(1+d²) with an ascending-id tie-break,
BM25Okapi (k1=1.5, b=0.75, epsilon=0.25, ties highest id first), the
max-normalised weighted hybrid fusion, and metadata equality filters.
Registry entries are checked with an order-insensitive hash of their
result against the entry's `oracle_sql()` run on DuckDB.
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import numpy as np
import pandas as pd

K1, B, EPSILON = 1.5, 0.75, 0.25
TOL = 2e-6


class Corpus:
    """Driver-side copy of what the facade holds, in facade-id order."""

    def __init__(self):
        self.ids: list[int] = []
        self.texts: list[str] = []
        self.vecs = np.zeros((0, 64))
        self.meta: dict[str, list[str]] = {}

    def extend(self, ids, texts, vecs, meta: dict[str, list[str]] | None = None):
        self.ids += [int(i) for i in ids]
        self.texts += list(texts)
        self.vecs = np.vstack([self.vecs, np.asarray(vecs, dtype=np.float64)])
        for k, vals in (meta or {}).items():
            self.meta.setdefault(k, []).extend(vals)
        self._bm25 = None

    # ------------------------------------------------------------ vectors
    def vec_scores(self, q) -> np.ndarray:
        diff = self.vecs - np.asarray(q, dtype=np.float32).astype(np.float64)
        return 1.0 / (1.0 + np.einsum("ij,ij->i", diff, diff))

    def knn(self, q, k, mask=None) -> list[tuple[int, float]]:
        s = np.round(self.vec_scores(q), 6)
        idx = np.arange(len(self.ids)) if mask is None else np.flatnonzero(mask)
        order = sorted(idx, key=lambda i: (-s[i], self.ids[i]))[:k]
        return [(self.ids[i], float(s[i])) for i in order]

    # --------------------------------------------------------------- BM25
    def _stats(self):
        if getattr(self, "_bm25", None) is None:
            toks = [t.split() for t in self.texts]
            df = Counter(w for t in toks for w in set(t))
            n = len(toks)
            raw = {w: math.log((n - c + 0.5) / (c + 0.5)) for w, c in df.items()}
            floor = EPSILON * (sum(raw.values()) / len(raw))
            idf = {w: (v if v >= 0 else floor) for w, v in raw.items()}
            avgdl = sum(len(t) for t in toks) / n
            self._bm25 = ([Counter(t) for t in toks], [len(t) for t in toks],
                          idf, avgdl)
        return self._bm25

    def bm25(self, query: str) -> np.ndarray:
        tfs, dls, idf, avgdl = self._stats()
        q = Counter(query.split())
        out = np.zeros(len(tfs))
        for i, (tf, dl) in enumerate(zip(tfs, dls)):
            for w, qtf in q.items():
                f = tf.get(w, 0)
                if f and w in idf:
                    out[i] += qtf * idf[w] * f * (K1 + 1) / (
                        f + K1 * (1 - B + B * dl / avgdl))
        return out

    def text_topk(self, query, k) -> list[tuple[int, float]]:
        s = np.round(self.bm25(query), 6)
        order = sorted(range(len(s)), key=lambda i: (-s[i], -self.ids[i]))[:k]
        return [(self.ids[i], float(s[i])) for i in order]

    def hybrid_scores(self, query, q, w=0.5) -> dict[int, float]:
        """Fused scores of the docs with a positive score, rounded."""
        t = self.bm25(query)
        v = self.vec_scores(q)
        vn = v / v.max() if v.max() > 0 else v
        tn = t / t.max() if t.max() > 0 else t
        s = w * vn + (1 - w) * tn
        return {self.ids[i]: float(np.round(s[i], 6)) for i in np.flatnonzero(s > 0)}

    def hybrid_topk(self, query, q, k) -> list[tuple[int, float]]:
        s = self.hybrid_scores(query, q)
        return sorted(s.items(), key=lambda kv: (-kv[1], kv[0]))[:k]

    def metadata(self, conditions: dict) -> list[int]:
        keep = np.ones(len(self.ids), dtype=bool)
        for k, v in conditions.items():
            keep &= np.asarray(self.meta[k]) == v
        return sorted(self.ids[i] for i in np.flatnonzero(keep))


def scores_match(got, all_scores: dict[int, float]) -> bool:
    return all(i in all_scores and abs(s - all_scores[i]) <= TOL for i, s in got)


# ------------------------------------------------------------ registry
def norm_frame(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, floats at 6 dp, ints as int64, timestamps at µs,
    everything else as text, rows sorted by every column."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(6)
        elif pd.api.types.is_integer_dtype(df[c]):
            df[c] = df[c].astype("int64")
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]").astype(str)
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def frame_hash(df: pd.DataFrame) -> str:
    n = norm_frame(df)
    body = n.to_csv(index=False, float_format="%.6f").encode()
    return f"{len(n)}:{hashlib.sha256(body).hexdigest()[:16]}"
