"""Output checks: every answer against the NumPy oracle, every ops leaf
against its DuckDB twin, and the built index's counts against the oracle's.

Expected answers are computed after the timed region and cached per
(workload, seed, corpus state) under the run directory, so a repeated seed
skips the oracle build.
"""

from __future__ import annotations

import hashlib
import json
import os

import numpy as np
import pandas as pd

Answer = list[tuple[int, float]]


class Expected:
    """Oracle answers for one corpus state, built lazily and cached on disk."""

    def __init__(self, cache_dir: str, key: str, docs: pd.DataFrame):
        self.path = os.path.join(cache_dir, hashlib.sha256(key.encode()).hexdigest()[:24] + ".json")
        self.docs = docs
        self._oracle = None
        self._data = {"answers": {}, "ranked": {}, "stats": None}
        if os.path.exists(self.path):
            with open(self.path) as fh:
                self._data = json.load(fh)
        self._dirty = False

    @property
    def oracle(self):
        if self._oracle is None:
            from admarus_spark.oracle import OracleIndex

            self._oracle = OracleIndex(self.docs)
        return self._oracle

    def stats(self) -> dict:
        if self._data["stats"] is None:
            o = self.oracle
            self._data["stats"] = {"n_docs": o.n_docs, "total_tokens": o.total_tokens,
                                   "n_terms": len(o.postings)}
            self._dirty = True
        return self._data["stats"]

    def top(self, query: str, k: int) -> Answer:
        """Oracle top-k as (dense doc id, score)."""
        key = f"{k}:{query}"
        if key not in self._data["answers"]:
            self._data["answers"][key] = [list(r) for r in self.oracle.search(query, k)]
            self._dirty = True
        return [(int(d), float(s)) for d, s in self._data["answers"][key]]

    def scores_by_path(self, query: str) -> dict[str, float]:
        """Every gated match as (repo/path) -> score: the reference for
        indexes whose doc ids are no longer dense ranks (after update())."""
        if query not in self._data["ranked"]:
            o = self.oracle
            keys = (o.docs["repo"] + "\t" + o.docs["path"]).to_numpy()
            self._data["ranked"][query] = {
                keys[d]: s for d, s in o.search(query, None)
            }
            self._dirty = True
        return self._data["ranked"][query]

    def save(self) -> None:
        if self._dirty:
            os.makedirs(os.path.dirname(self.path), exist_ok=True)
            tmp = self.path + ".tmp"
            with open(tmp, "w") as fh:
                json.dump(self._data, fh)
            os.replace(tmp, self.path)
            self._dirty = False


def rows_to_answer(rows) -> Answer:
    return [(int(r["doc_id"]), float(r["score"])) for r in rows]


def check_exact(got: Answer, want: Answer) -> str | None:
    """Clean index: doc ids are dense ranks, so ids and float64 scores must
    match the oracle exactly, in order."""
    if got == want:
        return None
    return f"got {got[:3]}... ({len(got)}) want {want[:3]}... ({len(want)})"


def check_by_path(rows, k: int, want: dict[str, float]) -> str | None:
    """Incremental index: ids are append-assigned, so docs are matched by
    (repo, path). The score list must equal the oracle's top-k scores
    exactly, and each returned doc must carry exactly its oracle score.
    Ties at equal score may order differently (doc-id tie-break)."""
    got = [(r["repo"] + "\t" + r["path"], float(r["score"])) for r in rows]
    top = sorted(want.values(), reverse=True)[:k]
    scores = [s for _, s in got]
    if scores != top:
        return f"scores {scores[:3]}... ({len(scores)}) want {top[:3]}... ({len(top)})"
    for key, s in got:
        if want.get(key) != s:
            return f"doc {key!r} score {s} want {want.get(key)}"
    return None


def check_index_counts(metrics: dict, want: dict) -> str | None:
    """n_docs, total_tokens, n_terms of a fresh build against the oracle."""
    got = {
        "n_docs": metrics["stage1_tokenize"].get("n_docs"),
        "total_tokens": metrics["stage1_tokenize"].get("total_tokens"),
        "n_terms": metrics["stage2_postings"].get("n_terms"),
    }
    return None if got == want else f"index counts {got} want {want}"


# ---------------------------------------------------------------------------
# ops leaves vs their DuckDB twins (the rule tests/test_entry_parity.py uses)
# ---------------------------------------------------------------------------


def _normalize(pdf: pd.DataFrame) -> pd.DataFrame:
    pdf = pdf.reindex(sorted(pdf.columns), axis=1)
    if len(pdf):
        pdf = pdf.sort_values(list(pdf.columns), kind="mergesort").reset_index(drop=True)
    return pdf


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    got, want = _normalize(got), _normalize(want)
    if list(got.columns) != list(want.columns):
        return f"columns {list(got.columns)} want {list(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows want {len(want)}"
    for c in got.columns:
        g, w = got[c].to_numpy(), want[c].to_numpy()
        if g.dtype.kind == "f" or w.dtype.kind == "f":
            same = np.array_equal(g.astype(float), w.astype(float), equal_nan=True)
        else:
            same = bool((pd.Series(g).astype(str) == pd.Series(w).astype(str)).all())
        if not same:
            return f"column {c} differs"
    return None


def duckdb_views(data_dir: str, tables):
    import duckdb

    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{os.path.join(data_dir, t)}.parquet'")
    return con
