"""Independent answers for the outputs the harness dumps.

* ``oracle``: the registered query's DuckDB twin over the same generated
  parquet inputs, compared as an unordered multiset with columns sorted by
  name (``canon`` of tools/check.py, the repo's oracle gate).
* ``recall``: exact brute-force top-k by cosine over the corpus the probe
  ran against; the probe must return k distinct live ids per probe and
  reach a recall floor.

Each check returns (problem or None, recall or None).
"""
import glob
import os
import sys

import duckdb
import numpy as np
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.abspath(__file__)), "..", "tools"))
from check import TABLES, canon  # noqa: E402

# Lowest acceptable mean recall@k; well below what the indexes reach on
# every seed, so only a broken probe trips it.
RECALL_FLOOR = {"graph": 0.5, "ivf": 0.2}


def _read(path):
    files = glob.glob(os.path.join(path, "*.parquet"))
    return pd.concat([pd.read_parquet(f) for f in files]) if files else None


class Checker:
    def __init__(self, inputs):
        self.inputs = inputs
        self._con = None
        self._emb = None

    def con(self):
        if self._con is None:
            self._con = duckdb.connect()
            for t in TABLES:
                p = os.path.join(self.inputs, f"{t}.parquet")
                self._con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
        return self._con

    def oracle(self, path, sql):
        got = _read(path)
        if got is None:
            return "no output", None
        got, want = canon(got), canon(self.con().execute(sql).df())
        if list(got.columns) != list(want.columns):
            return f"columns {list(got.columns)} vs {list(want.columns)}", None
        if len(got) != len(want):
            return f"rows {len(got)} vs {len(want)}", None
        if not got.equals(want):
            return "values or types differ from the DuckDB twin", None
        return None, None

    def _corpus(self, which):
        if self._emb is None:
            emb = pd.read_parquet(os.path.join(self.inputs, "embeddings.parquet"))
            ids = emb["vec_id"].to_numpy()
            vecs = np.stack(emb["embedding"].to_numpy()).astype(np.float64)
            vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
            tomb = set(pd.read_parquet(os.path.join(self.inputs, "tombstones.parquet"))["vec_id"])
            pr = pd.read_parquet(os.path.join(self.inputs, "probes.parquet"))
            pv = np.stack(pr["embedding"].to_numpy()).astype(np.float64)
            pv /= np.linalg.norm(pv, axis=1, keepdims=True)
            self._emb = (ids, vecs, tomb, pr["vec_id"].to_numpy(), pv)
        ids, vecs, tomb, pids, pv = self._emb
        live = np.array([i not in tomb for i in ids]) if which == "live" else np.ones(len(ids), bool)
        return ids[live], vecs[live], pids, pv

    def recall(self, path, corpus, k, kind):
        got = _read(path)
        if got is None:
            return "no output", None
        qcol = next(c for c in got.columns if c in ("q_id", "vec_id", "vec_a"))
        ncol = next(c for c in got.columns if c in ("neighbor_id", "vec_b"))
        ids, vecs, pids, pv = self._corpus(corpus)
        allowed = set(ids.tolist())
        sims = pv @ vecs.T
        recalls = []
        for qi, q in enumerate(pids):
            mine = got.loc[got[qcol] == q, ncol].tolist()
            # a graph probe fills k; an IVF probe stops at its cell's size
            full = len(mine) == k or (kind == "ivf" and 0 < len(mine) < k)
            if not full or len(set(mine)) != len(mine):
                return f"probe {q}: {len(mine)} results, {len(set(mine))} distinct, want {k}", None
            if not set(mine) <= allowed:
                return f"probe {q}: returned ids outside the index", None
            exact = ids[np.argsort(-sims[qi], kind="stable")[:k]]
            recalls.append(len(set(mine) & set(exact.tolist())) / k)
        r = float(np.mean(recalls))
        if r < RECALL_FLOOR[kind]:
            return f"recall@{k} {r:.3f} below floor {RECALL_FLOOR[kind]}", r
        return None, r
