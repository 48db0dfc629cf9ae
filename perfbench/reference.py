"""Exact references (DuckDB) and the per-op correctness gates.

References are computed by DuckDB over the same generated parquet the
program reads, outside every timed region.  A result is cached under the
work directory, keyed by the seed, the input files' digest and the SQL text,
so a repeated seed does not pay for it twice.

The gate functions are plain pandas so that ``gate_selftest.py`` can feed
them a deliberately wrong sketch and show that they fail.
"""

from __future__ import annotations

import hashlib
import math
import os

import duckdb
import numpy as np
import pandas as pd

ALPHA = 0.01
QS = (0.5, 0.95, 0.99)
# the program rounds every estimate to 6 decimals; the gate allows that much
ROUND_TOL = 1e-6
HLL_P = 12
HLL_SIGMAS = 4.0
PAIR_TOL = 1e-9


def quantile_sql(table: str, key: str, value: str) -> str:
    """Exact lower/upper order statistics per group (FIXTURES.md section 2:
    rank = q*(n-1), lower = v[floor(rank)], upper = v[ceil(rank)])."""
    qlist = ", ".join(repr(float(q)) for q in QS)
    return f"""WITH r AS (
  SELECT k, v, row_number() OVER (PARTITION BY k ORDER BY v) - 1 AS i,
         count(*) OVER (PARTITION BY k) AS n
  FROM (SELECT {key} AS k, {value} AS v FROM {table})
), qs AS (SELECT unnest([{qlist}]) AS q)
SELECT k, q,
       min(v) FILTER (WHERE i = floor(q * (n - 1))) AS lower,
       min(v) FILTER (WHERE i = ceil(q * (n - 1))) AS upper
FROM r, qs GROUP BY k, q"""


def distinct_sql(table: str, key: str, item: str) -> str:
    return f"SELECT {key} AS k, count(DISTINCT {item}) AS exact FROM {table} GROUP BY {key}"


def rank_sql(table: str, key: str, value: str) -> str:
    """Exact rank interval of each estimate ``est`` (a registered relation of
    ``k, q, est``) inside its group."""
    return f"""SELECT e.k, e.q, e.est, count(*) AS n,
       count(*) FILTER (WHERE t.v < e.est) AS n_lt,
       count(*) FILTER (WHERE t.v <= e.est) AS n_le
FROM est e JOIN (SELECT {key} AS k, {value} AS v FROM {table}) t USING (k)
GROUP BY e.k, e.q, e.est"""


class References:
    """DuckDB over the run's parquet inputs, with an on-disk result cache."""

    def __init__(self, tables: dict[str, str], seed: int, work: str, cache_dir: str):
        self.con = duckdb.connect()
        tmp = os.path.join(work, "duckdb_tmp")
        os.makedirs(tmp, exist_ok=True)
        self.con.execute(f"SET threads = 4; SET memory_limit = '1GB'; SET temp_directory = '{tmp}'")
        digest = hashlib.sha256(str(seed).encode())
        for name, path in sorted(tables.items()):
            self.con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}/*.parquet')")
            for f in sorted(os.listdir(path)):
                with open(os.path.join(path, f), "rb") as fh:
                    digest.update(fh.read())
        self.inputs_digest = digest.hexdigest()
        self.cache_dir = cache_dir
        os.makedirs(cache_dir, exist_ok=True)

    def query(self, sql: str) -> pd.DataFrame:
        key = hashlib.sha256((self.inputs_digest + "\n" + sql).encode()).hexdigest()
        path = os.path.join(self.cache_dir, f"{key}.parquet")
        if os.path.exists(path):
            return pd.read_parquet(path)
        out = self.con.execute(sql).df()
        out.to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
        return out

    def query_with(self, sql: str, name: str, frame: pd.DataFrame) -> pd.DataFrame:
        """Run ``sql`` with ``frame`` registered as ``name`` (not cached: the
        frame is the program's own output)."""
        self.con.register(name, frame)
        try:
            return self.con.execute(sql).df()
        finally:
            self.con.unregister(name)

    def close(self) -> None:
        self.con.close()


class Gate:
    """Outcome of one op's correctness check."""

    def __init__(self, ok: bool, detail: str, max_rel_err: float | None = None):
        self.ok = ok
        self.detail = detail
        self.max_rel_err = max_rel_err

    def __repr__(self) -> str:
        return f"Gate(ok={self.ok}, {self.detail})"


def _keys_match(got: pd.Series, want: pd.Series) -> bool:
    return sorted(map(str, got.unique())) == sorted(map(str, want.unique()))


def check_quantiles(est: pd.DataFrame, ref: pd.DataFrame, alpha: float = ALPHA) -> Gate:
    """``est`` has columns ``k, q, est``; ``ref`` comes from
    :func:`quantile_sql`.  Every estimate must lie in
    ``[lower*(1-alpha), upper*(1+alpha)]``; ``max_rel_err`` is the largest
    relative distance of an estimate from its exact ``[lower, upper]``."""
    if not _keys_match(est["k"], ref["k"]) or len(est) != len(ref):
        return Gate(False, f"groups differ: {len(est)} estimates vs {len(ref)} references")
    m = ref.assign(k=ref["k"].astype(str), q=ref["q"].round(6)).merge(
        est.assign(k=est["k"].astype(str), q=est["q"].round(6)), on=["k", "q"], how="left"
    )
    e, lo, hi = m["est"].to_numpy(float), m["lower"].to_numpy(float), m["upper"].to_numpy(float)
    if np.isnan(e).any():
        return Gate(False, "missing estimates")
    below = np.maximum(lo - e, 0.0) / np.abs(lo)
    above = np.maximum(e - hi, 0.0) / np.abs(hi)
    rel = np.maximum(below, above)
    ok_mask = (e >= lo - np.abs(lo) * alpha - ROUND_TOL) & (e <= hi + np.abs(hi) * alpha + ROUND_TOL)
    worst = float(rel.max())
    bad = int((~ok_mask).sum())
    return Gate(bad == 0, f"{len(m)} estimates, {bad} outside alpha={alpha}", worst)


def check_distinct(est: pd.DataFrame, ref: pd.DataFrame, p: int = HLL_P) -> Gate:
    """``est`` has ``k, est``; each estimate within HLL_SIGMAS standard
    errors (1.04/sqrt(m)) of the exact distinct count."""
    if not _keys_match(est["k"], ref["k"]) or len(est) != len(ref):
        return Gate(False, f"groups differ: {len(est)} estimates vs {len(ref)} references")
    m = ref.assign(k=ref["k"].astype(str)).merge(est.assign(k=est["k"].astype(str)), on="k")
    tol = HLL_SIGMAS * 1.04 / math.sqrt(1 << p)
    rel = (m["est"] - m["exact"]).abs() / m["exact"]
    bad = int((rel > tol).sum())
    return Gate(bad == 0, f"{len(m)} groups, {bad} outside; max rel err {rel.max():.4g} (bound {tol:.4g})")


def check_ranks(ranks: pd.DataFrame, eps: float) -> Gate:
    """``ranks`` from :func:`rank_sql`: the estimate's exact rank interval
    ``[n_lt, n_le - 1]`` must lie within ``eps * n`` of the target rank
    ``q * (n - 1)``."""
    target = ranks["q"] * (ranks["n"] - 1)
    lo = ranks["n_lt"].astype(float)
    hi = np.maximum(ranks["n_le"] - 1, ranks["n_lt"]).astype(float)
    err = np.maximum(np.maximum(lo - target, target - hi), 0.0) / ranks["n"]
    bad = int((err > eps).sum())
    return Gate(bad == 0, f"{len(ranks)} estimates, max rank err {err.max():.4g} vs eps {eps:.4g}")


def check_pairs(got: pd.DataFrame, want: pd.DataFrame, cols: list[str]) -> Gate:
    """Row-for-row equality of two pair relations, sorted by their ids;
    float columns within PAIR_TOL."""
    g = got[cols].sort_values(cols[:2]).reset_index(drop=True)
    w = want[cols].sort_values(cols[:2]).reset_index(drop=True)
    if len(g) != len(w):
        return Gate(False, f"{len(g)} pairs vs {len(w)} in the oracle")
    ids_ok = (g[cols[:2]].to_numpy(np.int64) == w[cols[:2]].to_numpy(np.int64)).all()
    vals_ok = np.allclose(g[cols[2:]].to_numpy(float), w[cols[2:]].to_numpy(float), rtol=0, atol=PAIR_TOL)
    return Gate(bool(ids_ok and vals_ok), f"{len(g)} pairs, ids equal={bool(ids_ok)}, values equal={bool(vals_ok)}")


def wide_to_long(df: pd.DataFrame, key: str) -> pd.DataFrame:
    """``key, p50, p95, p99`` columns (``with_quantiles`` output) to
    ``k, q, est`` rows."""
    parts = [pd.DataFrame({"k": df[key], "q": q, "est": df[f"p{int(round(q * 100))}"]}) for q in QS]
    return pd.concat(parts, ignore_index=True)
