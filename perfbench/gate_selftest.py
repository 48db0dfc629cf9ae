"""Show that the correctness gate rejects wrong answers.

    python3 perfbench/gate_selftest.py

Run from the repository root; no Spark session is needed.  It generates a
seeded transcripts table, takes the exact references from DuckDB exactly as
a benchmark run does, and feeds the gates:

- per-role DDSketch estimates built with alpha = 0.01 (must pass) and with
  alpha = 0.05 (must fail the alpha = 0.01 gate);
- HLL estimates at precision 12 (must pass) and at precision 4 (must fail);
- a pair relation with one pair dropped (must fail).

Exits 0 when every expectation holds, 1 otherwise.
"""

from __future__ import annotations

import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.getcwd())

import numpy as np  # noqa: E402
import pandas as pd  # noqa: E402
import pyarrow.compute as pc  # noqa: E402

import inputs  # noqa: E402
import reference as ref  # noqa: E402
from sketches_go_spark.core.ddsketch import DDSketch, DDSketchConfig  # noqa: E402
from sketches_go_spark.core.hashing import portable_hash64_np  # noqa: E402
from sketches_go_spark.core.hll import HyperLogLog  # noqa: E402


def ddsketch_estimates(values: np.ndarray, keys: np.ndarray, alpha: float) -> pd.DataFrame:
    rows = []
    for k in np.unique(keys):
        s = DDSketch.from_values(values[keys == k], config=DDSketchConfig(alpha=alpha))
        rows += [(k, q, round(float(e), 6)) for q, e in zip(ref.QS, s.quantiles(list(ref.QS)))]
    return pd.DataFrame(rows, columns=["k", "q", "est"])


def hll_estimates(items: np.ndarray, keys: np.ndarray, p: int) -> pd.DataFrame:
    rows = []
    for k in np.unique(keys):
        h = HyperLogLog(p).add_hashes(portable_hash64_np(items[keys == k]))
        rows.append((k, h.estimate()))
    return pd.DataFrame(rows, columns=["k", "est"])


def main() -> int:
    work = os.path.join(os.getcwd(), ".perfbench_work", "gate_selftest")
    shutil.rmtree(work, ignore_errors=True)
    table = inputs.transcripts(7, 20_000)
    path = os.path.join(work, "transcripts")
    inputs.write(table, path)
    db = ref.References({"transcripts": path}, 7, work, os.path.join(work, "cache"))
    q_ref = db.query(ref.quantile_sql("transcripts", "role", "CAST(length(text) AS DOUBLE)"))
    d_ref = db.query(ref.distinct_sql("transcripts", "role", "conv_id"))
    db.close()

    values = pc.utf8_length(table.column("text")).to_numpy().astype(np.float64)
    roles = np.asarray(table.column("role").to_pylist())
    convs = np.asarray(table.column("conv_id").to_pylist())
    pairs = pd.DataFrame({"id_a": [1, 2, 3], "id_b": [4, 5, 6], "jaccard": [0.5, 0.6, 0.7]})

    cases = [
        ("ddsketch alpha=0.01 vs gate alpha=0.01", True,
         ref.check_quantiles(ddsketch_estimates(values, roles, 0.01), q_ref)),
        ("ddsketch alpha=0.05 vs gate alpha=0.01", False,
         ref.check_quantiles(ddsketch_estimates(values, roles, 0.05), q_ref)),
        ("hll p=12 vs gate p=12", True, ref.check_distinct(hll_estimates(convs, roles, 12), d_ref)),
        ("hll p=4 vs gate p=12", False, ref.check_distinct(hll_estimates(convs, roles, 4), d_ref)),
        ("pairs equal", True, ref.check_pairs(pairs, pairs, ["id_a", "id_b", "jaccard"])),
        ("one pair dropped", False, ref.check_pairs(pairs.iloc[:2], pairs, ["id_a", "id_b", "jaccard"])),
    ]
    ok = True
    for name, want, gate in cases:
        good = gate.ok == want
        ok &= good
        print(f"{'as expected' if good else 'UNEXPECTED'}: {name}: gate {'passes' if gate.ok else 'fails'} "
              f"({gate.detail}{'' if gate.max_rel_err is None else f', max_rel_err {gate.max_rel_err:.4g}'})")
    shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
