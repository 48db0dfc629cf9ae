"""Spark functions for the companion sketches (HLL, count-min, Bloom, KLL,
t-digest) — same two-path design as DDSketch:

- **relational paths** (HLL registers, CMS counters, Bloom bit sets) are pure
  Catalyst: hash → modulo → groupBy, map-side combined, Python-free, and
  exactly reproducible in DuckDB (the oracle replays the identical hash);
- **UDAF paths** produce the sketch as an encoded BinaryType value via the
  explicit two-phase mapInPandas-partial → shuffle-of-tiny-blobs → streaming
  mapInPandas merge topology (shared template ``two_phase_agg``; its merge
  stage :func:`two_phase_merge` is also the DDSketch merge, which passes a
  columnar batch kernel), for rollups / storage / streaming state.
"""

from __future__ import annotations

from typing import Callable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    DoubleType,
    StructField,
    StructType,
)

from sketches_go_spark.core.bloom import BloomFilter, bloom_salt
from sketches_go_spark.core.cms import CountMinSketch, cms_salt
from sketches_go_spark.core.hashing import HASH_BITS
from sketches_go_spark.core.hll import HyperLogLog, hll_alpha
from sketches_go_spark.core.kll import KLLSketch
from sketches_go_spark.core.tdigest import TDigest
from sketches_go_spark.functions.expressions import portable_hash64


def _col(c: str | Column) -> Column:
    return F.col(c) if isinstance(c, str) else c


# =====================================================================
# generic two-phase UDAF template (partial per partition -> merge)
# =====================================================================
def _norm_key(vals) -> tuple:
    """Run-comparison key: NaN (which never equals itself) normalized to None
    so a null-keyed group merges into ONE run instead of one row per partial
    (nulls/NaNs sort together in sortWithinPartitions, so runs ARE contiguous
    — only the equality check needs the normalization)."""
    return tuple(
        None if (isinstance(v, float) and v != v) else v for v in vals
    )


def two_phase_agg(
    df: DataFrame,
    cols: Sequence[str],
    keys: Sequence[str],
    make: Callable[[], object],
    partial_add: Callable[[object, dict], None],
    decode: Callable[[bytes], object],
    out_col: str = "sketch",
    strategy: str = "combine",
    flush_groups: int = 50_000,
) -> DataFrame:
    """Shared topology for mergeable sketches whose partial build is a
    per-group object update (KLL / t-digest — rank sketches with
    order-sensitive internal state).  HLL / CMS / Bloom use fully vectorized
    builders instead (see hll_agg / cms_agg / bloom_agg) and share only
    :func:`two_phase_merge`.  Sketch objects must expose ``.merge()`` and
    ``.to_bytes()``.

    strategy='combine' (default): one partial sketch per (group x input
    partition) built batch-wise in mapInPandas (map-side combine), shuffle of
    the tiny encoded partials keyed on the group, then a STREAMING merge —
    repartition + sortWithinPartitions + a single mapInPandas pass that walks
    the sorted partials and emits one sketch per key run
    (:func:`two_phase_merge`): per-group invocation cost is one Python
    decode per partial row, not the ~1 ms applyInPandas per-group call that
    dominates at 10^5+ keys.

    strategy='repartition': shuffle the raw rows once so each group lands
    wholly in one partition, build partials there, and merge locally
    (sortWithinPartitions only — no second shuffle).  Optimal at high key
    cardinality where map-side combine finds nothing to combine.

    ``flush_groups`` bounds the partial-build dict: when a task has
    accumulated that many distinct groups it flushes them as partial rows and
    starts fresh (the merge stage tolerates multiple partials per group), so
    per-task memory is O(flush_groups x sketch size) regardless of key
    cardinality.

    ``partial_add`` receives a dict of numpy column views for the group's
    rows (NOT a DataFrame slice): fancy-indexed ndarray views cost ~1-2 us
    per group where ``pdf.iloc[idx]`` costs ~40 us of block-manager work —
    a 5-10x build-stage difference at 10^5+ groups per task."""
    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(list(key_fields) + [StructField(out_col, BinaryType())])
    kcols = list(keys)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        acc: dict = {}

        def drain() -> pd.DataFrame:
            rows = [
                (*(gk if isinstance(gk, tuple) else (gk,)), s.to_bytes())
                for gk, s in acc.items()
            ]
            return pd.DataFrame(rows, columns=kcols + [out_col])

        data_cols = [c for c in cols]
        for pdf in batches:
            if pdf.empty:
                continue
            arrs = {c: pdf[c].to_numpy() for c in data_cols}
            for gkey, idx in pdf.groupby(kcols, dropna=False, sort=False).indices.items():
                s = acc.get(gkey)
                if s is None:
                    s = acc[gkey] = make()
                partial_add(s, {c: a[idx] for c, a in arrs.items()})
            if len(acc) >= flush_groups:
                yield drain()
                acc = {}
        if acc:
            yield drain()

    src = df.select(*keys, *cols)
    if strategy == "repartition":
        src = src.repartition(*kcols)
    partials = src.mapInPandas(build, schema=out_schema)
    return two_phase_merge(
        partials, keys, merge_rows(decode, out_col), out_col,
        co_located=(strategy == "repartition"),
    )


def key_runs(pdf: pd.DataFrame, keys: Sequence[str]) -> np.ndarray:
    """Row offsets where each run of equal ``keys`` starts in a batch sorted
    by them; nulls (None or NaN) compare equal."""
    new = np.zeros(len(pdf), dtype=bool)
    new[:1] = True
    for k in keys:
        codes = pd.factorize(pdf[k], use_na_sentinel=False)[0]
        new[1:] |= codes[1:] != codes[:-1]
    return np.flatnonzero(new)


def merge_rows(decode: Callable[[bytes], object], col: str = "sketch"):
    """``merge_runs`` kernel for :func:`two_phase_merge` that decodes and
    merges one blob at a time; sketch objects expose ``.merge()`` and
    ``.to_bytes()``."""

    def merge_runs(pdf: pd.DataFrame, starts: np.ndarray, carry):
        blobs = pdf[col].to_numpy()
        ends = np.append(starts[1:], blobs.size)
        out = []
        cur = carry
        for i, (a, b) in enumerate(zip(starts, ends)):
            if i:
                cur = None
            for blob in blobs[a:b]:
                s = decode(bytes(blob))
                if cur is None:
                    cur = s
                else:
                    cur.merge(s)
            out.append(cur.to_bytes())
        return out, cur

    return merge_runs


def two_phase_merge(
    partials: DataFrame,
    keys: Sequence[str],
    merge_runs,
    out_col: str = "sketch",
    co_located: bool = False,
    order_by: Sequence[str] = (),
    metrics=None,
) -> DataFrame:
    """Shared merge stage: shuffle the rows by group key (skipped when
    ``co_located`` -- the build stage already repartitioned the raw rows),
    sort within partitions by the keys then ``order_by``, and walk the key
    runs in one streaming mapInPandas pass -- not applyInPandas, whose ~1 ms
    per-group invocation dominates at 10^5+ keys.

    ``merge_runs(pdf, starts, carry)`` merges each run of rows
    ``[starts[i], starts[i+1])`` of one Arrow batch into one blob and returns
    (one blob per run, the merged state of the last run).  ``carry`` is the
    state of the previous batch's last run when the batch's first run
    continues that key, else None: a key spanning batches still yields one
    row while memory stays at one batch plus one run's state.
    :func:`merge_rows` builds the kernel for per-row decode/merge sketches.
    ``metrics`` records per-task rows and wall time (plans.metrics)."""
    kcols = list(keys)
    key_fields = [partials.schema[k] for k in kcols]
    out_schema = StructType(list(key_fields) + [StructField(out_col, BinaryType())])

    def merge_stream(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pending = None  # (key, one-row frame, state) of the last run so far
        for pdf in batches:
            if pdf.empty:
                continue
            starts = key_runs(pdf, kcols)
            out = pdf[kcols].iloc[starts].reset_index(drop=True)
            first = _norm_key(out.iloc[0].tolist())
            carry = pending[2] if pending is not None and pending[0] == first else None
            blobs, state = merge_runs(pdf, starts, carry)
            out[out_col] = pd.Series(list(blobs), dtype=object)
            done = [out.iloc[:-1]]
            if pending is not None and carry is None:
                done.insert(0, pending[1])
            done = pd.concat(done, ignore_index=True) if len(done) > 1 else done[0]
            if len(done):
                yield done
            pending = (_norm_key(out.iloc[-1][kcols].tolist()), out.iloc[-1:], state)
        if pending is not None:
            yield pending[1]

    if metrics is not None:
        from sketches_go_spark.plans.metrics import instrument_map_in_pandas

        merge_stream = instrument_map_in_pandas(merge_stream, metrics)
    shuffled = partials if co_located else partials.repartition(*kcols)
    shuffled = shuffled.sortWithinPartitions(*kcols, *order_by)
    return shuffled.mapInPandas(merge_stream, schema=out_schema)


# =====================================================================
# HyperLogLog
# =====================================================================
def hll_register_exprs(item: Column, p: int) -> tuple[Column, Column]:
    """(register index, rho) Catalyst expressions — identical semantics to
    core.hll (idx = h % m, rho = (60-p)+1 - bitlen(h >> p))."""
    m = 1 << p
    h = portable_hash64(item)
    idx = F.pmod(h, F.lit(m)).cast("int")
    w = F.shiftright(h, p)
    bitlen = F.when(w == 0, F.lit(0)).otherwise(F.length(F.bin(w)))
    rho = (F.lit(HASH_BITS - p + 1) - bitlen).cast("int")
    return idx, rho


def hll_registers(
    df: DataFrame, item_col: str | Column, keys: Sequence[str], p: int = 12
) -> DataFrame:
    """(keys..., reg:int, rho:int) — the HLL register relation, pure Catalyst.
    One map-side-combined shuffle keyed on (keys, reg); at most m rows per
    group survive regardless of input size."""
    idx, rho = hll_register_exprs(_col(item_col), p)
    return (
        df.where(_col(item_col).isNotNull())
        .select(*keys, idx.alias("reg"), rho.alias("rho"))
        .groupBy(*keys, "reg")
        .agg(F.max("rho").alias("rho"))
    )


def hll_rollup_registers(
    regs: DataFrame, to_keys: Sequence[str]
) -> DataFrame:
    """Roll an HLL register relation up to coarser keys: registers are a
    MAX-monoid, so ``max(rho)`` per (to_keys, reg) is exactly the register
    relation that would have been built directly at the coarser grain.  This
    is what makes a precomputed (day, key) register cube answer any
    date-range distinct query in O(cube rows) without rescanning the data —
    the HLL twin of the DDSketch bins sum-monoid cube."""
    return regs.groupBy(*to_keys, "reg").agg(F.max("rho").alias("rho"))


def hll_sliding_registers(
    regs: DataFrame,
    time_col: str,
    keys: Sequence[str],
    window: int,
) -> DataFrame:
    """Trailing-window registers from a per-period register cube: the
    max-monoid twin of ddsketch_fns.sliding_bins — each (period, reg, rho)
    row is exploded into the ``window`` periods it serves and re-maxed, so
    moving distinct counts (trailing 7-day uniques per day) cost
    window × cube rows with no rescan and no missing-sparse-row pitfall."""
    if window < 1:
        raise ValueError("window must be >= 1 period")
    t = F.col(time_col)
    served = F.explode(F.sequence(t, t + F.lit(int(window) - 1))).alias(
        time_col
    )
    other = [k for k in keys if k != time_col]
    contrib = regs.select(served, *other, "reg", "rho")
    return contrib.groupBy(time_col, *other, "reg").agg(
        F.max("rho").alias("rho")
    )


def hll_estimate_from_registers(
    regs: DataFrame,
    keys: Sequence[str],
    p: int = 12,
    est_decimals: int = 4,
) -> DataFrame:
    """(keys..., est:double) from an existing register relation — the
    estimator half of :func:`hll_estimate_relational`, reusable on rolled-up
    or cubed registers."""
    m = 1 << p
    amm = hll_alpha(m) * m * m
    agg = regs.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("s"),
        F.count(F.lit(1)).alias("used"),
    )
    raw = F.lit(amm) / (F.col("s") + (F.lit(m) - F.col("used")))
    v = F.lit(m) - F.col("used")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0), F.lit(m) * F.log(F.lit(m) / v)
    ).otherwise(raw)
    return agg.select(*keys, F.round(est, est_decimals).alias("est"))


def hll_estimate_relational(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    p: int = 12,
    est_decimals: int = 4,
) -> DataFrame:
    """(keys..., est:double) distinct-count estimate, pure Catalyst, with the
    standard linear-counting small-range correction."""
    regs = hll_registers(df, item_col, keys, p)
    return hll_estimate_from_registers(regs, keys, p, est_decimals)


def hll_agg(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    p: int = 12,
    strategy: str = "combine",
    flush_groups: int = 50_000,
) -> DataFrame:
    """UDAF path: (keys..., sketch:binary) HLL value column.  Hashing happens
    JVM-side (portable hash) so the Arrow batches carry int64s.

    The partial build is fully vectorized: per Arrow batch the (group, reg,
    rho) relation is reduced with a C-path pandas groupby-max, and python
    HyperLogLog objects are materialized ONCE per group at partition end —
    high-cardinality keys (per-conv_id) cost the same per row as one key,
    the same trick as ddsketch_partial."""
    kcols = list(keys)
    hashed = df.where(_col(item_col).isNotNull()).select(
        *kcols, portable_hash64(_col(item_col)).alias("_h")
    )
    if strategy == "repartition":
        hashed = hashed.repartition(*kcols)
    key_fields = [hashed.schema[k] for k in kcols]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])
    m = 1 << p

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from sketches_go_spark.core.hashing import bit_length_u64

        reg_parts: list[pd.DataFrame] = []
        buffered = 0

        def drain() -> pd.DataFrame:
            regs = (
                pd.concat(reg_parts, ignore_index=True)
                .groupby([*kcols, "reg"], dropna=False, sort=False)["rho"]
                .max()
                .reset_index()
            )
            reg_arr = regs["reg"].to_numpy(dtype=np.int64)
            rho_arr = regs["rho"].to_numpy(dtype=np.uint8)
            rows = []
            for gkey, idx in regs.groupby(kcols, dropna=False, sort=False).indices.items():
                gtuple = gkey if isinstance(gkey, tuple) else (gkey,)
                s = HyperLogLog(p)
                s.registers[reg_arr[idx]] = rho_arr[idx]
                rows.append((*gtuple, s.to_bytes()))
            return pd.DataFrame(rows, columns=kcols + ["sketch"])

        for pdf in batches:
            if pdf.empty:
                continue
            h = pdf["_h"].to_numpy(dtype=np.int64)
            frame = pd.DataFrame({k: pdf[k].to_numpy() for k in kcols})
            frame["reg"] = h % m
            frame["rho"] = (
                (HASH_BITS - p) + 1 - bit_length_u64(h >> p)
            ).astype(np.uint8)
            part = (
                frame.groupby([*kcols, "reg"], sort=False, dropna=False)["rho"]
                .max()
                .reset_index()
            )
            reg_parts.append(part)
            buffered += len(part)
            if buffered >= flush_groups * 4:  # bound buffered register rows
                yield drain()
                reg_parts = []
                buffered = 0
        if reg_parts:
            yield drain()

    partials = hashed.mapInPandas(build, schema=out_schema)
    return two_phase_merge(
        partials, keys, merge_rows(HyperLogLog.from_bytes),
        co_located=(strategy == "repartition"),
    )


def hll_estimate_udf(sketch: Column, est_decimals: int = 4) -> Column:
    @F.pandas_udf(DoubleType())
    def est(blobs: pd.Series) -> pd.Series:
        return pd.Series(
            [
                HyperLogLog.from_bytes(bytes(b)).estimate() if b is not None else np.nan
                for b in blobs
            ]
        )

    return F.round(est(sketch), est_decimals)


# =====================================================================
# KMV (k-minimum-values / bottom-k theta sketch)
# =====================================================================
# The one distinct-count capability the HLL register relation cannot give:
# SET-EXPRESSION estimates (intersection / overlap / Jaccard of groups).
# A KMV sketch is the k smallest distinct hash values per group; it is a
# union-monoid (k smallest of a union = k smallest of the merged bottom-k
# sets), and because it carries actual hash SAMPLES rather than register
# maxima, any set expression can be evaluated on the samples below the
# union's k-th minimum (theta).  Estimators are the standard KMV forms
# (Beyer et al., "On synopses for distinct-value estimation under multiset
# operations", SIGMOD'07): distinct ≈ (k-1)/theta, |A∩B| ≈ c/theta where c
# counts common samples under theta.  Pure Catalyst, portable-hash based —
# the DuckDB oracle replays every row bit-for-bit.
_KMV_SCALE = float(1 << HASH_BITS)  # hash values are uniform on [0, 2^60)


def kmv_sketch(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    k: int = 256,
    hash_fn=None,
) -> DataFrame:
    """(keys..., pos:int, hv:bigint) — the k smallest distinct item-hash
    values per group, pos = 1..k rank.  Scale shape: the distinct() and the
    rank window shuffle on the same keys (one exchange under AQE reuse); at
    most k rows per group survive.  Groups with fewer than k distinct items
    keep them all (the estimator then returns the EXACT count)."""
    from pyspark.sql.window import Window

    if k < 1:
        raise ValueError("k must be >= 1")
    hash_fn = hash_fn or portable_hash64
    it = _col(item_col)
    distinct = (
        df.where(it.isNotNull())
        .select(*keys, hash_fn(it, "").alias("hv"))
        .distinct()
    )
    w = Window.partitionBy(*keys).orderBy(F.col("hv").asc())
    return (
        distinct.withColumn("pos", F.row_number().over(w).cast("int"))
        .where(F.col("pos") <= k)
    )


def kmv_estimate_from_sketch(
    sk_df: DataFrame, keys: Sequence[str], k: int, est_decimals: int = 4
) -> DataFrame:
    """(keys..., est:double): (k-1)/theta when the sketch is full (theta =
    k-th minimum / 2^60), exact count when the group has < k distinct."""
    agg = sk_df.groupBy(*keys).agg(
        F.count(F.lit(1)).alias("n"), F.max("hv").alias("kth")
    )
    est = F.when(
        F.col("n") < k, F.col("n").cast("double")
    ).otherwise(F.lit(float(k - 1)) * F.lit(_KMV_SCALE) / F.col("kth").cast("double"))
    return agg.select(*keys, F.round(est, est_decimals).alias("est"))


def kmv_merge_sketches(
    a: DataFrame, b: DataFrame, keys: Sequence[str], k: int
) -> DataFrame:
    """Union-monoid merge: k smallest of the combined bottom-k sets — equals
    the sketch built directly on the unioned data (associative/commutative,
    the same merge contract as every other sketch in the library)."""
    from pyspark.sql.window import Window

    u = a.select(*keys, "hv").union(b.select(*keys, "hv")).distinct()
    w = Window.partitionBy(*keys).orderBy(F.col("hv").asc())
    return (
        u.withColumn("pos", F.row_number().over(w).cast("int"))
        .where(F.col("pos") <= k)
    )


def kmv_pairwise_overlap(
    sk_df: DataFrame,
    key: str,
    k: int,
    est_decimals: int = 4,
) -> DataFrame:
    """(key_a, key_b, est_a, est_b, est_union, est_intersection, jaccard_est)
    for every unordered pair of groups in a keyed KMV sketch relation.

    Per pair: L = k smallest of the two sketches' union, theta = max(L)/2^60;
    |A∪B| ≈ (k-1)/theta, |A∩B| ≈ c/theta with c = |{x ∈ L : x ∈ A_sk ∧
    x ∈ B_sk}|, Jaccard ≈ c/k (all exact when the union has < k samples).
    Join sizes are pairs × k rows — independent of the data size, which is
    the point: pairwise overlap matrices over raw 100-TB data are quadratic
    scans, over KMV sketches they are trivially small."""
    from pyspark.sql.window import Window

    # the sketch relation is consumed by FOUR branches (group list, both
    # membership sides, per-group estimates); it is at most groups x k rows,
    # so materialize it once instead of re-running the upstream
    # distinct+window sketch build per branch
    sk_df = sk_df.localCheckpoint(eager=True)
    ks = sk_df.select(F.col(key).alias("g"), "hv")
    names = ks.select("g").distinct()
    pairs = (
        names.select(F.col("g").alias("ka"))
        .crossJoin(names.select(F.col("g").alias("kb")))
        .where(F.col("ka") < F.col("kb"))
    )
    # the pair list is |groups|^2/2 rows — always broadcast it so the sketch
    # relation (the big side at high group cardinality) never shuffles
    am = ks.withColumnRenamed("g", "ka").join(F.broadcast(pairs), "ka").select(
        "ka", "kb", "hv", F.lit(1).alias("ia"), F.lit(0).alias("ib")
    )
    bm = ks.withColumnRenamed("g", "kb").join(F.broadcast(pairs), "kb").select(
        "ka", "kb", "hv", F.lit(0).alias("ia"), F.lit(1).alias("ib")
    )
    u = (
        am.unionByName(bm)
        .groupBy("ka", "kb", "hv")
        .agg(F.max("ia").alias("ia"), F.max("ib").alias("ib"))
    )
    w = Window.partitionBy("ka", "kb").orderBy(F.col("hv").asc())
    kept = u.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= k)
    agg = kept.groupBy("ka", "kb").agg(
        F.count(F.lit(1)).alias("n"),
        F.max("hv").alias("kth"),
        F.sum(F.col("ia") * F.col("ib")).alias("c"),
    )
    full = F.col("n") >= k
    inv_theta = F.lit(_KMV_SCALE) / F.col("kth").cast("double")
    est_union = F.when(full, F.lit(float(k - 1)) * inv_theta).otherwise(
        F.col("n").cast("double")
    )
    # clamp: c can reach k (> k-1), which would put the raw intersection
    # estimate above the union estimate — impossible for true sets
    est_inter = F.least(
        F.when(full, F.col("c").cast("double") * inv_theta).otherwise(
            F.col("c").cast("double")
        ),
        est_union,
    )
    jacc = F.col("c").cast("double") / F.least(F.lit(k), F.col("n")).cast("double")
    per_group = kmv_estimate_from_sketch(sk_df, [key], k, est_decimals)
    ea = per_group.select(
        F.col(key).alias("ka"), F.col("est").alias("est_a")
    )
    eb = per_group.select(
        F.col(key).alias("kb"), F.col("est").alias("est_b")
    )
    return (
        agg.select(
            "ka",
            "kb",
            F.round(est_union, est_decimals).alias("est_union"),
            F.round(est_inter, est_decimals).alias("est_intersection"),
            F.round(jacc, est_decimals).alias("jaccard_est"),
        )
        .join(F.broadcast(ea), "ka")
        .join(F.broadcast(eb), "kb")
        .select(
            F.col("ka").alias("key_a"),
            F.col("kb").alias("key_b"),
            "est_a",
            "est_b",
            "est_union",
            "est_intersection",
            "jaccard_est",
        )
    )


# =====================================================================
# Count-min
# =====================================================================
def cms_counters(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    depth: int = 4,
    width: int = 512,
    weight_col: str | None = None,
) -> DataFrame:
    """(keys..., row:int, col:int, cnt:double) counter relation, pure
    Catalyst (posexplode of the d hash columns -> groupBy)."""
    item = _col(item_col)
    cols = F.array(
        *[
            F.pmod(portable_hash64(item, cms_salt(j)), F.lit(width)).cast("int")
            for j in range(depth)
        ]
    )
    w = (F.col(weight_col) if weight_col else F.lit(1)).cast("double")
    return (
        df.where(item.isNotNull())
        .select(*keys, F.posexplode(cols).alias("row", "col"), w.alias("w"))
        .groupBy(*keys, "row", "col")
        .agg(F.sum("w").alias("cnt"))
    )


def cms_rollup_counters(
    counters: DataFrame, to_keys: Sequence[str]
) -> DataFrame:
    """Roll a counter relation up to coarser keys: counters are a SUM-monoid
    (cms.go MergeWith is element-wise addition), so summing over dropped
    keys equals counters built directly at the coarser grain — the
    count-min leg of the cube pattern (bins=sum, registers=max,
    counters=sum)."""
    return counters.groupBy(*to_keys, "row", "col").agg(
        F.sum("cnt").alias("cnt")
    )


def cms_estimate(
    counters: DataFrame,
    items: DataFrame,
    item_col: str,
    depth: int = 4,
    width: int = 512,
    keys: Sequence[str] = (),
) -> DataFrame:
    """Point-query the counter relation for each row of ``items``:
    est = min over rows j of counter[(j, h_j(item) % w)].  The counter
    relation is small (d*w per group) → broadcast join."""
    item = _col(item_col)
    cols = F.array(
        *[
            F.pmod(portable_hash64(item, cms_salt(j)), F.lit(width)).cast("int")
            for j in range(depth)
        ]
    )
    probes = items.select(
        *keys, item.alias(item_col), F.posexplode(cols).alias("row", "col")
    )
    joined = probes.join(F.broadcast(counters), [*keys, "row", "col"], "left").na.fill(
        {"cnt": 0.0}
    )
    return joined.groupBy(*keys, item_col).agg(F.min("cnt").alias("est_cnt"))


def cms_agg(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    depth: int = 4,
    width: int = 512,
    strategy: str = "combine",
    flush_groups: int = 50_000,
) -> DataFrame:
    """UDAF path: encoded CMS value per group (columns pre-hashed JVM-side).

    Vectorized build: per batch the (group, counter-cell) relation is reduced
    with a C-path pandas groupby-sum; CountMinSketch objects materialize once
    per group at partition end (same trick as hll_agg/ddsketch_partial)."""
    kcols = list(keys)
    hash_cols = [
        F.pmod(portable_hash64(_col(item_col), cms_salt(j)), F.lit(width))
        .cast("int")
        .alias(f"_c{j}")
        for j in range(depth)
    ]
    hashed = df.where(_col(item_col).isNotNull()).select(*kcols, *hash_cols)
    if strategy == "repartition":
        hashed = hashed.repartition(*kcols)
    key_fields = [hashed.schema[k] for k in kcols]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts: list[pd.DataFrame] = []
        buffered = 0

        def drain() -> pd.DataFrame:
            cells = (
                pd.concat(parts, ignore_index=True)
                .groupby([*kcols, "_cell"], dropna=False, sort=False)["_w"]
                .sum()
                .reset_index()
            )
            cell_arr = cells["_cell"].to_numpy(dtype=np.int64)
            w_arr = cells["_w"].to_numpy(dtype=np.float64)
            rows = []
            for gkey, idx in cells.groupby(kcols, dropna=False, sort=False).indices.items():
                gtuple = gkey if isinstance(gkey, tuple) else (gkey,)
                s = CountMinSketch(depth, width)
                s.table.ravel()[cell_arr[idx]] = w_arr[idx]
                rows.append((*gtuple, s.to_bytes()))
            return pd.DataFrame(rows, columns=kcols + ["sketch"])

        for pdf in batches:
            if pdf.empty:
                continue
            n = len(pdf)
            # one (group, row*width+col) weight row per (input row, depth)
            frames = []
            for j in range(depth):
                f2 = pd.DataFrame({k: pdf[k].to_numpy() for k in kcols})
                f2["_cell"] = (
                    j * width + pdf[f"_c{j}"].to_numpy(dtype=np.int64)
                )
                frames.append(f2)
            stacked = pd.concat(frames, ignore_index=True)
            stacked["_w"] = 1.0
            part = (
                stacked.groupby([*kcols, "_cell"], sort=False, dropna=False)["_w"]
                .sum()
                .reset_index()
            )
            parts.append(part)
            buffered += len(part)
            if buffered >= flush_groups * 4:
                yield drain()
                parts = []
                buffered = 0
        if parts:
            yield drain()

    partials = hashed.mapInPandas(build, schema=out_schema)
    return two_phase_merge(
        partials, keys, merge_rows(CountMinSketch.from_bytes),
        co_located=(strategy == "repartition"),
    )


# =====================================================================
# Bloom
# =====================================================================
def bloom_bits(
    df: DataFrame,
    item_col: str | Column,
    keys: Sequence[str],
    m_bits: int = 4096,
    k: int = 5,
) -> DataFrame:
    """(keys..., pos:int) distinct set-bit relation, pure Catalyst."""
    item = _col(item_col)
    positions = F.array(
        *[
            F.pmod(portable_hash64(item, bloom_salt(j)), F.lit(m_bits)).cast("int")
            for j in range(k)
        ]
    )
    return (
        df.where(item.isNotNull())
        .select(*keys, F.explode(positions).alias("pos"))
        .distinct()
    )


def bloom_probe(
    bits: DataFrame,
    probes: DataFrame,
    item_col: str,
    m_bits: int = 4096,
    k: int = 5,
    keys: Sequence[str] = (),
) -> DataFrame:
    """(keys..., item, might_contain:boolean): true iff all k probe positions
    are set.  Bit relation is tiny → broadcast."""
    item = _col(item_col)
    positions = F.array(
        *[
            F.pmod(portable_hash64(item, bloom_salt(j)), F.lit(m_bits)).cast("int")
            for j in range(k)
        ]
    )
    exploded = probes.select(*keys, item.alias(item_col), F.explode(positions).alias("pos"))
    marked = exploded.join(
        F.broadcast(bits.withColumn("_hit", F.lit(1))), [*keys, "pos"], "left"
    )
    return marked.groupBy(*keys, item_col).agg(
        (F.count("_hit") == F.lit(k)).alias("might_contain")
    )


def bloom_agg(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    m_bits: int = 4096,
    k: int = 5,
    strategy: str = "combine",
    flush_groups: int = 50_000,
) -> DataFrame:
    """UDAF path: encoded Bloom filter value per group.

    Vectorized build: per batch the distinct (group, bit-position) relation
    is reduced with a C-path pandas drop_duplicates; BloomFilter objects
    materialize once per group at partition end."""
    kcols = list(keys)
    pos_cols = [
        F.pmod(portable_hash64(_col(item_col), bloom_salt(j)), F.lit(m_bits))
        .cast("int")
        .alias(f"_p{j}")
        for j in range(k)
    ]
    hashed = df.where(_col(item_col).isNotNull()).select(*kcols, *pos_cols)
    if strategy == "repartition":
        hashed = hashed.repartition(*kcols)
    key_fields = [hashed.schema[k2] for k2 in kcols]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        parts: list[pd.DataFrame] = []
        buffered = 0

        def drain() -> pd.DataFrame:
            bits = pd.concat(parts, ignore_index=True).drop_duplicates(
                [*kcols, "_pos"]
            )
            pos_arr = bits["_pos"].to_numpy(dtype=np.int64)
            rows = []
            for gkey, idx in bits.groupby(kcols, dropna=False, sort=False).indices.items():
                gtuple = gkey if isinstance(gkey, tuple) else (gkey,)
                s = BloomFilter(m_bits, k)
                s.bits[pos_arr[idx]] = True
                rows.append((*gtuple, s.to_bytes()))
            return pd.DataFrame(rows, columns=kcols + ["sketch"])

        for pdf in batches:
            if pdf.empty:
                continue
            frames = []
            for j in range(k):
                f2 = pd.DataFrame({k2: pdf[k2].to_numpy() for k2 in kcols})
                f2["_pos"] = pdf[f"_p{j}"].to_numpy(dtype=np.int64)
                frames.append(f2)
            part = pd.concat(frames, ignore_index=True).drop_duplicates(
                [*kcols, "_pos"]
            )
            parts.append(part)
            buffered += len(part)
            if buffered >= flush_groups * 4:
                yield drain()
                parts = []
                buffered = 0
        if parts:
            yield drain()

    partials = hashed.mapInPandas(build, schema=out_schema)
    return two_phase_merge(
        partials, keys, merge_rows(BloomFilter.from_bytes),
        co_located=(strategy == "repartition"),
    )


# =====================================================================
# KLL / t-digest (UDAF-only: rank-space sketches aren't relational)
# =====================================================================
def kll_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    k: int = 200,
    strategy: str = "combine",
    flush_groups: int = 50_000,
) -> DataFrame:
    def add(sk: KLLSketch, cols: dict) -> None:
        sk.add(np.asarray(cols[value_col], dtype=np.float64))

    return two_phase_agg(
        df.where(_col(value_col).isNotNull()),
        [value_col],
        keys,
        lambda: KLLSketch(k),
        add,
        KLLSketch.from_bytes,
        strategy=strategy,
        flush_groups=flush_groups,
    )


def tdigest_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    delta: float = 200.0,
    strategy: str = "combine",
    flush_groups: int = 50_000,
) -> DataFrame:
    def add(sk: TDigest, cols: dict) -> None:
        sk.add(np.asarray(cols[value_col], dtype=np.float64))

    return two_phase_agg(
        df.where(_col(value_col).isNotNull()),
        [value_col],
        keys,
        lambda: TDigest(delta),
        add,
        TDigest.from_bytes,
        strategy=strategy,
        flush_groups=flush_groups,
    )


def sketch_quantiles_udf(
    decode: Callable[[bytes], object], quantiles: Sequence[float]
) -> Callable[[Column], Column]:
    qs = [float(q) for q in quantiles]

    @F.pandas_udf(ArrayType(DoubleType()))
    def extract(blobs: pd.Series) -> pd.Series:
        out = []
        for b in blobs:
            if b is None:
                out.append(None)
                continue
            out.append([float(x) for x in decode(bytes(b)).quantiles(qs)])
        return pd.Series(out)

    return extract


def with_sketch_quantiles(
    sketches: DataFrame,
    decode: Callable[[bytes], object],
    quantiles: Sequence[float],
    sketch_col: str = "sketch",
    prefix: str = "p",
) -> DataFrame:
    extract = sketch_quantiles_udf(decode, quantiles)
    tmp = sketches.withColumn("_qarr", extract(F.col(sketch_col)))
    for i, q in enumerate(quantiles):
        pct = q * 100
        name = f"{prefix}{int(pct)}" if float(pct).is_integer() else (
            f"{prefix}{pct}".replace(".", "_")
        )
        tmp = tmp.withColumn(name, F.element_at("_qarr", i + 1))
    return tmp.drop("_qarr")


def cms_heavy_hitters(
    df: DataFrame,
    item_col: str,
    keys: Sequence[str],
    k: int = 10,
    depth: int = 4,
    width: int = 512,
) -> DataFrame:
    """(keys..., rank, item, est_cnt): top-k items per group by count-min
    estimate — the classic heavy-hitters query over a CMS.

    Candidates are the distinct (keys, item) pairs: at 10^12 rows the
    candidate relation is bounded by the VOCABULARY per group (tools, event
    names, tokens), not the row count, and the counter relation is d*w rows
    per group, so both sides of the probe join stay tiny regardless of input
    size.  Ranking ties break by item so the ordering is deterministic and
    engine-portable."""
    from pyspark.sql.window import Window

    src = df.where(_col(item_col).isNotNull())
    counters = cms_counters(src, item_col, keys, depth, width)
    items = src.select(*keys, _col(item_col).alias("item")).distinct()
    est = cms_estimate(counters, items, "item", depth, width, keys=keys)
    part = list(keys) if keys else [F.lit(1)]
    w = Window.partitionBy(*part).orderBy(
        F.col("est_cnt").desc(), F.col("item").asc()
    )
    return (
        est.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select(*keys, "rank", "item", "est_cnt")
    )
