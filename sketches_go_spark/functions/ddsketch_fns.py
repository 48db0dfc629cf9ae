"""DDSketch on Spark — the two interoperable execution paths.

**Relational path (default for bulk batch):** bins-as-rows.  The sketch build
is literally ``groupBy(keys, sign, bucket).sum(weight)`` — pure Catalyst,
whole-stage codegen, map-side partial aggregation, zero Python.  Quantile
extraction is a window cumsum + conditional min — also pure Catalyst.  This
is the plan you want at 100 TB: the only wide shuffle keys on
``(keys, sign, bucket)``, which is fine-grained even when a single group key
is hot (bucket spreads a hot key over ~hundreds of reducers), and the shuffle
payload after partial agg is at most ``groups x buckets`` rows regardless of
input size.

**UDAF path:** the sketch as a *value* — an encoded ``BinaryType`` blob.
Three build strategies (see :func:`ddsketch_agg`): ``combine`` (vectorized
``mapInPandas`` partial per input partition — map-side combine the Arrow
way — then a shuffle of the tiny partials and a STREAMING sorted-run merge),
``repartition`` (raw shuffle once, build in place; high key cardinality),
and ``bins`` (relational bins + single-scan exact-stat partials, blobs
assembled from the tiny bins relation; fastest at low/medium cardinality).
Needed for bounded-memory collapsing semantics, sketch-as-a-column
storage/rollup, streaming state and checkpointed resume.  The blob is the
reference-compatible binary format (core.encoding), so shuffle/checkpoint
bytes stay small.  Every per-group loop here runs on the codec's columnar
batch kernels: partial and bins-assembly sketches are built and encoded a
whole batch at a time (``encode_sketches``), and the merge decodes each
Arrow batch of blobs at once (``decode_sketches``) and merges its key runs
with one sort and grouped sum (``merge_sketch_runs``) inside the shared
``sketch_fns.two_phase_merge`` stage.  The scalar ``encode_sketch`` /
``decode_sketch`` serve the extraction UDFs (``with_quantiles``,
``with_summary``, ``sketch_to_bins``), streaming state and proto conversion.

Both paths share the mapping math and agree on bucket semantics; parity is
asserted in tests (same quantile estimates vs the same oracle).

Reference behavior being reproduced (citations, no code copied):
AddWithCount 3-way routing ddsketch.go:124-145; GetValueAtQuantile rank
convention and store branch ddsketch.go:166-191; KeyAtRank
dense_store.go:153-165; MergeWith ddsketch.go:302-310.
"""

from __future__ import annotations

import math
from typing import Iterable, Iterator, Sequence

import numpy as np
import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    BinaryType,
    DoubleType,
    IntegerType,
    StructField,
    StructType,
)
from pyspark.sql.window import Window

from sketches_go_spark.core.ddsketch import (
    COLLAPSE_LOWEST,
    COLLAPSE_NONE,
    DDSketch,
    DDSketchConfig,
)
from sketches_go_spark.core.encoding import (
    concat_sketch_columns,
    decode_sketch,
    decode_sketches,
    encode_sketches,
    merge_sketch_runs,
    sketch_columns,
)
from sketches_go_spark.functions.expressions import bucket_value, sign_bucket
from sketches_go_spark.functions.sketch_fns import key_runs, two_phase_merge

DEFAULT_QUANTILES = (0.5, 0.95, 0.99)


# =====================================================================
# Relational path — bins as rows
# =====================================================================
def build_bins(
    df: DataFrame,
    value_col: str | Column,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """(keys..., sign:int, bucket:int, count:double) histogram DataFrame.

    NaN / out-of-range / NULL measures are dropped (sign IS NULL), mirroring
    the reference's per-value rejection as a filter; callers needing the
    rejected count can diff ``F.count`` against the bin totals.
    One wide shuffle, map-side combined by Catalyst's partial hash agg.
    """
    config = config or DDSketchConfig()
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sign, bucket = sign_bucket(value, config.mapping())
    weight = (
        F.lit(1.0)
        if weight_col is None
        else (F.col(weight_col) if isinstance(weight_col, str) else weight_col).cast(
            "double"
        )
    )
    bins = (
        df.select(*keys, sign.alias("sign"), bucket.alias("bucket"), weight.alias("w"))
        .where(F.col("sign").isNotNull())
        .groupBy(*keys, "sign", "bucket")
        .agg(F.sum("w").alias("count"))
    )
    return collapse_bins(bins, keys, config)


def collapse_bins(
    bins: DataFrame, keys: Sequence[str], config: DDSketchConfig
) -> DataFrame:
    """Bounded-memory collapse, relationally: clamp buckets into the kept
    range per (keys, sign) and re-aggregate
    (semantic port of collapsing_lowest_dense_store.go:102-136)."""
    if config.collapse == COLLAPSE_NONE or config.max_bins <= 0:
        return bins
    w = Window.partitionBy(*keys, "sign")
    m = F.lit(config.max_bins)
    if config.collapse == COLLAPSE_LOWEST:
        clamped = F.when(
            F.col("sign") != 0,
            F.greatest(F.col("bucket"), F.max("bucket").over(w) - m + 1),
        ).otherwise(F.col("bucket"))
    else:
        clamped = F.when(
            F.col("sign") != 0,
            F.least(F.col("bucket"), F.min("bucket").over(w) + m - 1),
        ).otherwise(F.col("bucket"))
    return (
        bins.withColumn("bucket", clamped)
        .groupBy(*keys, "sign", "bucket")
        .agg(F.sum("count").alias("count"))
    )


def quantiles_from_bins(
    bins: DataFrame,
    keys: Sequence[str],
    quantiles: Iterable[float] = DEFAULT_QUANTILES,
    config: DDSketchConfig | None = None,
    estimate_decimals: int | None = 6,
) -> DataFrame:
    """Per-group quantile estimates from a bins DataFrame — pure Catalyst.

    Exact reference semantics (ddsketch.go:166-191 + dense_store.go:153-165):
    rank = q*(total-1); rank < neg_total → reversed rank in the negative
    store; rank < neg_total+zero → 0; else forward rank in the positive
    store; KeyAtRank = smallest bucket with cumulative count > rank, falling
    back to the store's max bucket.

    Output: (keys..., q:double, est:double) — est rounded to
    ``estimate_decimals`` so independent engines computing the identical
    algorithm hash-match (set None to skip rounding).
    """
    config = config or DDSketchConfig()
    mapping = config.mapping()
    spark = bins.sparkSession
    qs = [float(q) for q in quantiles]

    cum_w = (
        Window.partitionBy(*keys, "sign")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    is_neg = F.col("sign") == -1
    is_zero = F.col("sign") == 0
    is_pos = F.col("sign") == 1
    # group-level totals as window aggregates over the SAME bins relation —
    # a groupBy+join would re-scan the raw input a second time (the bins
    # lineage recomputes); windows keep the plan single-scan, and the bins
    # relation is tiny (groups x buckets) so the extra exchange is free
    grp_w = Window.partitionBy(*keys)
    bins2 = (
        bins.withColumn("cum", F.sum("count").over(cum_w))
        .withColumn(
            "neg_total",
            F.coalesce(F.sum(F.when(is_neg, F.col("count"))).over(grp_w), F.lit(0.0)),
        )
        .withColumn(
            "zero_count",
            F.coalesce(F.sum(F.when(is_zero, F.col("count"))).over(grp_w), F.lit(0.0)),
        )
        .withColumn("total", F.sum("count").over(grp_w))
        .withColumn("max_pos_bucket", F.max(F.when(is_pos, F.col("bucket"))).over(grp_w))
        .withColumn("max_neg_bucket", F.max(F.when(is_neg, F.col("bucket"))).over(grp_w))
    )

    # literal quantile relation built JVM-side: createDataFrame would route
    # through a Python RDD and spawn a python worker per core just to emit
    # 3 rows (measured ~seconds at local[32])
    qdf = spark.range(1).select(
        F.explode(F.array(*[F.lit(q) for q in qs])).alias("q")
    )
    joined = bins2.join(F.broadcast(qdf))

    rank = F.col("q") * (F.col("total") - 1)
    neg_rank = F.greatest(F.col("neg_total") - 1 - rank, F.lit(0.0))
    pos_rank = F.greatest(rank - F.col("zero_count") - F.col("neg_total"), F.lit(0.0))

    picked = joined.groupBy(*keys, "q").agg(
        F.min(F.when(is_pos & (F.col("cum") > pos_rank), F.col("bucket"))).alias("pos_key"),
        F.min(F.when(is_neg & (F.col("cum") > neg_rank), F.col("bucket"))).alias("neg_key"),
        F.first("neg_total").alias("neg_total"),
        F.first("zero_count").alias("zero_count"),
        F.first("total").alias("total"),
        F.first("max_pos_bucket").alias("max_pos_bucket"),
        F.first("max_neg_bucket").alias("max_neg_bucket"),
    )

    rank2 = F.col("q") * (F.col("total") - 1)
    est = (
        F.when(
            rank2 < F.col("neg_total"),
            -bucket_value(F.coalesce(F.col("neg_key"), F.col("max_neg_bucket")), mapping),
        )
        .when(rank2 < F.col("neg_total") + F.col("zero_count"), F.lit(0.0))
        .otherwise(
            bucket_value(F.coalesce(F.col("pos_key"), F.col("max_pos_bucket")), mapping)
        )
    )
    if estimate_decimals is not None:
        est = F.round(est, estimate_decimals)
    return picked.select(*keys, "q", est.alias("est"))


def ddsketch_quantiles_relational(
    df: DataFrame,
    value_col: str | Column,
    keys: Sequence[str],
    quantiles: Iterable[float] = DEFAULT_QUANTILES,
    config: DDSketchConfig | None = None,
    weight_col: str | Column | None = None,
) -> DataFrame:
    """End-to-end: raw rows → bins → per-group quantiles.  One wide shuffle
    over (keys, sign, bucket); everything else touches only bin rows."""
    config = config or DDSketchConfig()
    bins = build_bins(df, value_col, keys, config, weight_col)
    return quantiles_from_bins(bins, keys, quantiles, config)


def summary_from_bins(
    bins: DataFrame, keys: Sequence[str], config: DDSketchConfig | None = None
) -> DataFrame:
    """Per-group count / approximate sum / min / max from bins
    (GetCount/GetSum/GetMinValue/GetMaxValue, ddsketch.go:208-267)."""
    config = config or DDSketchConfig()
    mapping = config.mapping()
    is_pos = F.col("sign") == 1
    is_neg = F.col("sign") == -1
    signed_value = F.when(
        is_pos, bucket_value(F.col("bucket"), mapping)
    ).when(is_neg, -bucket_value(F.col("bucket"), mapping)).otherwise(F.lit(0.0))
    return bins.groupBy(*keys).agg(
        F.sum("count").alias("count"),
        F.round(F.sum(signed_value * F.col("count")), 6).alias("sum_approx"),
        F.round(
            F.coalesce(
                -bucket_value(F.max(F.when(is_neg, F.col("bucket"))), mapping),
                F.when(F.sum(F.when(F.col("sign") == 0, F.col("count"))) > 0, F.lit(0.0)),
                bucket_value(F.min(F.when(is_pos, F.col("bucket"))), mapping),
            ),
            6,
        ).alias("min_approx"),
        F.round(
            F.coalesce(
                bucket_value(F.max(F.when(is_pos, F.col("bucket"))), mapping),
                F.when(F.sum(F.when(F.col("sign") == 0, F.col("count"))) > 0, F.lit(0.0)),
                -bucket_value(F.min(F.when(is_neg, F.col("bucket"))), mapping),
            ),
            6,
        ).alias("max_approx"),
    )


# =====================================================================
# UDAF path — sketch as an encoded binary value
# =====================================================================
def _key_df(pdf: pd.DataFrame, keys: Sequence[str]) -> pd.Series:
    if len(keys) == 1:
        return pdf[keys[0]]
    return pd.Series(list(zip(*[pdf[k] for k in keys])), index=pdf.index)


def ddsketch_partial(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    weight_col: str | None = None,
    metrics=None,
) -> DataFrame:
    """Phase 1: one partial sketch per (group x input-partition), built
    inside ``mapInPandas`` — the Arrow-side equivalent of map-side combine
    (applyInPandas alone would ship every raw row of a group to one task).

    Output: (keys..., sketch: binary).
    """
    config = config or DDSketchConfig()
    mapping = config.mapping()
    key_fields = [df.schema[k] for k in keys]
    out_schema = StructType(list(key_fields) + [StructField("sketch", BinaryType())])
    cols = list(keys) + [value_col] + ([weight_col] if weight_col else [])
    kcols = list(keys)

    def build(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # fully vectorized: per Arrow batch, compute (sign, bucket) arrays
        # once, reduce to per-(group, sign, bucket) bins with a C-path pandas
        # groupby, and encode every group's sketch in ONE columnar pass at
        # partition end — no per-group Python work at all, so
        # high-cardinality keys (conv_id) cost the same per row as one key
        bin_parts: list[pd.DataFrame] = []
        stat_parts: list[pd.DataFrame] = []
        for pdf in batches:
            if pdf.empty:
                continue
            v = pdf[value_col].to_numpy(dtype=np.float64, na_value=np.nan)
            w = (
                pdf[weight_col].to_numpy(dtype=np.float64, na_value=0.0)
                if weight_col
                else np.ones(v.size)
            )
            keep = ~(np.isnan(v) | (v > mapping.max_indexable) | (v < -mapping.max_indexable))
            keep &= w > 0
            if not keep.all():
                v, w = v[keep], w[keep]
                pdf = pdf.loc[keep]
            if v.size == 0:
                continue
            pos = v > mapping.min_indexable
            neg = v < -mapping.min_indexable
            sign = np.where(pos, 1, np.where(neg, -1, 0)).astype(np.int8)
            bucket = np.zeros(v.size, dtype=np.int64)
            if pos.any():
                bucket[pos] = mapping.index(v[pos])
            if neg.any():
                bucket[neg] = mapping.index(-v[neg])
            # factorize string keys ONCE per batch and aggregate on the int
            # codes — an all-integer groupby is ~30% cheaper than hashing
            # python string objects per row twice (measured; the hot task of
            # the skewed repartition build runs this loop over ~8.7M rows).
            # Per-group accumulation order is unchanged (factorize preserves
            # row order, groupby reduces in occurrence order either way), so
            # the float sums are bit-identical to the direct-key groupby.
            codes, uniqs = {}, {}
            for k in kcols:
                codes[k], uniqs[k] = pd.factorize(
                    pdf[k].to_numpy(), use_na_sentinel=False
                )
            ccols = [f"_c_{k}" for k in kcols]
            frame = pd.DataFrame({c: codes[k] for c, k in zip(ccols, kcols)})
            frame["sign"] = sign
            frame["bucket"] = bucket
            frame["w"] = w
            part = (
                frame.groupby([*ccols, "sign", "bucket"], sort=False, dropna=False)["w"]
                .sum()
                .reset_index()
            )
            for c, k in zip(ccols, kcols):
                part[k] = uniqs[k].take(part[c].to_numpy())
            bin_parts.append(part[[*kcols, "sign", "bucket", "w"]])
            sframe = pd.DataFrame({c: codes[k] for c, k in zip(ccols, kcols)})
            sframe["w"] = w
            sframe["vw"] = v * w
            sframe["v"] = v
            spart = (
                sframe.groupby(ccols, sort=False, dropna=False)
                .agg(cnt=("w", "sum"), s=("vw", "sum"), mn=("v", "min"), mx=("v", "max"))
                .reset_index()
            )
            for c, k in zip(ccols, kcols):
                spart[k] = uniqs[k].take(spart[c].to_numpy())
            stat_parts.append(spart[[*kcols, "cnt", "s", "mn", "mx"]])
        if not bin_parts:
            return
        bins = (
            pd.concat(bin_parts, ignore_index=True)
            .groupby([*kcols, "sign", "bucket"], sort=True, dropna=False)["w"]
            .sum()
            .reset_index()
        )
        # sorted by key like the bins, so row g of the stats is run g
        stats = (
            pd.concat(stat_parts, ignore_index=True)
            .groupby(kcols, sort=True, dropna=False)
            .agg(cnt=("cnt", "sum"), s=("s", "sum"), mn=("mn", "min"), mx=("mx", "max"))
        )
        starts = key_runs(bins, kcols)
        out = bins[kcols].iloc[starts].reset_index(drop=True)
        out["sketch"] = _sketches_from_bins(
            bins["sign"].to_numpy(), bins["bucket"].to_numpy(dtype=np.int64),
            bins["w"].to_numpy(dtype=np.float64), starts, config,
            *(stats[c].to_numpy(dtype=np.float64) for c in ("cnt", "s", "mn", "mx")),
        )
        yield out

    if metrics is not None:
        from sketches_go_spark.plans.metrics import instrument_map_in_pandas

        build = instrument_map_in_pandas(build, metrics)
    return df.select(*cols).mapInPandas(build, schema=out_schema)


def _sketches_from_bins(
    sign: np.ndarray,
    bucket: np.ndarray,
    count: np.ndarray,
    starts: np.ndarray,
    config: DDSketchConfig,
    xcount: np.ndarray,
    xsum: np.ndarray,
    xmin: np.ndarray,
    xmax: np.ndarray,
) -> np.ndarray:
    """One encoded sketch per run of bins rows ``[starts[g], starts[g+1])``,
    each run ordered by (sign, bucket) with unique buckets per sign; the
    exact stats are given per run."""
    n = starts.size
    run = np.repeat(np.arange(n), np.diff(np.append(starts, sign.size)))
    zero = sign == 0
    store = 2 * run[~zero] + (sign[~zero] < 0)
    order = np.argsort(store, kind="stable")  # positive store before negative
    cols = sketch_columns(
        store[order], bucket[~zero][order], count[~zero][order], n, config,
        np.bincount(run[zero], weights=count[zero], minlength=n),
        xcount, xsum, xmin, xmax,
    )
    return encode_sketches(cols)


def _merge_blob_runs(config: DDSketchConfig):
    """:func:`two_phase_merge` kernel: decode the batch's blobs at once and
    merge each key run with one grouped sum (core.encoding batch kernels)."""

    def merge_runs(pdf: pd.DataFrame, starts: np.ndarray, carry):
        cols = decode_sketches(pdf["sketch"], config=config)
        if carry is not None:
            cols = concat_sketch_columns([carry, cols])
            starts = np.concatenate([[0], starts[1:] + 1])
        merged = merge_sketch_runs(cols, starts, config)
        return encode_sketches(merged), merged.take(np.array([merged.n - 1]))

    return merge_runs


def ddsketch_merge(
    partials: DataFrame,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    metrics=None,
) -> DataFrame:
    """Phase 2: shuffle the (tiny) partials by group key and merge
    (MergeWith semantics, ddsketch.go:302-310) in the shared streaming
    merge stage, one Arrow batch at a time: per batch, one columnar decode
    of every blob, one sort and grouped sum of the bins of every key run,
    and one columnar encode of the merged sketches."""
    config = config or DDSketchConfig()
    return two_phase_merge(
        partials, keys, _merge_blob_runs(config), metrics=metrics
    )


def ddsketch_agg(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    weight_col: str | None = None,
    strategy: str = "combine",
    metrics=None,
) -> DataFrame:
    """Sketch aggregation: (keys..., sketch: binary).

    strategy='combine' (default): two-phase partial-per-partition → shuffle
    tiny encoded partials → merge.  Optimal when groups repeat within input
    partitions (low/medium key cardinality) — the map-side combine shrinks
    the shuffle to ~groups x partitions blobs.

    strategy='repartition': shuffle the raw (keys, value) rows once so each
    group lands wholly in one partition, then build final sketches in a
    single vectorized pass — no merge stage, no per-partial decode.  Optimal
    at high key cardinality (e.g. per-conv_id sketches, where map-side
    combine finds nothing to combine and 'combine' would decode millions of
    single-group partials).

    strategy='bins': build the bins RELATIONALLY first (pure Catalyst,
    whole-stage codegen, map-side combined — the fastest build path), with
    the exact count/sum/min/max carried as three extra bin-level aggregates
    in the SAME single scan, then assemble one encoded sketch per group from
    the tiny bins relation.  Arrow ships ``groups x buckets`` bin rows to
    Python instead of every raw row — the optimal shape when groups hold
    many values (low/medium cardinality); degenerates to 'repartition' cost
    when groups are tiny."""
    config = config or DDSketchConfig()
    if strategy == "repartition":
        cols = [value_col] + ([weight_col] if weight_col else [])
        shuffled = df.select(*keys, *cols).repartition(*keys)
        return ddsketch_partial(shuffled, value_col, keys, config, weight_col, metrics)
    if strategy == "bins":
        return _ddsketch_agg_from_bins(
            df, value_col, keys, config, weight_col, metrics
        )
    return ddsketch_merge(
        ddsketch_partial(df, value_col, keys, config, weight_col, metrics),
        keys,
        config,
        metrics,
    )


def _ddsketch_agg_from_bins(
    df: DataFrame,
    value_col: str,
    keys: Sequence[str],
    config: DDSketchConfig,
    weight_col: str | None = None,
    metrics=None,
) -> DataFrame:
    """strategy='bins' build: one Catalyst aggregation produces the bins
    relation EXTENDED with per-bin exact-stat partials (sum of v*w, min v,
    max v), so the exact summary re-aggregates from bins without a second
    scan of the raw data; blob assembly walks the sorted bins per group."""
    mapping = config.mapping()
    value = F.col(value_col)
    sign, bucket = sign_bucket(value, mapping)
    weight = (
        F.lit(1.0) if weight_col is None else F.col(weight_col).cast("double")
    )
    v = value.cast("double")
    ext = (
        df.select(
            *keys,
            sign.alias("sign"),
            bucket.alias("bucket"),
            weight.alias("w"),
            v.alias("v"),
        )
        .where(F.col("sign").isNotNull() & (F.col("w") > 0))
        .groupBy(*keys, "sign", "bucket")
        .agg(
            F.sum("w").alias("count"),
            F.sum(F.col("v") * F.col("w")).alias("vw"),
            F.min("v").alias("mn"),
            F.max("v").alias("mx"),
        )
    )
    return two_phase_merge(
        ext, keys, _assemble_runs(config), order_by=("sign", "bucket"), metrics=metrics
    )


def _segment_sums(values: np.ndarray, starts: np.ndarray) -> np.ndarray:
    """``values[a:b].sum()`` of each segment, bit for bit: numpy sums fewer
    than 8 values left to right from 0.0, as bincount does, and longer
    ones pairwise."""
    lens = np.diff(np.append(starts, values.size))
    out = np.bincount(
        np.repeat(np.arange(starts.size), lens), weights=values, minlength=starts.size
    )
    for i in np.flatnonzero(lens >= 8):
        out[i] = values[starts[i] : starts[i] + lens[i]].sum()
    return out


def _assemble_runs(config: DDSketchConfig):
    """:func:`two_phase_merge` kernel that turns each key run of the
    extended bins relation into one sketch; a run's exact stats add up the
    per-batch sums, min and max of its rows."""

    def merge_runs(pdf: pd.DataFrame, starts: np.ndarray, carry):
        bins = [pdf[c].to_numpy(dtype=np.int64) for c in ("sign", "bucket")]
        bins.append(pdf["count"].to_numpy(dtype=np.float64))
        n = starts.size
        # what the run already holds: nothing, or the carried part of it
        xcount, xsum = np.zeros(n), np.zeros(n)
        xmin, xmax = np.full(n, math.inf), np.full(n, -math.inf)
        if carry is not None:
            xcount[0], xsum[0], xmin[0], xmax[0] = carry[1]
        xcount += _segment_sums(bins[2], starts)
        xsum += _segment_sums(pdf["vw"].to_numpy(dtype=np.float64), starts)
        mn = np.minimum.reduceat(pdf["mn"].to_numpy(dtype=np.float64), starts)
        mx = np.maximum.reduceat(pdf["mx"].to_numpy(dtype=np.float64), starts)
        xmin = np.where(mn < xmin, mn, xmin)
        xmax = np.where(mx > xmax, mx, xmax)
        if carry is not None:
            bins = [np.concatenate([c, b]) for c, b in zip(carry[0], bins)]
            starts = np.concatenate([[0], starts[1:] + carry[0][0].size])
        blobs = _sketches_from_bins(*bins, starts, config, xcount, xsum, xmin, xmax)
        last = slice(starts[-1], None)
        return blobs, ([b[last] for b in bins], (xcount[-1], xsum[-1], xmin[-1], xmax[-1]))

    return merge_runs


def _decode(blob) -> DDSketch:
    return decode_sketch(bytes(blob))


def with_quantiles(
    sketches: DataFrame,
    quantiles: Iterable[float] = DEFAULT_QUANTILES,
    sketch_col: str = "sketch",
    clamp_exact: bool = False,
    prefix: str = "p",
    estimate_decimals: int | None = 6,
) -> DataFrame:
    """Append one estimate column per requested quantile (vectorized pandas
    UDF over the sketch blobs)."""
    qs = [float(q) for q in quantiles]

    @F.pandas_udf(returnType=StructType(
        [StructField(f"_q{i}", DoubleType()) for i in range(len(qs))]
    ))
    def extract(blobs: pd.Series) -> pd.DataFrame:
        out = np.full((len(blobs), len(qs)), np.nan)
        for i, blob in enumerate(blobs):
            if blob is None:
                continue
            s = _decode(blob)
            if not s.is_empty:
                out[i] = s.quantiles(qs, clamp_exact=clamp_exact)
        return pd.DataFrame({f"_q{i}": out[:, i] for i in range(len(qs))})

    def colname(q: float) -> str:
        pct = q * 100
        if float(pct).is_integer():
            return f"{prefix}{int(pct)}"
        return f"{prefix}{str(pct).replace('.', '_')}"

    tmp = sketches.withColumn("_qs", extract(F.col(sketch_col)))
    for i, q in enumerate(qs):
        c = F.col("_qs").getField(f"_q{i}")
        if estimate_decimals is not None:
            c = F.round(c, estimate_decimals)
        tmp = tmp.withColumn(colname(q), c)
    return tmp.drop("_qs")


def with_summary(
    sketches: DataFrame, sketch_col: str = "sketch", estimate_decimals: int | None = 6
) -> DataFrame:
    """Append exact count/sum/min/max carried by the sketch
    (DDSketchWithExactSummaryStatistics surface, ddsketch.go:535-567)."""

    @F.pandas_udf(returnType=StructType(
        [
            StructField("cnt", DoubleType()),
            StructField("xsum", DoubleType()),
            StructField("xmin", DoubleType()),
            StructField("xmax", DoubleType()),
        ]
    ))
    def extract(blobs: pd.Series) -> pd.DataFrame:
        rows = []
        for blob in blobs:
            if blob is None:
                rows.append((np.nan,) * 4)
                continue
            s = _decode(blob)
            rows.append(
                (
                    s.exact_count,
                    s.sum,
                    s.exact_min if math.isfinite(s.exact_min) else np.nan,
                    s.exact_max if math.isfinite(s.exact_max) else np.nan,
                )
            )
        return pd.DataFrame(rows, columns=["cnt", "xsum", "xmin", "xmax"])

    tmp = sketches.withColumn("_s", extract(F.col(sketch_col)))
    for name in ("cnt", "xsum", "xmin", "xmax"):
        c = F.col("_s").getField(name)
        if estimate_decimals is not None and name != "cnt":
            c = F.round(c, estimate_decimals)
        tmp = tmp.withColumn(name, c)
    return tmp.drop("_s")


# =====================================================================
# reshape operators: rollup, reweight, change_mapping
# =====================================================================
def rollup_bins(
    bins: DataFrame, keys: Sequence[str], subset: Sequence[str]
) -> DataFrame:
    """Coarser-granularity bins from finer bins — the mergeability payoff:
    a per-(role, tool) bins relation re-aggregates to per-role or global
    WITHOUT touching the raw data (sum over the dropped keys).
    ``subset`` must be a subset of ``keys``; dropped keys disappear."""
    missing = [k for k in subset if k not in keys]
    if missing:
        raise ValueError(f"subset keys not in bins: {missing}")
    return bins.groupBy(*subset, "sign", "bucket").agg(
        F.sum("count").alias("count")
    )


def sliding_bins(
    bins: DataFrame,
    time_col: str,
    keys: Sequence[str],
    window: int,
) -> DataFrame:
    """Trailing-window bins from a per-period bins cube: for each period t,
    the bins of periods [t-window+1, t] — i.e. a MOVING sketch (7-day p95
    per day) computed entirely from the tiny cube, never rescanning raw
    data.  ``time_col`` must be an integer period (e.g. epoch day).

    Implementation: each cube row contributes to the ``window`` periods it
    serves, materialized with ``explode(sequence(t, t+window-1))`` and
    re-summed — a windowed sum over (sign, bucket) rows would silently DROP
    periods where a bucket had no same-day row (the missing-rows pitfall of
    sparse window aggregation).  Cost: window × cube rows, independent of
    the raw data size.  Output periods beyond the data's max period (the
    tail where a row still serves future windows) are included; filter to
    the observed range if undesired."""
    if window < 1:
        raise ValueError("window must be >= 1 period")
    t = F.col(time_col)
    served = F.explode(
        F.sequence(t, t + F.lit(int(window) - 1))
    ).alias(time_col)
    other = [k for k in keys if k != time_col]
    contrib = bins.select(
        served, *other, "sign", "bucket", "count"
    )
    return contrib.groupBy(time_col, *other, "sign", "bucket").agg(
        F.sum("count").alias("count")
    )


def winsorized_mean_from_bins(
    bins: DataFrame,
    keys: Sequence[str],
    quantiles: tuple[float, float] = (0.05, 0.95),
    config: DDSketchConfig | None = None,
    decimals: int = 6,
) -> DataFrame:
    """(keys..., wmean:double): mean with each bucket's representative value
    clamped into the group's [p_lo, p_hi] estimates — the outlier-robust
    mean, computed entirely from the bins relation (quantile cut points and
    the clamped weighted average both come from the same tiny cube; raw
    data is never rescanned)."""
    config = config or DDSketchConfig()
    mapping = config.mapping()
    lo, hi = quantiles
    qs = quantiles_from_bins(bins, keys, (lo, hi), config)
    lo_rel = qs.where(F.col("q") == lo).select(*keys, F.col("est").alias("v_lo"))
    hi_rel = qs.where(F.col("q") == hi).select(*keys, F.col("est").alias("v_hi"))
    is_pos = F.col("sign") == 1
    is_neg = F.col("sign") == -1
    sv = F.when(is_pos, bucket_value(F.col("bucket"), mapping)).when(
        is_neg, -bucket_value(F.col("bucket"), mapping)
    ).otherwise(F.lit(0.0))
    j = bins.join(F.broadcast(lo_rel), list(keys)).join(
        F.broadcast(hi_rel), list(keys)
    )
    clamped = F.least(F.greatest(sv, F.col("v_lo")), F.col("v_hi"))
    return j.groupBy(*keys).agg(
        F.round(
            F.sum(clamped * F.col("count")) / F.sum("count"), decimals
        ).alias("wmean")
    )


def bins_psi(
    bins_a: DataFrame,
    bins_b: DataFrame,
    keys: Sequence[str],
    eps: float = 1e-6,
    decimals: int = 6,
) -> DataFrame:
    """(keys..., psi:double): Population Stability Index between two bins
    relations over the same mapping — the standard distribution-drift score,
    computed entirely from the tiny cubes (never rescanning raw data):

        psi = Σ_buckets (p' − q') · ln(p'/q'),  p' = max(p, eps)

    where p/q are each side's bucket mass fractions.  Buckets present on one
    side only contribute with the eps floor (the classic smoothing).  Rule
    of thumb: psi < 0.1 stable, 0.1–0.25 moderate shift, > 0.25 major shift.
    One full-outer join of two (groups × buckets) relations — O(cube)."""
    def _norm(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy(*keys)
        return df.select(
            *keys, "sign", "bucket",
            (F.col("count") / F.sum("count").over(w)).alias(out),
        )
    a = _norm(bins_a, "p")
    b = _norm(bins_b, "q")
    j = a.join(b, [*keys, "sign", "bucket"], "full_outer").select(
        *keys,
        F.greatest(F.coalesce("p", F.lit(0.0)), F.lit(float(eps))).alias("p"),
        F.greatest(F.coalesce("q", F.lit(0.0)), F.lit(float(eps))).alias("q"),
    )
    term = (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q"))
    return j.groupBy(*keys).agg(
        F.round(F.sum(term), decimals).alias("psi")
    )


def bins_ks(
    bins_a: DataFrame,
    bins_b: DataFrame,
    keys: Sequence[str],
    decimals: int = 6,
) -> DataFrame:
    """(keys..., ks:double): two-sample Kolmogorov–Smirnov statistic between
    two bins relations over the same mapping — the max absolute CDF gap at
    any bucket boundary, the location-sensitive drift score PSI's
    mass-ratio view misses (PSI saturates on disjoint supports; KS tells
    you WHERE the distributions diverge is bounded by how much).

    Buckets are walked in VALUE order — ``(sign asc, sign*bucket asc)``:
    within sign=-1 a larger bucket index is a more negative value, so the
    composite key linearizes negatives/zero/positives correctly.  One
    full-outer join of the two cubes + one window cumsum — O(cube), raw
    data never rescanned, and the fixed walk order makes the float
    accumulation bit-reproducible cross-engine."""
    def _norm(df: DataFrame, out: str) -> DataFrame:
        w = Window.partitionBy(*keys)
        return df.select(
            *keys, "sign", "bucket",
            (F.col("count") / F.sum("count").over(w)).alias(out),
        )

    a = _norm(bins_a, "fa")
    b = _norm(bins_b, "fb")
    j = a.join(b, [*keys, "sign", "bucket"], "full_outer").select(
        *keys, "sign", "bucket",
        F.coalesce("fa", F.lit(0.0)).alias("fa"),
        F.coalesce("fb", F.lit(0.0)).alias("fb"),
    )
    worder = (
        Window.partitionBy(*keys)
        .orderBy(F.col("sign").asc(), (F.col("sign") * F.col("bucket")).asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    gap = F.abs(F.sum("fa").over(worder) - F.sum("fb").over(worder))
    return (
        j.withColumn("_gap", gap)
        .groupBy(*keys)
        .agg(F.round(F.max("_gap"), decimals).alias("ks"))
    )


def reweight_bins(bins: DataFrame, w: float) -> DataFrame:
    """Scale every count by w > 0 — distribution-invariant
    (ddsketch.go:514-529)."""
    if w <= 0:
        raise ValueError("can't reweight by a negative or zero factor")
    return bins.withColumn("count", F.col("count") * F.lit(float(w)))


def change_mapping_bins(
    bins: DataFrame,
    keys: Sequence[str],
    old_config: DDSketchConfig,
    new_config: DDSketchConfig,
    scale_factor: float = 1.0,
    count_decimals: int | None = 6,
) -> DataFrame:
    """Re-bucket a bins relation onto a new mapping, splitting each old
    bucket's value interval proportionally (by overlap) across the new
    buckets (ChangeMapping, ddsketch.go:483-510) — enables merging sketches
    built with different alphas.

    Pure Catalyst: sequence() generates each old bucket's target range,
    explode fans out, overlap fractions weight the counts, and a final
    groupBy re-aggregates.  The zero bucket (sign=0) passes through (scaled
    interval still contains 0)."""
    from sketches_go_spark.core.mapping import LogarithmicMapping

    mo = old_config.mapping()
    mn = new_config.mapping()
    if not isinstance(mo, LogarithmicMapping) or not isinstance(mn, LogarithmicMapping):
        raise NotImplementedError(
            "change_mapping_bins implements the exp/ln interval split for "
            "logarithmic mappings only; interpolated mappings must go through "
            "the UDAF path (DDSketch.change_mapping)"
        )
    s = float(scale_factor)
    lo = F.exp(
        (F.col("bucket").cast("double") - F.lit(mo.index_offset)) / F.lit(mo.multiplier)
    ) * F.lit(s)
    hi = F.exp(
        ((F.col("bucket") + 1).cast("double") - F.lit(mo.index_offset))
        / F.lit(mo.multiplier)
    ) * F.lit(s)
    jlo = F.floor(F.log(lo) * F.lit(mn.multiplier) + F.lit(mn.index_offset)).cast("int")
    jhi = F.floor(F.log(hi) * F.lit(mn.multiplier) + F.lit(mn.index_offset)).cast("int")

    nonzero = bins.where(F.col("sign") != 0).select(
        *keys,
        "sign",
        "count",
        lo.alias("_lo"),
        hi.alias("_hi"),
        F.explode(F.sequence(jlo, jhi)).alias("new_bucket"),
    )
    nb_lo = F.exp(
        (F.col("new_bucket").cast("double") - F.lit(mn.index_offset))
        / F.lit(mn.multiplier)
    )
    nb_hi = F.exp(
        ((F.col("new_bucket") + 1).cast("double") - F.lit(mn.index_offset))
        / F.lit(mn.multiplier)
    )
    overlap = F.least(nb_hi, F.col("_hi")) - F.greatest(nb_lo, F.col("_lo"))
    split = (
        nonzero.withColumn("_ov", overlap)
        .where(F.col("_ov") > 0)
        .select(
            *keys,
            "sign",
            F.col("new_bucket").alias("bucket"),
            (F.col("count") * F.col("_ov") / (F.col("_hi") - F.col("_lo"))).alias(
                "count"
            ),
        )
    )
    zero = bins.where(F.col("sign") == 0).select(*keys, "sign", "bucket", "count")
    out = (
        split.unionByName(zero)
        .groupBy(*keys, "sign", "bucket")
        .agg(F.sum("count").alias("count"))
    )
    if count_decimals is not None:
        out = out.withColumn("count", F.round(F.col("count"), count_decimals))
    return out


def sketch_to_bins(
    sketches: DataFrame, keys: Sequence[str], sketch_col: str = "sketch"
) -> DataFrame:
    """Explode encoded sketch values back into the relational bins shape
    (keys..., sign, bucket, count) — the ForEach/Bins surface
    (ddsketch.go:283-298) and the bridge from the UDAF path into every
    bins-relational operator (quantiles_from_bins, rollup, change_mapping)."""
    key_fields = [sketches.schema[k] for k in keys]
    out_schema = StructType(
        list(key_fields)
        + [
            StructField("sign", IntegerType()),
            StructField("bucket", IntegerType()),
            StructField("count", DoubleType()),
        ]
    )
    kcols = list(keys)

    def explode_bins(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # vectorized: per batch, gather each sketch's bin arrays and emit ONE
        # np.concatenate/np.repeat-built frame (no per-bin python tuples)
        for pdf in batches:
            row_ids: list[int] = []
            sizes: list[int] = []
            signs: list[np.ndarray] = []
            buckets: list[np.ndarray] = []
            counts: list[np.ndarray] = []
            for i in range(len(pdf)):
                blob = pdf[sketch_col].iloc[i]
                if blob is None:
                    continue
                s = decode_sketch(bytes(blob))
                nz = 1 if s.zero_count else 0
                total = s.pos_idx.size + s.neg_idx.size + nz
                if total == 0:
                    continue
                signs.append(
                    np.concatenate(
                        [
                            np.ones(s.pos_idx.size, dtype=np.int32),
                            np.full(s.neg_idx.size, -1, dtype=np.int32),
                            np.zeros(nz, dtype=np.int32),
                        ]
                    )
                )
                buckets.append(
                    np.concatenate(
                        [s.pos_idx, s.neg_idx, np.zeros(nz, dtype=np.int64)]
                    ).astype(np.int32)
                )
                counts.append(
                    np.concatenate(
                        [s.pos_cnt, s.neg_cnt, np.full(nz, float(s.zero_count))]
                    )
                )
                row_ids.append(i)
                sizes.append(total)
            if not sizes:
                continue
            rep = np.repeat(np.asarray(row_ids), np.asarray(sizes))
            out = pd.DataFrame({k: pdf[k].to_numpy()[rep] for k in kcols})
            out["sign"] = np.concatenate(signs)
            out["bucket"] = np.concatenate(buckets)
            out["count"] = np.concatenate(counts)
            yield out

    return sketches.mapInPandas(explode_bins, schema=out_schema)


def with_quantile_rank(
    df: DataFrame,
    value_col: str | Column,
    keys: Sequence[str],
    config: DDSketchConfig | None = None,
    out_col: str = "qrank",
) -> DataFrame:
    """Per-row quantile-rank (CDF) transform — quantile NORMALIZATION at
    100 TB without a global sort: every row gains ``out_col`` = estimated
    fraction of its group's mass at-or-below its own value (the complement
    view of GetValueAtQuantile; ddsketch.go:166-190's rank walk applied
    row-wise).  The standard ML feature-preprocessing step (map a skewed
    column to ~uniform [0,1]) and the screen for "where does this row sit".

    Scale shape: ONE bins aggregation (map-side combined), a value-order
    cumulative sum over the TINY bins relation (ORDER BY sign, sign*bucket —
    the same walk as the KS drift query), then the cumulative relation is
    BROADCAST back and joined on (keys, sign, bucket), which every row
    computes from the same Catalyst mapping twin that built the bins.  No
    shuffle of the data rows at all.  Rows the sketch would reject
    (NaN/NULL/out-of-range) are dropped, mirroring build_bins.

    Exactness: counts are exact integer-valued doubles, the cumulative walk
    is identically ordered on every engine, and the single division is
    correctly rounded — rounded to 6 decimals, the DuckDB oracle reproduces
    the column bit-for-bit."""
    config = config or DDSketchConfig()
    if config.max_bins > 0:
        raise ValueError(
            "with_quantile_rank requires a non-collapsing config: rows are "
            "tagged with their UNclamped bucket and would miss collapsed bins"
        )
    m = config.mapping()
    reserved = {"_sg", "_bk", out_col} & set(df.columns)
    if reserved:
        raise ValueError(
            "df must not carry columns named "
            + ", ".join(sorted(reserved))
            + " (reserved for with_quantile_rank)"
        )
    bins = build_bins(df, value_col, keys, config)
    worder = (
        Window.partitionBy(*keys)
        .orderBy(F.col("sign"), F.col("sign") * F.col("bucket"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy(*keys)
    cum = bins.select(
        *keys,
        F.col("sign").alias("_sg"),
        F.col("bucket").alias("_bk"),
        F.round(
            F.sum("count").over(worder) / F.sum("count").over(wall), 6
        ).alias(out_col),
    )
    value = F.col(value_col) if isinstance(value_col, str) else value_col
    sign, bucket = sign_bucket(value, m)
    # no explicit isNotNull filter: the INNER join drops NULL-tagged
    # (rejected) rows itself, and an explicit .where would be pushed down
    # with the full sign/bucket CASE chain re-substituted into the Filter —
    # Catalyst does not CSE across Filter/Project, so the heavy mapping
    # expression would evaluate several times per row (measured ~2x the
    # row-side stage cost at 100M rows)
    tagged = df.withColumn("_sg", sign).withColumn("_bk", bucket)
    return tagged.join(
        F.broadcast(cum), [*keys, "_sg", "_bk"]
    ).drop("_sg", "_bk")
