"""The workloads: inputs, the fixed op mix, references, checks, and the
traced split of each op at the package's layer boundaries.

Every op is a complete query through extraction.  Timed executions write
every output column to Spark's ``noop`` sink; the warm-up execution of each
op collects the same query instead, and that output is what the correctness
gate checks.  In a traced pass the benchmark calls the same public functions
one layer at a time, materializing each intermediate relation, and records a
span per call; nothing inside ``sketches_go_spark`` is instrumented.
"""

from __future__ import annotations

import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Callable

import numpy as np
import pandas as pd
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark import StorageLevel
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

import inputs
import reference as ref
from sketches_go_spark.core.kll import KLLSketch
from sketches_go_spark.functions import ddsketch_fns as dd
from sketches_go_spark.functions import sketch_fns as sk
from sketches_go_spark.functions.expressions import sign_bucket
from sketches_go_spark.operators import dedup
from sketches_go_spark.operators import text as text_ops
from sketches_go_spark.plans.checkpoint import CheckpointedSketchJob
from sketches_go_spark.sources.io import read_sketches

QS = list(ref.QS)
KLL_K = 200


# ---------------------------------------------------------------- tracing
class Tracer:
    """Spans kept in memory: name, start, end, parent span and op id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, op_id: str):
        rec = {
            "id": len(self.spans),
            "parent": self._stack[-1] if self._stack else None,
            "op_id": op_id,
            "name": name,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def self_times(self) -> dict[int, float]:
        """Span duration minus the time its child spans cover."""
        out = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                out[s["parent"]] -= s["end"] - s["start"]
        return out


def seconds(span: dict) -> float:
    return span["end"] - span["start"]


def noop(df: DataFrame) -> None:
    df.write.format("noop").mode("overwrite").save()


def materialize(df: DataFrame) -> DataFrame:
    """Compute ``df`` once, every column, and keep it for the next call."""
    m = df.persist(StorageLevel.MEMORY_AND_DISK)
    noop(m)
    return m


def blob_bytes(df: DataFrame, col: str = "sketch") -> int:
    return int(df.select(F.sum(F.length(col))).first()[0] or 0)


# --------------------------------------------------------------- op model
@dataclass
class Op:
    """One query of the mix.  ``build`` returns the lazy result (or, for an
    op whose result is a side effect, runs it and returns None); ``markers``
    are plan nodes the executed plan must contain."""

    name: str
    rows: int
    build: Callable[[], DataFrame | None]
    markers: tuple[str, ...] = ()
    prepare: Callable[[], None] | None = None  # untimed, before every execution


@dataclass
class Run:
    """What one invocation of a workload shares between its phases."""

    spark: SparkSession | None
    work: str
    paths: dict[str, str]
    frames: dict[str, DataFrame] = field(default_factory=dict)
    facts: dict = field(default_factory=dict)


class Workload:
    name = ""
    metrics: dict[str, str] = {}  # op name -> end-to-end metric name

    def make_inputs(self, seed: int, work: str) -> tuple[dict[str, str], dict]:
        raise NotImplementedError

    def open(self, run: Run) -> None:
        raise NotImplementedError

    def mix(self, run: Run) -> list[Op]:
        raise NotImplementedError

    def reference_sqls(self) -> dict[str, str]:
        return {}

    def check(self, run: Run, outputs: dict[str, pd.DataFrame], refs: dict, db: ref.References) -> dict[str, ref.Gate]:
        raise NotImplementedError

    def after_warmup(self, run: Run) -> None:
        """Record facts the mix needs that only the first pass produces."""

    def traced_op(self, run: Run, op: Op, tr: Tracer, op_id: str, counts: dict) -> None:
        """Run ``op`` one layer at a time: a span per public call, each
        intermediate relation materialized; ``counts`` gets the layer
        counters."""
        raise NotImplementedError

    def probes(self, run: Run, tr: Tracer, outputs: dict[str, pd.DataFrame]) -> dict[str, float]:
        return {}

    def core_inputs(self, run: Run, outputs: dict[str, pd.DataFrame]) -> tuple[list, list, np.ndarray]:
        """DDSketch blobs, KLL blobs and value column for the core probe."""
        return [], [], np.empty(0)


def _turns_inputs(seed: int, work: str, n_turns: int) -> tuple[dict[str, str], dict]:
    table = inputs.transcripts(seed, n_turns)
    path = os.path.join(work, "transcripts")
    size = inputs.write(table, path)
    values = pc.utf8_length(table.column("text")).to_numpy().astype(np.float64)
    facts = {"input_rows": table.num_rows, "input_bytes": size, "values": values, "turns": table.num_rows}
    return {"transcripts": path}, facts


# ------------------------------------------------------ sketch workloads
class _SketchWorkload(Workload):
    """Shared by the DDSketch workloads over the transcripts table."""

    n_turns = 0
    key = ""

    def make_inputs(self, seed, work):
        return _turns_inputs(seed, work, self.n_turns)

    def open(self, run):
        run.frames["turns"] = run.spark.read.parquet(run.paths["transcripts"]).withColumn(
            "len", F.length("text").cast("double")
        )

    def _quantile_ops(self, run: Run) -> list[Op]:
        t, k, n = run.frames["turns"], self.key, run.facts["turns"]
        return [
            Op("quantile_rel", n, lambda: dd.ddsketch_quantiles_relational(t, "len", [k], QS), ("Window",)),
            Op(
                "quantile_udaf", n,
                lambda: dd.with_quantiles(dd.ddsketch_agg(t, "len", [k]), QS),
                ("MapInPandas", "ArrowEvalPython"),
            ),
        ]

    def reference_sqls(self):
        return {
            "quantiles": ref.quantile_sql("transcripts", self.key, "CAST(length(text) AS DOUBLE)"),
        }

    def _check_quantiles(self, outputs, refs) -> dict[str, ref.Gate]:
        rel = outputs["quantile_rel"].rename(columns={self.key: "k"})
        udaf = ref.wide_to_long(outputs["quantile_udaf"], self.key)
        return {
            "quantile_rel": ref.check_quantiles(rel[["k", "q", "est"]], refs["quantiles"]),
            "quantile_udaf": ref.check_quantiles(udaf, refs["quantiles"]),
        }

    def traced_op(self, run, op, tr, op_id, counts):
        t, k = run.frames["turns"], self.key
        if op.name == "quantile_rel":
            with tr.span("ddsketch_fns.build_bins", op_id):
                bins = materialize(dd.build_bins(t, "len", [k]))
            counts["ddsketch_fns.bin_rows"] = bins.count()
            with tr.span("ddsketch_fns.quantiles_from_bins", op_id):
                noop(dd.quantiles_from_bins(bins, [k], QS))
            bins.unpersist()
        elif op.name == "quantile_udaf":
            with tr.span("ddsketch_fns.partial", op_id):
                partials = materialize(dd.ddsketch_partial(t, "len", [k]))
            counts["ddsketch_fns.partial_blobs"] = partials.count()
            counts["ddsketch_fns.partial_blob_bytes"] = blob_bytes(partials)
            with tr.span("ddsketch_fns.merge", op_id):
                merged = materialize(dd.ddsketch_merge(partials, [k]))
            counts["ddsketch_fns.groups"] = merged.count()
            with tr.span("ddsketch_fns.extract", op_id):
                noop(dd.with_quantiles(merged, QS))
            partials.unpersist()
            merged.unpersist()
        else:
            super().traced_op(run, op, tr, op_id, counts)

    def probes(self, run, tr, outputs):
        t = run.frames["turns"]
        out = {}
        with tr.span("sources.scan", "probe") as scan:
            noop(t.select("conv_id", "role", "text"))
        sign, bucket = sign_bucket(F.col("len"), dd.DDSketchConfig().mapping())
        with tr.span("expressions.bucket_index", "probe") as mapping:
            noop(t.select("conv_id", "role", sign.alias("sign"), bucket.alias("bucket")))
        return {"sources.scan_s": seconds(scan), "expressions.bucket_index_s": seconds(mapping)}


class RoleQuantiles(_SketchWorkload):
    """Few huge groups, plus the text-dedup pipeline over a documents table.

    Neither half leans on the sketch codec (the DDSketch UDAF sees at most
    groups x partitions blobs, the dedup operators none), so a codec change
    should not move this workload; sketch_warehouse is the one that does.
    """

    name = "role_quantiles"
    metrics = {
        "quantile_rel": "quantile_rel_s",
        "quantile_udaf": "quantile_udaf_s",
        "distinct": "distinct_s",
        "rank_sketch": "rank_sketch_s",
        "containment": "containment_s",
        "minhash": "minhash_s",
    }
    n_turns = 300_000
    n_docs = 800
    key = "role"

    def make_inputs(self, seed, work):
        paths, facts = super().make_inputs(seed, work)
        docs = inputs.documents(seed, self.n_docs)
        paths["documents"] = os.path.join(work, "documents")
        facts["input_bytes"] += inputs.write(docs, paths["documents"])
        facts["input_rows"] += docs.num_rows
        facts["docs"] = docs.num_rows
        return paths, facts

    def open(self, run):
        super().open(run)
        run.frames["docs"] = run.spark.read.parquet(run.paths["documents"])

    def mix(self, run):
        t, n = run.frames["turns"], run.facts["turns"]
        d, n_docs = run.frames["docs"], run.facts["docs"]
        return self._quantile_ops(run) + [
            Op("distinct", n, lambda: sk.hll_estimate_relational(t, "conv_id", ["role"]), ("HashAggregate",)),
            Op(
                "rank_sketch", n,
                lambda: sk.with_sketch_quantiles(sk.kll_agg(t, "len", ["role"], k=KLL_K), KLLSketch.from_bytes, QS),
                ("MapInPandas", "ArrowEvalPython"),
            ),
            Op("containment", n_docs, lambda: text_ops.winnow_containment_pairs(d, threshold=0.5), ("Join", "HashAggregate")),
            Op(
                "minhash", n_docs,
                lambda: dedup.minhash_lsh_pairs(d, num_perm=16, band_size=4, threshold=0.5),
                ("Join", "HashAggregate"),
            ),
        ]

    def reference_sqls(self):
        import __spark_entry__ as entry

        oracles = entry.oracle_sql()
        return {
            **super().reference_sqls(),
            "distinct": ref.distinct_sql("transcripts", "role", "conv_id"),
            "containment": oracles["text_winnow_containment"],
            "minhash": oracles["dedup_minhash_lsh"],
        }

    def check(self, run, outputs, refs, db):
        gates = self._check_quantiles(outputs, refs)
        gates["distinct"] = ref.check_distinct(outputs["distinct"].rename(columns={"role": "k"}), refs["distinct"])
        est = ref.wide_to_long(outputs["rank_sketch"], "role")
        ranks = db.query_with(ref.rank_sql("transcripts", "role", "CAST(length(text) AS DOUBLE)"), "est", est)
        gates["rank_sketch"] = ref.check_ranks(ranks, KLLSketch(KLL_K).epsilon)
        gates["containment"] = ref.check_pairs(
            outputs["containment"], refs["containment"], ["id_a", "id_b", "cont_a", "cont_b"]
        )
        gates["minhash"] = ref.check_pairs(outputs["minhash"], refs["minhash"], ["id_a", "id_b", "jaccard"])
        return gates

    def traced_op(self, run, op, tr, op_id, counts):
        t, d = run.frames["turns"], run.frames["docs"]
        if op.name == "distinct":
            with tr.span("sketch_fns.hll_relational", op_id):
                noop(sk.hll_estimate_relational(t, "conv_id", ["role"]))
        elif op.name == "rank_sketch":
            with tr.span("sketch_fns.kll_agg", op_id):
                kll = materialize(sk.kll_agg(t, "len", ["role"], k=KLL_K))
            with tr.span("sketch_fns.extract", op_id):
                noop(sk.with_sketch_quantiles(kll, KLLSketch.from_bytes, QS))
            kll.unpersist()
        elif op.name == "containment":
            with tr.span("text.containment_pairs", op_id):
                noop(text_ops.winnow_containment_pairs(d, threshold=0.5))
        elif op.name == "minhash":
            with tr.span("dedup.lsh_pairs", op_id):
                noop(dedup.minhash_lsh_pairs(d, num_perm=16, band_size=4, threshold=0.5))
        else:
            super().traced_op(run, op, tr, op_id, counts)

    def probes(self, run, tr, outputs):
        out = super().probes(run, tr, outputs)
        d = run.frames["docs"]
        with tr.span("sources.scan", "probe") as scan:
            noop(d)
        with tr.span("text.winnow_fingerprints", "probe") as winnow:
            fps = materialize(text_ops.winnow_fingerprints(d))
        fingerprints = fps.count()
        fps.unpersist()
        with tr.span("dedup.minhash_signatures", "probe") as sigs:
            noop(dedup.minhash_signatures(d, num_perm=16))
        return {
            **out,
            # both input tables: the transcripts scan and the documents scan
            "sources.scan_s": out["sources.scan_s"] + seconds(scan),
            "text.winnow_fingerprints_s": seconds(winnow),
            "text.fingerprint_rows": fingerprints,
            "dedup.minhash_signatures_s": seconds(sigs),
            "text.pairs_out": len(outputs["containment"]),
            "dedup.pairs_out": len(outputs["minhash"]),
        }

    def core_inputs(self, run, outputs):
        return (
            list(map(bytes, outputs["quantile_udaf"]["sketch"])),
            list(map(bytes, outputs["rank_sketch"]["sketch"])),
            run.facts["values"],
        )


class SketchWarehouse(_SketchWorkload):
    name = "sketch_warehouse"
    metrics = {"ingest": "ingest_s", "rollup": "rollup_s"}
    n_turns = 30_000
    key = "role"
    rollups = 2  # read:write ratio of the mix
    n_slices = 4
    slices_per_batch = 2

    def _job(self, run: Run) -> CheckpointedSketchJob:
        return CheckpointedSketchJob(
            run.facts["warehouse"], keys=["role", "conv_id"],
            n_slices=self.n_slices, slices_per_batch=self.slices_per_batch,
        )

    def _ingest(self, run: Run) -> None:
        self._job(run).run(run.frames["turns"], "len")

    def _fresh(self, run: Run) -> None:
        shutil.rmtree(run.facts["warehouse"], ignore_errors=True)

    def _rollup(self, run: Run) -> DataFrame:
        blobs = read_sketches(run.spark, os.path.join(run.facts["warehouse"], "slice-*"))
        return dd.with_quantiles(dd.ddsketch_merge(blobs, ["role"]), QS)

    def open(self, run):
        super().open(run)
        run.facts["warehouse"] = os.path.join(run.work, "warehouse")

    def mix(self, run):
        n = run.facts["turns"]
        blobs = run.facts.get("blobs_written", 0)
        # every ingest writes into a fresh directory, emptied before the clock starts
        return [Op("ingest", n, lambda: self._ingest(run), prepare=lambda: self._fresh(run))] + [
            Op("rollup", blobs, lambda: self._rollup(run), ("MapInPandas", "ArrowEvalPython"))
            for _ in range(self.rollups)
        ]

    def reference_sqls(self):
        return {
            **super().reference_sqls(),
            "fine_groups": "SELECT count(*) AS groups FROM (SELECT DISTINCT role, conv_id FROM transcripts)",
        }

    def after_warmup(self, run):
        run.facts["blobs_written"] = int(self._job(run).metrics()["n_groups"].sum())

    def check(self, run, outputs, refs, db):
        manifest = self._job(run).metrics()
        want_groups = int(refs["fine_groups"]["groups"][0])
        got_groups = int(manifest["n_groups"].sum()) if len(manifest) else 0
        ingest_ok = len(manifest) == self.n_slices and got_groups == want_groups
        return {
            "ingest": ref.Gate(ingest_ok, f"{len(manifest)} slices, {got_groups} sketches vs {want_groups} groups"),
            "rollup": ref.check_quantiles(ref.wide_to_long(outputs["rollup"], "role"), refs["quantiles"]),
        }

    def traced_op(self, run, op, tr, op_id, counts):
        if op.name == "ingest":
            with tr.span("checkpoint.run", op_id):
                self._job(run).run(run.frames["turns"], "len")
            m = self._job(run).metrics()
            counts["checkpoint.slices"] = len(m)
            counts["checkpoint.bytes_written"] = int(m["bytes_written"].sum())
        else:
            with tr.span("sources.read_sketches", op_id):
                blobs = materialize(read_sketches(run.spark, os.path.join(run.facts["warehouse"], "slice-*")))
            with tr.span("ddsketch_fns.merge", op_id):
                merged = materialize(dd.ddsketch_merge(blobs, ["role"]))
            counts["ddsketch_fns.groups"] = merged.count()
            with tr.span("ddsketch_fns.extract", op_id):
                noop(dd.with_quantiles(merged, QS))
            blobs.unpersist()
            merged.unpersist()

    def probes(self, run, tr, outputs):
        out = super().probes(run, tr, outputs)
        with tr.span("checkpoint.result", "probe") as result:
            noop(self._job(run).result(run.spark))
        return {**out, "checkpoint.result_s": seconds(result)}

    def core_inputs(self, run, outputs):
        wh = run.facts["warehouse"]
        blobs = []
        for d in sorted(os.listdir(wh)):
            if d.startswith("slice-"):
                blobs += pq.read_table(os.path.join(wh, d), columns=["sketch"]).column("sketch").to_pylist()
        return blobs, [], run.facts["values"]


WORKLOADS: dict[str, Workload] = {
    w.name: w for w in (RoleQuantiles(), SketchWarehouse())
}
