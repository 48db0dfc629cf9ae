"""The benchmark's declared contract: workloads, metrics, units and bounds.

``python3 perfbench/run.py --write-benchmark-json`` writes BENCHMARK.json at
the repository root from this file, so the two never disagree.
"""

from __future__ import annotations

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
# A full check of the benchmark makes 4 + 22 x 2 = 48 runs and must end within
# 3420 s.  An untraced run takes 44-64 s on a 4-vCPU VM (setup 19-36 s, then at
# least 20 s of timed passes, plus inputs, references and shutdown) and a
# traced one 45-60 s, which leaves a margin.
RUN_SECONDS = 20
# Spark task slots of the benchmark's local session: min(CORES, nproc).  At
# these input sizes a pass is bound by per-query planning, code generation and
# scheduling more than by scan width (local[1], local[2] and local[4] measured
# the same pass time on a 4-vCPU VM), while the session already keeps more
# than two vCPUs busy at local[2]: every task streams through a Python worker,
# and the JVM's JIT compiler threads stay busy pass after pass (5-9 CPU-seconds
# of compilation per role_quantiles pass after warm-up).  More slots would only
# queue those threads behind the tasks.
CORES = 2

# (name, why); workloads.py implements them
WORKLOADS = [
    ("role_quantiles",
     "few huge groups (4 roles) plus the text-dedup operators: scan, bucket mapping, map-side combine, "
     "blocking and joins dominate; the codec sees at most groups x partitions blobs"),
    ("sketch_warehouse",
     "write beside read: one checkpointed ingest of per-(role, conv_id) sketches, then 2 rollups "
     "that read, merge and extract them (read:write 2:1); the only workload on plans.checkpoint and sources.io"),
]

# (name, unit, better, bound); every workload reports every one of them.
# On a shared 4-vCPU VM wall times follow the hypervisor's steal (measured: a
# role_quantiles pass takes 6-7 s below 1% steal and 9.4 s at 3.7%), so the
# time bounds are the widest allowed.
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("rows_per_s", "rows/s", "higher", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

_S, _N, _B = "s", "count", "bytes"
# (name, unit, better); a layer a workload does not run reads 0 there
PER_LAYER = [
    ("sources.scan_s", _S, "lower"),
    ("sources.input_rows", _N, "lower"),
    ("sources.input_bytes", _B, "lower"),
    ("sources.read_sketches_s", _S, "lower"),
    ("expressions.bucket_index_s", _S, "lower"),
    ("ddsketch_fns.build_bins_s", _S, "lower"),
    ("ddsketch_fns.bin_rows", _N, "lower"),
    ("ddsketch_fns.quantiles_from_bins_s", _S, "lower"),
    ("ddsketch_fns.partial_s", _S, "lower"),
    ("ddsketch_fns.partial_blobs", _N, "lower"),
    ("ddsketch_fns.partial_blob_bytes", _B, "lower"),
    ("ddsketch_fns.merge_s", _S, "lower"),
    ("ddsketch_fns.groups", _N, "lower"),
    ("ddsketch_fns.combine_ratio", "ratio", "higher"),
    ("ddsketch_fns.extract_s", _S, "lower"),
    ("sketch_fns.hll_relational_s", _S, "lower"),
    ("sketch_fns.kll_agg_s", _S, "lower"),
    ("sketch_fns.extract_s", _S, "lower"),
    ("core.encoding.encode_us", "us", "lower"),
    ("core.encoding.decode_us", "us", "lower"),
    ("core.encoding.bins_per_sketch", _N, "lower"),
    ("core.encoding.bytes_per_sketch", _B, "lower"),
    ("core.ddsketch.merge_us", "us", "lower"),
    ("core.ddsketch.quantiles_us", "us", "lower"),
    ("core.mapping.index_ns_per_value", "ns", "lower"),
    ("core.kll.merge_us", "us", "lower"),
    ("checkpoint.run_s", _S, "lower"),
    ("checkpoint.slices", _N, "lower"),
    ("checkpoint.bytes_written", _B, "lower"),
    ("checkpoint.result_s", _S, "lower"),
    ("dedup.minhash_signatures_s", _S, "lower"),
    ("dedup.lsh_pairs_s", _S, "lower"),
    ("dedup.pairs_out", _N, "lower"),
    ("text.winnow_fingerprints_s", _S, "lower"),
    ("text.fingerprint_rows", _N, "lower"),
    ("text.containment_pairs_s", _S, "lower"),
    ("text.pairs_out", _N, "lower"),
    ("spark.stages", _N, "lower"),
    ("spark.tasks", _N, "lower"),
    ("spark.task_p50_s", _S, "lower"),
    ("spark.task_max_s", _S, "lower"),
    ("spark.executor_run_s", _S, "lower"),
    ("spark.executor_cpu_s", _S, "lower"),
    ("spark.gc_s", _S, "lower"),
    ("spark.shuffle_write_bytes", _B, "lower"),
    ("spark.shuffle_read_bytes", _B, "lower"),
    ("spark.spill_bytes", _B, "lower"),
    ("spark.python_bytes_in", _B, "lower"),
    ("spark.python_bytes_out", _B, "lower"),
    ("spark.join_rows_out", _N, "lower"),
    ("spark.jvm_peak_rss_mb", "MB", "lower"),
    ("trace.untraced_pass_s", _S, "lower"),
    ("trace.pass_s", _S, "lower"),
    ("trace.overhead_s", _S, "lower"),
    ("trace.layer_self_s", _S, "lower"),
    ("trace.glue_s", _S, "lower"),
]

# printed with every untraced run beside the gated metrics (not gated: a
# per-op time exists only on the workloads whose mix has that op, and the
# accuracy and failure figures are gates of their own)
REPORTED = [
    ("quantile_rel_s", "s"),
    ("quantile_udaf_s", "s"),
    ("distinct_s", "s"),
    ("rank_sketch_s", "s"),
    ("ingest_s", "s"),
    ("rollup_s", "s"),
    ("containment_s", "s"),
    ("minhash_s", "s"),
    ("max_rel_err", "ratio"),
    ("failed_frac", "ratio"),
]


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": why} for n, why in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b in PER_LAYER],
    }
