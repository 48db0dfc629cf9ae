"""Seeded end-to-end benchmark of sketches_go_spark.

    python3 perfbench/run.py --workload role_quantiles --seed 1 --seconds 10 --trace 0

Run it from the repository root.  One invocation:

1. generates the workload's inputs from ``--seed`` as parquet under
   ``.perfbench_work/`` and computes the exact references with DuckDB
   (cached by seed, input digest and SQL text);
2. starts one ``local[min(2, nproc)]`` session (``spec.CORES``) through the
   package's ``get_spark``
   and warms up: it runs the mix once collecting every op's output (that
   output is what the correctness gate checks), then once more into the
   ``noop`` sink.  ``setup_s`` is the time from the session start through
   this warm-up; input generation and the references are outside it;
3. runs the mix as one closed-loop client, one query at a time, in whole
   passes until ``--seconds`` have passed (at least three passes); every op
   writes all its output columns to the ``noop`` sink and its executed plan is
   checked for the op's extraction operators;
4. with ``--trace 1`` it alternates untraced and traced passes instead (a
   traced pass calls the package one layer at a time, see workloads.py),
   enables Spark's event log, probes the layers outside the passes and the
   ``core`` codec on the workload's own blobs, and reports per-layer metrics.

The last line of standard output is one JSON object: ``correct``,
``attempted``, ``failed`` and ``metrics`` (the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``).  A run record with
the host facts (nproc, steal, seed, input sizes) and, for traced runs, the
spans and the parsed event log is written to ``.perfbench_work/records/``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
import uuid
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import spec  # noqa: E402


class GuardError(RuntimeError):
    """The executed plan lacks an operator the op's result needs."""


def log(msg: str) -> None:
    print(msg, file=sys.stderr, flush=True)


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=spec.RUN_SECONDS)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--write-benchmark-json", action="store_true",
                   help="write BENCHMARK.json at the repository root and exit")
    return p.parse_args(argv)


def isolate(root: str, work: str, tag: str) -> None:
    """Keep every file the run and its children write inside ``work`` and
    mark the children so they can be found and waited for."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PERFBENCH_RUN"] = tag
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # no hsperfdata file: the JVM would write it under /tmp whatever tmpdir says
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = root + os.pathsep + os.environ.get("PYTHONPATH", "")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYSPARK_DRIVER_PYTHON"] = sys.executable


def session_conf(work: str, trace: bool) -> dict:
    conf = {
        "spark.driver.memory": "2g",
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
            "spark.eventLog.logStageExecutorMetrics": "true",
            "spark.executor.processTreeMetrics.enabled": "true",
            "spark.executor.metrics.pollingInterval": "100ms",
        })
    return conf


def executed_plan(spark, group: str) -> str:
    """Physical plan of the latest SQL execution run under job group
    ``group`` (from the session's SQL status store; the UI stays off)."""
    store = spark._jsparkSession.sharedState().statusStore()
    recent = store.executionsList(max(0, store.executionsCount() - 20), 20)
    for i in range(recent.size() - 1, -1, -1):
        e = recent.apply(i)
        if e.description() == group:
            return e.physicalPlanDescription()
    return ""


def guard(op, plan: str) -> None:
    missing = [m for m in op.markers if m not in plan]
    if missing:
        raise GuardError(f"{op.name}: executed plan lacks {missing}")


def execute(spark, op, group: str, collect: bool):
    """Run one op under job group ``group``; returns (seconds, output).
    Collect mode returns the output as pandas after checking the planned
    operators; noop mode checks the executed plan after the write."""
    import workloads as wl

    spark.sparkContext.setJobGroup(group, group)
    if op.prepare:
        op.prepare()
    t0 = time.perf_counter()
    df = op.build()
    out = None
    if df is not None:
        if collect:
            guard(op, df._jdf.queryExecution().executedPlan().toString())
            out = df.toPandas()
        else:
            wl.noop(df)
    dt = time.perf_counter() - t0
    if df is not None and not collect:
        guard(op, executed_plan(spark, group))
    return dt, out


class Tally:
    """Op executions attempted and failed, by op name."""

    def __init__(self) -> None:
        self.attempted: dict[str, int] = defaultdict(int)
        self.raised: dict[str, int] = defaultdict(int)

    def run(self, fn, name: str):
        self.attempted[name] += 1
        try:
            return fn()
        except Exception:
            self.raised[name] += 1
            log(f"op {name} failed:\n{traceback.format_exc()}")
            return None


def timed_pass(spark, mix, tag: str, tally: Tally, op_times) -> float:
    t0 = time.perf_counter()
    for op in mix:
        r = tally.run(lambda: execute(spark, op, f"{tag}:{op.name}", collect=False), op.name)
        if r is not None:
            op_times[op.name].append(r[0])
    return time.perf_counter() - t0


def traced_pass(spark, workload, run, mix, tr, tag: str, tally: Tally, counts: dict) -> float:
    with tr.span("pass", tag) as root:
        for op in mix:
            op_id = f"{tag}:{op.name}"

            def go():
                spark.sparkContext.setJobGroup(op_id, op_id)
                if op.prepare:
                    op.prepare()
                with tr.span(f"op.{op.name}", op_id):
                    workload.traced_op(run, op, tr, op_id, counts)

            tally.run(go, op.name)
    return root["end"] - root["start"]


def layer_times(tr, tag: str) -> tuple[dict[str, float], float, float]:
    """Per-layer span time of one traced pass, plus the pass's self time
    inside layer spans and outside them (root and op glue)."""
    self_t = tr.self_times()
    spans = [s for s in tr.spans if s["op_id"] == tag or s["op_id"].startswith(tag + ":")]
    layers: dict[str, float] = defaultdict(float)
    layer_self = glue = 0.0
    for s in spans:
        if s["name"] == "pass" or s["name"].startswith("op."):
            glue += self_t[s["id"]]
        else:
            layers[s["name"] + "_s"] += s["end"] - s["start"]
            layer_self += self_t[s["id"]]
    return layers, layer_self, glue


def median_of(dicts: list[dict]) -> dict[str, float]:
    keys = {k for d in dicts for k in d}
    return {k: statistics.median(d.get(k, 0.0) for d in dicts) for k in keys}


def stop_session(spark) -> None:
    """Stop Spark and the JVM it runs in, and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except Exception:
                proc.kill()
                proc.wait(timeout=30)


def engine_metrics(log_dir: str, passes: int) -> tuple[dict, dict]:
    """``spark.*`` metrics: per untraced pass, the event-log records of its
    ops summed; the median over passes.  Also returns the per-op records."""
    import eventlog

    groups = eventlog.per_group(eventlog.read_events(log_dir))
    per_pass = []
    for i in range(passes):
        recs = [r for g, r in groups.items() if g.startswith(f"u{i}:")]
        if recs:
            per_pass.append(eventlog.summarize(recs))
    engine = median_of(per_pass) if per_pass else {}
    return {f"spark.{k}": float(v) for k, v in engine.items()}, groups


def measure(args, workload, run, tally: Tally, trace: bool) -> dict:
    """Set up, warm up, run the timed (and traced) passes and the probes."""
    import workloads as wl
    from sketches_go_spark.plans.session import get_spark

    t_setup = time.perf_counter()
    spark = run.spark = get_spark(cores=run.facts["cores"], extra_conf=session_conf(run.work, trace))
    spark.sparkContext.setLogLevel("ERROR")
    m = {"session_start_s": time.perf_counter() - t_setup, "jvm_pid": spark.sparkContext._gateway.proc.pid}
    workload.open(run)
    outputs = m["outputs"] = {}
    m["warmup_op_s"] = {}
    for op in workload.mix(run):
        r = tally.run(lambda: execute(spark, op, f"w:{op.name}", collect=True), op.name)
        if r is not None:
            m["warmup_op_s"][op.name], outputs[op.name] = r
    workload.after_warmup(run)
    mix = m["mix"] = workload.mix(run)
    # a second pass into the noop sink: the JIT keeps warming for several
    # passes after the first, and the timed passes should not ride that slope
    timed_pass(spark, mix, "w2", tally, defaultdict(list))
    m["setup_s"] = time.perf_counter() - t_setup

    op_times = m["op_times"] = defaultdict(list)
    pass_times = m["pass_times"] = []
    traced_times, layer_runs, counts = [], [], {}
    tr = wl.Tracer()
    # An untraced run takes the median of at least three passes, so that one
    # pass slowed by a burst of steal on a shared host does not set it.  A
    # traced run pairs each untraced pass with a traced one and needs one pair.
    min_passes = 1 if trace else 3
    deadline = time.perf_counter() + args.seconds
    p = 0
    while True:
        pass_times.append(timed_pass(spark, mix, f"u{p}", tally, op_times))
        if trace:
            traced_times.append(traced_pass(spark, workload, run, mix, tr, f"t{p}", tally, counts))
            layer_runs.append(layer_times(tr, f"t{p}"))
        p += 1
        if p >= min_passes and time.perf_counter() >= deadline:
            break
    if not trace:
        return m

    probe_tr = wl.Tracer()
    layer = median_of([lt for lt, _, _ in layer_runs])
    layer.update({k: float(v) for k, v in counts.items()})
    layer.update(tally.run(lambda: workload.probes(run, probe_tr, outputs), "probes") or {})

    def core():
        from probe import core_metrics

        return core_metrics(*workload.core_inputs(run, outputs))

    layer.update(tally.run(core, "core_probe") or {})
    layer["sources.input_rows"] = float(run.facts["input_rows"])
    layer["sources.input_bytes"] = float(run.facts["input_bytes"])
    if counts.get("ddsketch_fns.partial_blobs"):
        layer["ddsketch_fns.combine_ratio"] = counts["ddsketch_fns.groups"] / counts["ddsketch_fns.partial_blobs"]
    untraced, traced = statistics.median(pass_times), statistics.median(traced_times)
    layer["trace.untraced_pass_s"] = untraced
    layer["trace.pass_s"] = traced
    layer["trace.overhead_s"] = traced - untraced
    layer["trace.layer_self_s"] = statistics.median(ls for _, ls, _ in layer_runs)
    layer["trace.glue_s"] = statistics.median(g for _, _, g in layer_runs)
    m["layer"], m["spans"] = layer, tr.spans + probe_tr.spans
    return m


def main(argv=None) -> int:
    args = parse_args(argv)
    root = os.getcwd()
    if args.write_benchmark_json:
        with open(os.path.join(root, "BENCHMARK.json"), "w") as f:
            json.dump(spec.benchmark_json(), f, indent=2)
            f.write("\n")
        return 0
    if not os.path.isdir(os.path.join(root, "sketches_go_spark")):
        log("run from the repository root: sketches_go_spark/ is not here")
        return 2
    sys.path.insert(0, root)

    import host
    import workloads as wl
    from reference import ALPHA, References

    if args.workload not in wl.WORKLOADS:
        log(f"unknown workload {args.workload!r}; one of {sorted(wl.WORKLOADS)}")
        return 2
    workload = wl.WORKLOADS[args.workload]
    trace = bool(args.trace)
    tag = uuid.uuid4().hex
    base = os.path.join(root, ".perfbench_work")
    work = os.path.join(base, f"{workload.name}-{args.seed}-{tag[:8]}")
    isolate(root, work, tag)
    cpu0 = host.cpu_times()
    t_run = time.perf_counter()

    # inputs and references, outside every timed figure
    paths, facts = workload.make_inputs(args.seed, work)
    facts["nproc"] = host.nproc()
    facts["cores"] = min(spec.CORES, facts["nproc"])
    db = References(paths, args.seed, work, os.path.join(base, "refcache"))
    refs = {k: db.query(sql) for k, sql in workload.reference_sqls().items()}
    run = wl.Run(None, work, paths, facts=facts)
    tally = Tally()
    gates, peak = {}, (0.0, 0.0, 0.0)
    try:
        m = measure(args, workload, run, tally, trace)
        try:
            # correctness, outside the timed region
            gates = workload.check(run, m["outputs"], refs, db)
        except Exception:
            log(f"correctness check raised:\n{traceback.format_exc()}")
        peak = host.peak_rss_mb(m["jvm_pid"])
    finally:
        if run.spark is not None:
            stop_session(run.spark)
        db.close()
        killed = host.reap(tag)
    steal = host.steal_pct(cpu0, host.cpu_times())

    failed = 0
    for name, n in tally.attempted.items():
        gate = gates.get(name)
        failed += n if (name in workload.metrics and (gate is None or not gate.ok)) else tally.raised[name]
    attempted = sum(tally.attempted.values())
    errs = [g.max_rel_err for g in gates.values() if g.max_rel_err is not None]
    max_rel_err = max(errs) if errs else None
    correct = failed == 0 and len(gates) == len(workload.metrics) and all(g.ok for g in gates.values())
    if max_rel_err is not None and max_rel_err > ALPHA:
        correct = False

    rows_per_pass = sum(op.rows for op in m["mix"])
    e2e = {
        "setup_s": m["setup_s"],
        "rows_per_s": rows_per_pass / statistics.median(m["pass_times"]),
        "peak_rss_mb": peak[0],
    }
    op_times = m["op_times"]
    reported = {name: statistics.median(op_times[o]) for o, name in workload.metrics.items() if op_times[o]}
    if max_rel_err is not None:
        reported["max_rel_err"] = max_rel_err
    reported["failed_frac"] = failed / attempted

    record = {
        "workload": workload.name,
        "seed": args.seed,
        "trace": trace,
        "nproc": facts["nproc"],
        "cores": facts["cores"],
        "steal_pct": steal,
        "input_rows": facts["input_rows"],
        "input_bytes": facts["input_bytes"],
        "rows_per_pass": rows_per_pass,
        "read_write_ratio": getattr(workload, "rollups", None),
        "session_start_s": m["session_start_s"],
        "warmup_op_s": m["warmup_op_s"],
        "passes": len(m["pass_times"]),
        "pass_s": m["pass_times"],
        "op_s": dict(op_times),
        "peak_rss_mb": dict(zip(("total", "jvm", "python_worker"), peak)),
        "gates": {k: repr(v) for k, v in gates.items()},
        "killed_pids": killed,
        "run_wall_s": time.perf_counter() - t_run,
        "end_to_end": e2e,
        "reported": reported,
    }
    layer = {}
    if trace:
        engine, groups = engine_metrics(os.path.join(work, "eventlog"), len(m["pass_times"]))
        layer = {**m["layer"], **engine}
        record.update(per_layer=layer, spans=m["spans"], event_log=groups)
    os.makedirs(os.path.join(base, "records"), exist_ok=True)
    kind = "trace" if trace else "e2e"
    rec_path = os.path.join(base, "records", f"{workload.name}-{args.seed}-{kind}-{tag[:8]}.json")
    with open(rec_path, "w") as f:
        json.dump(record, f, indent=1, default=float)
    shutil.rmtree(work, ignore_errors=True)

    units = {n: u for n, u, *_ in spec.END_TO_END} | dict(spec.REPORTED)
    print(f"workload {workload.name}  seed {args.seed}  nproc {facts['nproc']}  cores {facts['cores']}  steal {steal:.2f}%  "
          f"passes {len(m['pass_times'])}  input rows {facts['input_rows']}  "
          f"read:write {record['read_write_ratio'] or 'n/a'}  record {os.path.relpath(rec_path, root)}")
    for name, gate in gates.items():
        print(f"  check {name}: {'ok' if gate.ok else 'FAILED'} ({gate.detail})")
    if trace:
        # end-to-end figures never come from a traced run
        metrics = {n: {"value": float(layer.get(n, 0.0)), "unit": u} for n, u, _ in spec.PER_LAYER}
    else:
        metrics = {n: {"value": float(v), "unit": units[n]} for n, v in {**e2e, **reported}.items()}
    for name, mv in metrics.items():
        print(f"  {name} = {mv['value']:.6g} {mv['unit']}")
    if not trace:
        metrics = {n: metrics[n] for n, *_ in spec.END_TO_END}
    print(json.dumps({"correct": bool(correct), "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
