"""Run one benchmark workload and print its result as one JSON line.

    python3 perfbench/run.py --workload xor_build --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. ``--trace 0`` sets up, submits ops for
``--seconds`` and prints the end-to-end metrics. ``--trace 1`` sets up
with the Spark event log on, alternates untraced and traced ops (a fixed
number, whatever ``--seconds`` says), times the other workload's layers
on the same corpus, makes the direct layer calls and prints the
per-layer metrics; it also writes its spans, per-span Spark counters and
self times to ``perfbench/_traces/``. A human-readable summary goes to
stderr; stdout carries only the JSON line.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import asdict

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(BENCH_DIR))

from perfbench import env  # noqa: E402

# a run times at least this many ops, whatever --seconds says: a sketch op
# takes about 5 s at local[4]
MIN_OPS = 5
# the traced run's own op order: untraced (U) and traced (T) ops
# alternate so JIT warm-up within the run favours neither
TRACED_ORDER = "UTTU"
# metric names, units and workloads are declared once, in BENCHMARK.json
SPEC_PATH = os.path.join(os.path.dirname(BENCH_DIR), "BENCHMARK.json")
SPARK_METRICS = ("executor_cpu_s", "executor_run_s", "shuffle_write_bytes",
                 "shuffle_read_bytes", "spill_bytes", "tasks", "task_skew",
                 "cpu_busy_ratio")
# task-level counters kept in the trace file only: local mode never
# fetches remotely, and task GC time is the JVM's, counted once per task
SPARK_TRACE_ONLY = ("gc_s", "fetch_wait_s")


def load_spec() -> dict:
    with open(SPEC_PATH) as f:
        return json.load(f)


def parse_args(argv, spec: dict):
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", required=True,
                   choices=[w["name"] for w in spec["workloads"]])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def median(xs) -> float:
    return float(statistics.median(xs))


class Loop:
    """Attempted and failed op counts, with the failure messages."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0
        self.messages: list[str] = []

    def fail(self, messages: list[str]) -> None:
        self.failed += 1
        self.messages += messages
        for m in messages:
            print(f"FAILED: {m}", file=sys.stderr)

    def check(self, call):
        """Count one gated call, returning ``(value, failures)``, as an op."""
        self.attempted += 1
        value, failures = call()
        if failures:
            self.fail(failures)
        return value

    def warm_up(self, wl, spark) -> None:
        """Open the inputs in ``spark`` and run the workload's warm-up ops;
        their gates count like any other op's."""
        wl.bind(spark)
        for i in range(-wl.warm_up_ops, 0):
            self.check(lambda: (None, wl.op(spark, i).failures))


def run_op(wl, spark, i: int, loop: Loop, tracer=None):
    """Submit op ``i`` and return ``(OpResult, stages, root span)``, or
    None if it raised. A traced op runs its staged prefixes after the
    library calls. An op whose gates fail still did its work, so it is
    returned and timed; its failures count in ``loop``."""
    loop.attempted += 1
    try:
        if tracer is None:
            res, stages, root = wl.op(spark, i), None, None
        else:
            with tracer.span("op", op=i) as root:
                res = wl.op(spark, i, tracer)
                stages = wl.stages(spark, tracer, i)
    except Exception:  # an op that raises is a failed op; keep going
        traceback.print_exc()
        loop.fail([f"{wl.name} op {i} raised"])
        return None
    if res.failures:
        loop.fail(res.failures)
    return res, stages, root


def run_loop(wl, spark, seconds: float, min_ops: int, loop: Loop) -> list:
    """Submit untraced ops one after another for ``seconds`` (at least
    ``min_ops``); return every op that returned."""
    done = []
    end = time.perf_counter() + seconds
    i = 0
    while i < min_ops or time.perf_counter() < end:
        out = run_op(wl, spark, i, loop)
        if out is not None:
            done.append(out[0])
        i += 1
    if not done:
        raise RuntimeError(f"every {wl.name} op raised")
    return done


def traced_ops(wl, spark, tracer, loop: Loop, order: str, first: int) -> tuple:
    """Run ops in ``order`` (``U`` untraced, ``T`` traced); return the
    untraced results and the traced ``(OpResult, stages, root)`` tuples."""
    plain, traced = [], []
    for k, kind in enumerate(order):
        out = run_op(wl, spark, first + k, loop,
                     tracer if kind == "T" else None)
        if out is not None:
            (traced if kind == "T" else plain).append(out)
    if not traced:
        raise RuntimeError(f"every traced {wl.name} op raised")
    return [r for r, _, _ in plain], traced


def op_split(wl, tracer, groups, passed) -> dict:
    """Median per-layer split of traced ops ``passed`` of workload ``wl``."""
    from perfbench import spans

    splits = []
    for res, stages, root in passed:
        map_walls = {s.name: spans.span_stats(tracer, groups, s).first_stage_wall()
                     for s in tracer.children(root) if not s.attrs.get("staged")}
        splits.append({
            "sources.scan_rows_per_s": stages["scan_rows"] / stages["scan"],
            **wl.split(stages, res, map_walls),
        })
    return {k: median(d[k] for d in splits) for k in splits[0]}


def traced_run(wl, work: str, loop: Loop) -> dict:
    """Set up with the event log on, then alternate untraced and traced
    ops, time the other workload's layers on this corpus, and make the
    direct layer calls. Returns the per-layer metrics and trace details."""
    from perfbench import layers, spans
    from perfbench.workloads import WORKLOADS, throughput

    log_dir = os.path.join(work, "eventlog")
    spark = env.spark_session(work, event_log_dir=log_dir)
    tracer = spans.Tracer(spark.sparkContext)
    direct = {}
    try:
        wl.generate()
        loop.warm_up(wl, spark)
        jvm = env.JvmMemory(spark)
        jvm.reset_peak()
        gc0 = jvm.gc_s()
        with env.RssSampler() as rss:
            plain, passed = traced_ops(wl, spark, tracer, loop, TRACED_ORDER, 0)
        memory = {
            "jvm.gc_s": (jvm.gc_s() - gc0) / len(TRACED_ORDER),
            "jvm.old_gen_peak_mb": jvm.old_gen_peak_bytes() / 2**20,
            "python.workers_peak_rss_mb": rss.peak_python_bytes / 2**20,
        }
        # the other workload's op, staged the same way, over this corpus;
        # its first run warms its code paths and only the second counts
        other = next(c for n, c in WORKLOADS.items() if n != wl.name)(
            wl.seed, work)
        other.adopt(wl)
        with tracer.span("layers.other_workload"):
            other.bind(spark)
            _, other_passed = traced_ops(other, spark, tracer, loop, "TT",
                                         len(TRACED_ORDER))
        keys = wl.keys
        for name, call in (
            ("layers.direct", lambda: layers.direct_calls(keys)),
            ("layers.probe", lambda: layers.probe_calls(
                spark, tracer, os.path.join(work, "probe"), keys, wl.rng)),
            ("layers.pipeline", lambda: layers.pipeline_calls(
                spark, os.path.join(work, "pipeline"), keys)),
        ):
            with tracer.span(name):
                direct.update(loop.check(call))
    finally:
        env.end_jvm()

    lines = []
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            lines += f.readlines()
    groups = spans.parse_event_log(lines)

    per_op = []
    for res, _, root in passed:
        # Spark counters of the library calls only, not the staged prefixes
        lib = spans.GroupStats()
        for s in tracer.children(root):
            if not s.attrs.get("staged"):
                lib.add(spans.span_stats(tracer, groups, s))
        per_op.append({"wall": res.wall,
                       **{f"spark.{k}": v for k, v in lib.metrics().items()}})

    metrics = {
        **op_split(other, tracer, groups, other_passed[-1:]),
        **op_split(wl, tracer, groups, passed),
        **direct,
        **memory,
        "op.wall_s": median(o["wall"] for o in per_op),
        **{f"spark.{k}": median(o[f"spark.{k}"] for o in per_op)
           for k in SPARK_METRICS},
        "trace.overhead_ratio": (throughput(plain)
                                 / throughput([r for r, _, _ in passed]) - 1),
    }
    spans_out = [{**asdict(s), "self_s": tracer.self_time(s),
                  "spark": spans.span_stats(tracer, groups, s).metrics()}
                 for s in tracer.spans]
    accounted = [sum(x["self_s"] for x in spans_out if x["op"] == root.op)
                 / root.dur for _, _, root in passed]
    return {
        "metrics": metrics,
        "details": {
            **{f"spark.{k}": median(o[f"spark.{k}"] for o in per_op)
               for k in SPARK_TRACE_ONLY},
            "untraced_op_walls_s": [r.wall for r in plain],
            "traced_op_walls_s": [r.wall for r, _, _ in passed],
            "self_time_accounted_share": median(accounted),
        },
        "spans": spans_out,
    }


def declared(values: dict, specs: list[dict]) -> dict:
    """Exactly the declared metrics, in declared order, with their units."""
    missing = [m["name"] for m in specs if m["name"] not in values]
    if missing:
        raise RuntimeError(f"declared metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in specs}


def measured_run(wl, work: str, seconds: float, loop: Loop) -> dict:
    """Set up, then submit untraced ops for ``seconds``; the end-to-end
    metrics and the run's context."""
    from perfbench.workloads import median_info, throughput

    with env.RssSampler() as rss:
        try:
            t = time.perf_counter()
            spark = env.spark_session(work)
            session_s = time.perf_counter() - t
            t = time.perf_counter()
            wl.generate()
            gen_s = time.perf_counter() - t
            t = time.perf_counter()
            loop.warm_up(wl, spark)
            warm_s = time.perf_counter() - t
            ops = run_loop(wl, spark, seconds, MIN_OPS, loop)
        finally:
            env.end_jvm()
    e2e = {
        "setup_s": session_s + gen_s + warm_s,
        "keys_per_s": throughput(ops),
        "peak_rss_mb": rss.peak_bytes / 2**20,
        "bits_per_key": median_info(ops, "bits_per_key"),
    }
    return {
        "session_s": session_s,
        "generate_s": gen_s,
        "warm_up_s": warm_s,
        "ops": len(ops),
        "op_walls_s": [r.wall for r in ops],
        "end_to_end": {**e2e, wl.metric: e2e["keys_per_s"],
                       **{k: median_info(ops, k) for k in wl.extra_metrics}},
        "metrics": e2e,
    }


def run(args, work: str, spec: dict) -> tuple[dict, dict]:
    from perfbench.workloads import WORKLOADS

    wl = WORKLOADS[args.workload](args.seed, work)
    loop = Loop()
    cpu0 = env.cpu_times()
    if args.trace:
        part = traced_run(wl, work, loop)
        out = declared(part.pop("metrics"), spec["per_layer"])
    else:
        part = measured_run(wl, work, args.seconds, loop)
        out = declared(part.pop("metrics"), spec["end_to_end"])
    report = {
        "workload": wl.name,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "cores": env.CORES,
        "steal_share": env.steal_share(cpu0, env.cpu_times()),
        "attempted": loop.attempted,
        "failed": loop.failed,
        "failed_op_ratio": loop.failed / loop.attempted,
        "failures": loop.messages,
        "metrics": {k: v["value"] for k, v in out.items()},
        **part,
    }
    result = {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": out,
    }
    return result, report


def print_summary(report: dict) -> None:
    err = sys.stderr
    print(f"== {report['workload']} seed={report['seed']} "
          f"trace={report['trace']} steal={report['steal_share']:.1%} "
          f"cores={report['cores']}", file=err)
    if "session_s" in report:
        print(f"  set-up: session {report['session_s']:.2f} s, inputs "
              f"{report['generate_s']:.2f} s, warm-up "
              f"{report['warm_up_s']:.2f} s", file=err)
        print(f"  op walls: {' '.join(f'{w:.3f}' for w in report['op_walls_s'])}"
              " s", file=err)
    for section in ("metrics", "end_to_end", "details"):
        for k, v in report.get(section, {}).items():
            if isinstance(v, (int, float)):
                print(f"  {section}: {k:45s} {v:14.6g}", file=err)
    print(f"  failed_op_ratio {report['failed_op_ratio']:.6g} "
          f"({report['failed']}/{report['attempted']})", file=err)


def main(argv=None) -> int:
    spec = load_spec()
    args = parse_args(argv, spec)
    work = os.path.join(BENCH_DIR, "_work",
                        f"{args.workload}-seed{args.seed}-{os.getpid()}")
    env.prepare_process(work)
    try:
        result, report = run(args, work, spec)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if args.trace:
        out = os.path.join(BENCH_DIR, "_traces")
        os.makedirs(out, exist_ok=True)
        with open(os.path.join(out, f"{args.workload}-seed{args.seed}.json"),
                  "w") as f:
            json.dump(report, f, indent=1)
    print_summary(report)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
