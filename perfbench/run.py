"""Benchmark entry point for the dedup engine.

    python3 perfbench/run.py --workload lsh_distinct --seed 1 --seconds 10 --trace 0

runs one workload on ``local[nproc]`` from this process and prints, as
its last stdout line, one JSON object ``{"correct", "attempted",
"failed", "metrics"}``. With ``--trace 0`` the metrics are the
end-to-end ones; with ``--trace 1`` Spark's event log is written to the
run's work directory and parsed after the session stops into the
per-layer metrics. ``--workload all`` runs every workload in its own
process, untraced and then traced, and prints one table.

The package is imported from the checkout that holds this directory;
the run reads and writes only inside that checkout (work files go to
``.perfbench_work/`` and are removed at exit).
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "imageduplicatefinder_spark"

# reported with --trace 0, on every workload. Op walls follow the CPU
# time a shared host's hypervisor steals (about +3% of wall per 1% of
# host CPU stolen, with steal reaching 20-30% for minutes at a time), so
# they are printed but not gated; CPU seconds move about a quarter as
# much.
END_TO_END = {
    "cpu_s": "s",
    "python_peak_rss_mb": "MB",
    "setup_s": "s",
}
# printed and in the detail line, on the workloads they apply to
EXTRA_UNITS = {
    "wall_s": "s",
    "docs_per_s": "docs/s",
    "query_geomean_s": "s",
    "batch_p50_s": "s",
    "batch_p90_s": "s",
    "resume_s": "s",
    "ckpt_bytes_per_input_byte": "ratio",
    "peak_rss_mb": "MB",
    "failed_frac": "ratio",
}


def per_layer_units() -> dict[str, str]:
    """Every per-layer metric name with its unit (--trace 1)."""
    from workloads import QUERY_NAMES, STAGES

    units = {}
    for st in STAGES:
        units.update({
            f"{st}.wall_s": "s", f"{st}.task_s": "s", f"{st}.rows": "count",
            f"{st}.shuffle_bytes": "B", f"{st}.skew": "ratio",
            f"{st}.ckpt_bytes": "B",
        })
    units.update({
        "signatures.python_bytes": "B",
        "edges.driver_result_bytes": "B",
        "edges.yield": "ratio",
        "candidates.pairs_per_doc": "pairs/doc",
        "components.jobs": "count",
        "id_check.wall_s": "s",
        "id_check.task_s": "s",
        "resume.jobs": "count",
    })
    for q in QUERY_NAMES:
        units.update({f"q.{q}.wall_s": "s", f"q.{q}.task_s": "s",
                      f"q.{q}.jobs": "count", f"q.{q}.shuffle_bytes": "B"})
    units.update({
        "stream.wall_s": "s",
        "stream.add_batch_s": "s", "stream.overhead_s": "s",
        "stream.jobs": "count", "stream.task_s": "s",
        "stream.shuffle_bytes": "B", "stream.driver_result_bytes": "B",
        "trace.wall_s": "s",
    })
    return units


def _quantile(values: list[float], q: float) -> float:
    """Nearest-rank quantile of a non-empty list."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, math.ceil(q * len(s)) - 1))]


def _driver_memory_gb() -> int:
    """Explicit driver heap below host RAM: a quarter of MemTotal,
    clamped to 2-8 GB."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(2, min(8, kb // (4 * 1024 * 1024)))


def start_session(workload: str, work: str, nproc: int, trace: bool):
    from imageduplicatefinder_spark.session import get_spark

    tmp = os.path.join(work, "tmp")
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + log_dir,
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(app_name=f"perfbench-{workload}",
                     master=f"local[{nproc}]", shuffle_partitions=nproc,
                     extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark, then the gateway JVM, and wait until it has exited:
    the JVM quits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    gateway.shutdown()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def layer_metrics(groups: dict, ops: list) -> dict[str, float]:
    """Per-layer values from a traced run: each name's median over the
    timed ops (stream batches pooled over ops). A layer the workload
    never calls reads 0."""
    from eventlog import by_group
    from workloads import QUERY_NAMES, STAGES

    vals: dict[str, list] = defaultdict(list)
    for res in ops:
        def g(layer, tag=res.tag):
            return by_group(groups, f"{tag}:{layer}")

        for st in STAGES:
            s = g(st)
            ran = st in res.layer_wall
            vals[f"{st}.wall_s"].append(res.layer_wall.get(st, 0.0))
            vals[f"{st}.task_s"].append(s.task_s)
            vals[f"{st}.rows"].append(res.rows.get(st, 0))
            vals[f"{st}.shuffle_bytes"].append(s.shuffle_bytes)
            vals[f"{st}.skew"].append(s.skew if ran else 0.0)
            vals[f"{st}.ckpt_bytes"].append(res.ckpt_bytes.get(st, 0))
        cands = res.rows.get("candidates", 0)
        vals["signatures.python_bytes"].append(g("signatures").python_bytes)
        vals["edges.driver_result_bytes"].append(
            g("edges").driver_result_bytes)
        vals["edges.yield"].append(
            res.rows.get("edges", 0) / cands if cands else 0.0)
        vals["candidates.pairs_per_doc"].append(
            cands / res.docs if res.rows else 0.0)
        vals["components.jobs"].append(g("components").jobs)
        idc = g("id_check")
        vals["id_check.wall_s"].append(idc.span_s)
        vals["id_check.task_s"].append(idc.task_s)
        vals["resume.jobs"].append(g("resume").jobs)
        for q in QUERY_NAMES:
            s = g(f"q.{q}")
            vals[f"q.{q}.wall_s"].append(res.layer_wall.get(f"q.{q}", 0.0))
            vals[f"q.{q}.task_s"].append(s.task_s)
            vals[f"q.{q}.jobs"].append(s.jobs)
            vals[f"q.{q}.shuffle_bytes"].append(s.shuffle_bytes)
        vals["stream.wall_s"].append(res.layer_wall.get("stream", 0.0))
        run_id = res.extra.get("stream_run_id")
        for b in res.extra.get("batches", ()):
            s = groups.get((run_id, str(b["batch_id"])))
            if s is None:
                continue
            vals["stream.add_batch_s"].append(b["add_batch_s"])
            vals["stream.overhead_s"].append(b["trigger_s"] - b["add_batch_s"])
            vals["stream.jobs"].append(s.jobs)
            vals["stream.task_s"].append(s.task_s)
            vals["stream.shuffle_bytes"].append(s.shuffle_bytes)
            vals["stream.driver_result_bytes"].append(s.driver_result_bytes)
        vals["trace.wall_s"].append(res.wall_s)
    return {name: statistics.median(vals[name]) if vals[name] else 0.0
            for name in per_layer_units()}


def measure(args, work: str, nproc: int) -> dict:
    from eventlog import event_log_file, parse_file
    from procstat import (
        RssSampler,
        host_delta,
        host_snapshot,
        tree_cpu_s,
    )
    from workloads import WORKLOADS, Ctx, OpResult

    pid = os.getpid()
    host_before = host_snapshot()
    t0 = time.monotonic()
    spark = start_session(args.workload, work, nproc, args.trace)
    session_s = time.monotonic() - t0
    try:
        ctx = Ctx(spark, work, args.seed, nproc)
        wl = WORKLOADS[args.workload]()
        t0 = time.monotonic()
        wl.build(ctx, ctx.path("input"))
        build_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.load(ctx)
        load_s = time.monotonic() - t0
        t0 = time.monotonic()
        wl.warm(ctx)
        warm_s = time.monotonic() - t0
        setup = {"session_s": session_s, "build_s": build_s,
                 "load_s": load_s, "warm_s": warm_s}

        # memory is sampled during ops only, not during the checks
        sampler = RssSampler(pid)
        ops, cpu, problems = [], [], {}
        window_before, window_cpu = host_snapshot(), tree_cpu_s(pid)
        t_window = time.monotonic()
        while True:
            tag = f"op{len(ops)}"
            cpu0, t_op = tree_cpu_s(pid), time.monotonic()
            try:
                with sampler:
                    res = wl.op(ctx, tag)
                errs = []
            except Exception as exc:  # noqa: BLE001 - counted as failed
                traceback.print_exc()
                res = OpResult(tag, wall_s=time.monotonic() - t_op)
                errs = [f"raised {type(exc).__name__}: {exc}"]
            cpu.append(tree_cpu_s(pid) - cpu0)
            if not errs:
                try:
                    errs = wl.check(ctx, res)
                except Exception as exc:  # noqa: BLE001 - counted as failed
                    traceback.print_exc()
                    errs = [f"check raised {type(exc).__name__}: {exc}"]
            ops.append(res)
            if errs:
                problems[tag] = errs
            elapsed = time.monotonic() - t_window
            if elapsed + res.wall_s > args.seconds:
                break
        host_after = host_snapshot()
        window = host_delta(window_before, host_after,
                            tree_cpu_s(pid) - window_cpu)
    finally:
        stop_session(spark)

    walls = [r.wall_s for r in ops]
    metrics = {
        "cpu_s": statistics.median(cpu),
        "python_peak_rss_mb": sampler.peak_python / 2**20,
        "setup_s": sum(setup.values()),
    }
    extra = {"wall_s": statistics.median(walls),
             "docs_per_s": statistics.median(r.docs / r.wall_s for r in ops),
             "failed_frac": len(problems) / len(ops),
             "peak_rss_mb": sampler.peak / 2**20}
    for key in ("query_geomean_s", "resume_s", "ckpt_bytes_per_input_byte"):
        got = [r.extra[key] for r in ops if key in r.extra]
        if got:
            extra[key] = statistics.median(got)
    batch = [b["trigger_s"] for r in ops for b in r.extra.get("batches", ())]
    if batch:
        extra["batch_p50_s"] = statistics.median(batch)
        extra["batch_p90_s"] = _quantile(batch, 0.9)
    out = {
        "workload": args.workload, "seed": args.seed, "nproc": nproc,
        "trace": args.trace, "ops": len(ops), "op_wall_s": walls,
        "op_cpu_s": cpu, "setup": setup, "extra": extra,
        "jvm_peak_rss_mb": sampler.peak_jvm / 2**20,
        "problems": problems,
        "host": {"before": host_before, "after": host_after,
                 **host_delta(host_before, host_after), "window": window},
        "metrics": metrics,
    }
    if args.trace:
        groups = parse_file(event_log_file(os.path.join(work, "eventlog")))
        out["layers"] = layer_metrics(groups, ops)
    return out


def run_one(args) -> int:
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"error: package {PACKAGE!r} not found next to {HERE}",
              file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # set before the JVM and its Python workers start: workers import
    # the package from any cwd, shuffle files stay in the checkout
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_DRIVER_MEM"] = f"{_driver_memory_gb()}g"
    sys.path.insert(0, ROOT)
    try:
        out = measure(args, work, nproc)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass

    if args.trace:
        units = per_layer_units()
        metrics = {k: {"value": v, "unit": units[k]}
                   for k, v in out["layers"].items()}
    else:
        metrics = {k: {"value": v, "unit": END_TO_END[k]}
                   for k, v in out["metrics"].items()}
    for name, m in metrics.items():
        print(f"{args.workload:20s} {name:40s} {m['value']:14.4f} {m['unit']}")
    for name, v in out["extra"].items():
        print(f"{args.workload:20s} {name:40s} {v:14.4f} {EXTRA_UNITS[name]}")
    verdict = "correct" if not out["problems"] else f"FAILED {out['problems']}"
    print(f"{args.workload:20s} {'verdict':40s} {verdict}")
    print("detail " + json.dumps(out))
    print(json.dumps({
        "correct": not out["problems"],
        "attempted": out["ops"],
        "failed": len(out["problems"]),
        "metrics": metrics,
    }))
    return 0


def _child(args, workload: str, trace: int) -> dict | None:
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "--workload", workload,
         "--seed", str(args.seed), "--seconds", str(args.seconds),
         "--trace", str(trace)],
        capture_output=True, text=True, timeout=900, cwd=ROOT)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or len(lines) < 2:
        sys.stderr.write(proc.stderr[-4000:])
        print(f"{workload}: run failed (exit {proc.returncode})")
        return None
    return json.loads(lines[-2][len("detail "):])


def run_all(args) -> int:
    """Every workload, untraced then traced, each in its own process."""
    from workloads import STAGES, WORKLOADS

    ok = True
    for name in WORKLOADS:
        plain = _child(args, name, 0)
        traced = _child(args, name, 1)
        if plain is None or traced is None:
            ok = False
            continue
        verdict = "correct" if not plain["problems"] else "FAILED"
        ok &= not plain["problems"] and not traced["problems"]
        print(f"== {name} (seed {args.seed}, {plain['ops']} timed ops, "
              f"{verdict}; host load {plain['host']['before']['loadavg'][0]}, "
              f"steal {plain['host']['steal_frac']})")
        for k, unit in END_TO_END.items():
            print(f"  {k:28s} {plain['metrics'][k]:14.4f} {unit}")
        for k, v in plain["extra"].items():
            print(f"  {k:28s} {v:14.4f} {EXTRA_UNITS[k]}")
        layers = traced["layers"]
        overhead = layers["trace.wall_s"] - plain["extra"]["wall_s"]
        print(f"  {'tracing overhead':28s} {overhead:14.4f} s "
              "(traced wall_s minus untraced)")
        stage_sum = sum(layers[f"{st}.wall_s"] for st in STAGES)
        if stage_sum:
            covered = stage_sum + layers["stream.wall_s"]
            print(f"  {'stage+stream walls / wall':28s} "
                  f"{covered / layers['trace.wall_s']:14.4f} ratio "
                  f"(id_check span {layers['id_check.wall_s']:.3f} s overlaps)")
        busy = {k: v for k, v in layers.items() if v and k != "trace.wall_s"}
        print("  layers: " + json.dumps(
            {k: round(v, 4) for k, v in busy.items()}))
    return 0 if ok else 1


def main(argv=None) -> int:
    sys.path.insert(0, HERE)
    from workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    raise SystemExit(main())
