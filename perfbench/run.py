#!/usr/bin/env python3
"""Repository benchmark: one workload, one process, one result line.

    python3 perfbench/run.py --workload crawl_discover --seed 1 --seconds 5 --trace 0

Run from the repository root. The last line of stdout is a JSON object
with ``correct``, ``attempted``, ``failed`` and ``metrics``: with
``--trace 0`` the end-to-end metrics of BENCHMARK.json, with ``--trace 1``
its per-layer metrics. The lines before it name every metric of the
workload (including the workload-specific ones) with its unit; the full
report also lands in ``.perfbench_out/``. The exit code is non-zero when
an output check fails or an operation raises. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
import traceback
from contextlib import nullcontext

HERE = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("crawl_discover", "fetch_prep")
SETUP_REPS = 3
PACKAGE = "commoncrawl_fetcher_lite_spark"


def workload_class(name: str):
    if name == "crawl_discover":
        from crawl import CrawlWorkload

        return CrawlWorkload
    from fetch_prep import FetchPrepWorkload

    return FetchPrepWorkload


def run_ops(wl, tracer, seconds: float, trace: bool) -> tuple[list[dict], int]:
    """Closed loop: ops back to back until `seconds` have passed (and at
    least the workload's minimum). A traced run alternates untraced and
    traced ops, so the two walls give the tracing overhead."""
    from harness import OpTimer

    ops: list[dict] = []
    failed = 0
    # traced runs: untraced, traced, untraced — the untraced median then
    # sits at the traced op's point of the JVM's warming
    min_ops = max(wl.min_ops, 3 if trace else 1)
    t_start = time.perf_counter()
    i = 0
    while i < min_ops or time.perf_counter() - t_start < seconds:
        traced = trace and i % 2 == 1
        timer = OpTimer(tracer, traced)
        try:
            ctx = tracer.op(i, traced) if tracer else nullcontext()
            with ctx:
                t0 = time.perf_counter()
                out = wl.op(i, timer)
                wall = time.perf_counter() - t0
            wl.after_op(i, out)
        except Exception:
            traceback.print_exc()
            failed += 1
            break  # the workload's state is unknown after a failed op
        ops.append({"i": i, "wall": wall, "items": out["items"], "timed_s": out["timed_s"],
                    "parts": timer.parts, "traced": traced})
        i += 1
    return ops, failed


def generic_layers(tracer, folded: dict, ops: list[dict], cores: int) -> dict:
    """The per-layer metrics every workload reports (BENCHMARK.json)."""
    from layertrace import idle_time, parse_desc

    traced = [o for o in ops if o["traced"]]
    idx = {o["i"] for o in traced}
    n = max(len(traced), 1)
    tot = {"jobs": 0, "tasks": 0, "executor_s": 0.0, "shuffle_write_bytes": 0,
           "shuffle_read_bytes": 0}
    for desc, t in folded["by_desc"].items():
        p = parse_desc(desc)
        if p is None or p[0] not in idx or p[1] == "trace.count":
            continue
        for k in tot:
            tot[k] += t[k]
    wall = 0.0  # the row counts the tracer adds are left out of busy time
    idle = []
    for o in traced:
        spans = tracer.op_spans(o["i"])
        op = next(s for s in spans if s["name"] == "op")
        wall += o["wall"] - sum(s["end"] - s["start"] for s in spans
                                if s["name"] == "trace.count")
        idle.append(idle_time(folded["tasks"], op["wall_start"], op["wall_end"]))
    untraced = [o["wall"] for o in ops if not o["traced"]]
    return {
        "trace_overhead_ratio": (statistics.median(o["wall"] for o in traced)
                                 / statistics.median(untraced), "ratio"),
        "spark_jobs_per_op": (tot["jobs"] / n, "count"),
        "tasks_per_op": (tot["tasks"] / n, "count"),
        "executor_s_per_op": (tot["executor_s"] / n, "s"),
        "busy_ratio": (tot["executor_s"] / (wall * cores), "ratio"),
        "shuffle_write_bytes_per_op": (tot["shuffle_write_bytes"] / n, "B"),
        "shuffle_read_bytes_per_op": (tot["shuffle_read_bytes"] / n, "B"),
        "executor_idle_s_per_op": (statistics.median(idle), "s"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, PACKAGE)):
        print(f"perfbench: no {PACKAGE} package in {root}; run from the "
              "repository root", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2

    from harness import (MemSampler, box_cores, prepare_workdir, start_spark,
                         stop_spark, WORK_DIRNAME)

    trace = bool(args.trace)
    cls = workload_class(args.workload)
    cores = cls.task_slots(box_cores())
    work = prepare_workdir(root)
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                    "box_cores": box_cores(), "cores": cores}
    checks: list[tuple[str, bool, str]] = []
    failed = 0
    ops: list[dict] = []
    digest = None
    with MemSampler() as mem:
        t0 = time.perf_counter()
        spark = start_spark(root, work, trace, cores)
        report["session_start_s"] = time.perf_counter() - t0
        tracer = None
        try:
            wl = cls(spark, work, args.seed, cores)
            if trace:
                from layertrace import Tracer

                tracer = Tracer(spark)
                tracer.install(wl.checkpoint_names)
            setups = []
            for _ in range(SETUP_REPS):
                t0 = time.perf_counter()
                wl.setup()
                setups.append(time.perf_counter() - t0)
            report["setup_reps_s"] = setups
            # the rest of the warm-up, untimed: JIT-compiles the JVM's hot
            # paths and compiles the generated code of the plans the ops run
            # that set-up did not (a set-up that runs program code warms
            # that code, and its cost counts in setup_s)
            t0 = time.perf_counter()
            wl.warmup()
            report["warmup_s"] = time.perf_counter() - t0
            ops, failed = run_ops(wl, tracer, args.seconds, trace)
            if ops and not failed:
                try:
                    checks, digest = wl.finish()
                except Exception:
                    traceback.print_exc()
                    checks = [("output checks ran", False, "raised")]
        finally:
            if tracer is not None:
                tracer.uninstall()
            stop_spark(spark)
    report["peak_pss_mb"] = mem.peak / 2**20

    correct = bool(ops) and not failed and bool(checks) and all(ok for _, ok, _ in checks)
    for name, ok, detail in checks:
        print(f"# check {'PASS' if ok else 'FAIL'}: {name} ({detail})")
    print(f"# digest {args.workload} seed={args.seed}: {digest}")
    report["checks"] = [{"name": n, "ok": ok, "detail": d} for n, ok, d in checks]
    report["digest"] = digest
    report["ops"] = ops

    metrics: dict = {}
    if ops and not failed:
        if trace:
            from layertrace import fold_event_log

            folded = fold_event_log(os.path.join(work, "events"))
            gated = generic_layers(tracer, folded, ops, cores)
            named = wl.layers(tracer, folded, ops, cores)
            report["layers"] = named
            for k, (v, unit) in named.items():
                print(f"# layer {k} = {_fmt(v)} {unit}")
        else:
            gated = {
                "items_per_s": (statistics.median(o["items"] / o["timed_s"] for o in ops),
                                "item/s"),
                "peak_pss_mb": (report["peak_pss_mb"], "MB"),
                "out_bytes_per_item": (wl.out_bytes_per_item(), "B/item"),
                "setup_s": (statistics.median(report["setup_reps_s"]), "s"),
            }
            named = {
                **wl.named(ops),
                "op_p50_s": (statistics.median(o["timed_s"] for o in ops), "s"),
                "warmup_s": (report["warmup_s"], "s"),
                "session_start_s": (report["session_start_s"], "s"),
            }
            report["named"] = named
            for k, (v, unit) in named.items():
                print(f"# metric {k} = {_fmt(v)} {unit}")
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in gated.items()}
        for k, v in metrics.items():
            print(f"# {k} = {_fmt(v['value'])} {v['unit']}")

    import shutil

    shutil.rmtree(os.path.join(root, WORK_DIRNAME), ignore_errors=True)
    out_dir = os.path.join(root, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(os.path.join(out_dir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
              "w") as f:
        json.dump(report, f, indent=1, default=str)
    # an op that raised is failed; when an output check fails, every op
    # of the run counts as failed (the checks cover the run's output)
    n_failed = failed + (0 if correct else len(ops))
    print(json.dumps({"correct": correct, "attempted": len(ops) + failed,
                      "failed": n_failed, "metrics": metrics}))
    return 0 if correct else 1


def _fmt(v) -> str:
    return "n/a" if v is None else (f"{v:.6g}" if isinstance(v, float) else str(v))


if __name__ == "__main__":
    sys.exit(main())
