"""One workload in one fresh Spark process; ``run.py`` starts it.

A restarted SparkContext keeps the JVM, and with it the heap and JIT
state of the last run, so every set-up measurement and every workload
run gets a process of its own.

Modes:
  setup  build the session and scan the inputs, then report setup_s;
  run    also run WARMUP passes, then timed passes until their walls
         sum to --seconds (at least MIN_TIMED), checking every pass;
  trace  event log on; WARMUP passes, an untraced pass, then a traced
         pass, and the per-layer metrics of the traced pass.

The result is written as JSON to --out.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import time
import traceback

WARMUP = 1
MIN_TIMED = 2


def _pass(wl, out: str) -> dict:
    """One pass: timed run, then (untimed) check and clean-up."""
    t = time.perf_counter()
    try:
        result = wl.run_pass(out)
        wall = time.perf_counter() - t
        error = wl.check(out, result)
    except Exception:  # a failing pass is counted, and the run goes on
        wall = time.perf_counter() - t
        error = traceback.format_exc(limit=3)
    shutil.rmtree(out, ignore_errors=True)
    return {"wall": wall, "error": error}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("setup", "run", "trace"), required=True)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--inputs", required=True, help="JSON {table: path}")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--spawn", type=float, required=True,
                    help="time.time() just before this process was started")
    ap.add_argument("--deadline", type=float, required=True,
                    help="time.time() by which the last pass must have ended")
    ap.add_argument("--work", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    paths = json.loads(a.inputs)

    extra = None
    if a.mode == "trace":
        log_dir = os.path.join(a.work, "eventlog")
        os.makedirs(log_dir)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": "file://" + log_dir,
        }

    from deepseek_ocr_spark.session import get_spark

    t = time.perf_counter()
    spark = get_spark(parallelism=a.cores, extra_conf=extra)
    get_spark_s = time.perf_counter() - t
    frames = {name: spark.read.parquet(p) for name, p in paths.items()}
    for df in frames.values():
        df.count()
    res: dict = {"setup_s": time.time() - a.spawn}
    if a.mode == "setup":
        _write(a.out, res)  # the caller kills the session's processes
        return

    from workloads import JOB_LAYERS, WORKLOADS

    wl = WORKLOADS[a.workload](spark, paths, frames, a.seed)

    def out(i: int) -> str:
        return os.path.join(a.work, f"pass{i}")

    passes = []
    if a.mode == "run":
        timed = 0.0
        while len(passes) < WARMUP + MIN_TIMED or timed < a.seconds:
            if passes and time.time() + 1.5 * passes[-1]["wall"] > a.deadline:
                break  # a slow machine gets fewer passes, not a killed run
            p = _pass(wl, out(len(passes)))
            if len(passes) >= WARMUP:
                timed += p["wall"]
            passes.append(p)
        rates = [wl.records / p["wall"] for p in passes[WARMUP:] if p["error"] is None]
        if rates:
            res["docs_per_s"] = statistics.median(rates)
    else:
        from tracing import Tracer, layer_metrics, read_groups, unaccounted_share

        passes = [_pass(wl, out(i)) for i in range(WARMUP + 1)]
        untraced = passes[-1]["wall"]
        traced_out = out(len(passes))
        tracer = Tracer(pass_id=f"{a.workload}-seed{a.seed}")
        with tracer.span("pass") as root:
            try:
                error = wl.traced_pass(traced_out, tracer)
            except Exception:  # reported like a failing pass
                error = traceback.format_exc(limit=3)
        passes.append({"wall": root.wall, "error": error})
        shutil.rmtree(traced_out, ignore_errors=True)
        spark.stop()
        tracer.dump(os.path.join(a.work, "spans.json"))
        m = layer_metrics(tracer.spans, read_groups(log_dir), a.cores, JOB_LAYERS)
        m["session.get_spark.wall_s"] = get_spark_s
        replay = sum(s.wall for s in tracer.spans if s.name in wl.REPLAY)
        m["trace.overhead_ratio"] = replay / untraced
        m["trace.unaccounted_share"] = unaccounted_share(root, tracer.spans)
        res["layers"] = m
    res["passes"] = passes
    _write(a.out, res)


def _write(path: str, res: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(res, f, indent=1)
    os.rename(path + ".tmp", path)


if __name__ == "__main__":
    main()
