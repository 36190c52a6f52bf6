"""Batch benchmark of the extraction engine: the extract and curate workloads.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 8 --trace 0

Run from the repository root. The last line of standard output is one
JSON object: ``correct``, ``attempted`` and ``failed`` passes, and
``metrics``. With ``--trace 0`` these are the end-to-end metrics
(docs_per_s, setup_s, peak_rss_mb); with ``--trace 1`` the per-layer
metrics of one traced pass. See README.md in this directory.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
SETUPS = 2  # sessions set up per untraced run; setup_s is their median
BUDGET_S = 165  # a run, workers included, ends this long after it starts

END_TO_END = {"docs_per_s": "docs/s", "setup_s": "s", "peak_rss_mb": "MB"}

# per-layer metrics of a traced run: the kinds that read non-zero on the
# workload where the layer does most of its work. Every workload reports
# all of them; a layer the workload never calls reads 0.
LAYER_KINDS = {
    "spans_pipeline.extract_spans": ("wall_s", "task_s", "slot_util", "rows_out"),
    "lineage.run_extract_resumable": ("wall_s", "self_s", "task_s", "slot_util", "shuffle_write_mb"),
    "extraction.extract_pdf": ("wall_s", "task_s", "slot_util", "python_s", "arrow_mb", "rows_out"),
    "sinks.write_markdown_table": ("wall_s", "task_s", "slot_util", "shuffle_write_mb"),
    "quality.redact_pii": ("wall_s", "task_s", "slot_util", "rows_out"),
    "quality.repetition_signals": ("wall_s", "task_s", "slot_util", "python_s", "arrow_mb", "rows_out"),
    "dedup.minhash_lsh_pairs": ("wall_s", "task_s", "slot_util", "python_s", "arrow_mb", "shuffle_write_mb", "rows_out"),
    "dedup.collapse_duplicates": ("wall_s", "task_s", "slot_util", "shuffle_write_mb", "rows_out"),
    "substring_dedup.suppress_duplicate_substrings": ("wall_s", "task_s", "slot_util", "python_s", "arrow_mb", "shuffle_write_mb", "rows_out"),
    "mixing.holdout_split": ("wall_s", "task_s", "slot_util", "rows_out"),
    "mixing.mix_corpus": ("wall_s", "task_s", "slot_util", "shuffle_write_mb", "rows_out"),
    "packing.pack_sequences": ("wall_s", "task_s", "slot_util", "shuffle_write_mb", "rows_out"),
    "similarity.ivf_index": ("wall_s", "task_s", "slot_util", "rows_out"),
    "similarity.ivf_probe": ("wall_s", "task_s", "slot_util", "shuffle_write_mb", "rows_out"),
    "similarity.semantic_dedup": ("wall_s", "task_s", "slot_util", "gc_s", "shuffle_write_mb", "rows_out"),
    "jobs.run_spans_job": ("wall_s", "self_s"),
    "jobs.run_pages_job": ("wall_s", "self_s"),
    "jobs.run_curation_job": ("wall_s", "self_s"),
    "jobs.run_training_prep_job": ("wall_s", "self_s"),
}
UNITS = {"rows_out": "count", "slot_util": "ratio", "arrow_mb": "MB", "shuffle_write_mb": "MB"}
PER_LAYER = {
    "session.get_spark.wall_s": "s",
    **{f"{fn}.{k}": UNITS.get(k, "s") for fn, kinds in LAYER_KINDS.items() for k in kinds},
    "trace.overhead_ratio": "ratio",
    "trace.unaccounted_share": "ratio",
}


def _fail(msg: str, code: int = 2) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def _worker(mode: str, args, paths: dict, cores: int, run_dir: str,
            deadline: float) -> tuple[dict, int]:
    """Run worker.py in a fresh session of its own; return its result and
    the peak RSS (bytes) of every process in that session."""
    from procs import PeakSampler, kill_session

    os.makedirs(run_dir)
    out = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    # the Python workers the JVM forks import the package too
    env["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, env.get("PYTHONPATH")]))
    # keep every scratch file inside the run directory, which is removed
    # at the end: a killed JVM leaves its block-manager directories behind
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env["TMPDIR"] = tmp
    env["SPARK_LOCAL_DIRS"] = tmp
    env["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"), "--mode", mode,
        "--workload", args.workload, "--inputs", json.dumps(paths),
        "--seed", str(args.seed), "--seconds", str(args.seconds),
        "--cores", str(cores), "--work", run_dir, "--out", out,
        "--deadline", repr(deadline),
    ]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd + ["--spawn", repr(time.time())], cwd=run_dir, env=env,
            stdout=log, stderr=subprocess.STDOUT, start_new_session=True,
        )
        try:
            with PeakSampler(proc.pid) as sampler:
                proc.wait(timeout=max(1.0, deadline + 5 - time.time()))
        except subprocess.TimeoutExpired:
            pass
        finally:
            kill_session(proc.pid)
            proc.wait()
    if not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            tail = f.read()[-3000:]
        _fail(f"{mode} worker produced no result (exit {proc.returncode}):\n{tail}", 1)
    with open(out) as f:
        return json.load(f), sampler.peak


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=("extract", "curate"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.time() + BUDGET_S

    if not os.path.isfile(os.path.join(ROOT, "deepseek_ocr_spark", "session.py")):
        _fail(f"the deepseek_ocr_spark package is not in {ROOT}")
    sys.path.insert(0, ROOT)
    import inputs

    paths = inputs.ensure(args.workload, args.seed, os.path.join(WORK, "inputs"))
    cores = len(os.sched_getaffinity(0))
    run_base = os.path.join(WORK, f"run-{os.getpid()}")
    try:
        if args.trace:
            res, _ = _worker("trace", args, paths, cores, run_base + "-trace", deadline)
            metrics = {k: (res["layers"].get(k, 0.0), u) for k, u in PER_LAYER.items()}
            shutil.copy(os.path.join(run_base + "-trace", "spans.json"),
                        os.path.join(WORK, f"spans-{args.workload}.json"))
        else:
            setups = [
                _worker("setup", args, paths, cores, f"{run_base}-setup{i}", deadline)[0]["setup_s"]
                for i in range(SETUPS - 1)
            ]
            res, peak = _worker("run", args, paths, cores, run_base + "-run", deadline)
            setups.append(res["setup_s"])
            values = {
                "docs_per_s": res.get("docs_per_s", 0.0),
                "setup_s": statistics.median(setups),
                "peak_rss_mb": peak / (1 << 20),
            }
            metrics = {k: (v, END_TO_END[k]) for k, v in values.items()}
    finally:
        for d in os.listdir(WORK):
            if d.startswith(f"run-{os.getpid()}"):
                shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)

    passes = res["passes"]
    failed = sum(p["error"] is not None for p in passes)
    for i, p in enumerate(passes):
        state = "ok" if p["error"] is None else "FAILED: " + p["error"].strip()
        print(f"pass {i}: {p['wall']:.3f} s, {state}")
    for name, (value, unit) in metrics.items():
        print(f"{args.workload} {name} = {value:.6g} {unit}")
    print(f"{args.workload} error_rate = {failed / len(passes):.6g} "
          f"({failed} of {len(passes)} passes)")
    print(json.dumps({
        "correct": failed == 0,
        "attempted": len(passes),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))


if __name__ == "__main__":
    main()
