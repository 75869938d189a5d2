"""Benchmark of record for the PageRank engine and its dedup operators.

    python3 perfbench/run.py --workload pagerank_s1 --seed 1 --seconds 10 --trace 0

Generates seeded inputs (cached by shape and seed, outside the timed
region), runs one workload's job through the engine's public entry points
in fresh Spark processes on local[<cores>], checks every output against
an independent numpy oracle, and prints as its last stdout line one JSON
object {correct, attempted, failed, metrics}. ``--trace 0`` reports the
end-to-end metrics, ``--trace 1`` the per-layer metrics of a traced run.
``--workload all`` runs every workload in turn, one result line each.
Exits non-zero when an output check fails or the engine is missing.
See perfbench/README.md for workloads, metrics and layers.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
from pathlib import Path

import numpy as np

import checks
import inputs

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
WORK = ROOT / ".bench_work"
PACKAGE = ROOT / "pagerank_giraph_vs_mapreduce_spark"

# Environment the program already reads. The default core count (32) and
# driver heap (16g) exceed small hosts; scratch stays inside the checkout.
DRIVER_MEM = "4g"

# A web-Google (S1) shaped graph at 1/8 of its 875,713 V / 5,105,039 E,
# so that every run of every workload fits the time budget. out_sigma and
# in_zipf are tuned so the degree skewness (out / in) lands near
# web-Google's 5.05 / 73.82 (BASELINE.md); the dangling share is a choice
# that exercises the dangling-mass path, not a web-Google figure.
S1_SHAPE = {
    "name": "web-Google-eighth",
    "vertices": 109_464,
    "edges": 638_130,
    "dangling": 0.1,
    "out_sigma": 1.0,
    "in_zipf": 0.637,
}
CORPUS_SHAPE = {
    "docs": 4_000, "chars": 1_000, "dup_share": 0.2, "sub_rate": 0.05, "vocab": 5_000,
    "files": 8,
}

WORKLOADS = {
    # run.main's positional contract: maxIter damping threshold minIter
    "pagerank_s1": {"kind": "pagerank", "shape": S1_SHAPE, "cli_args": [100, 0.85, 1e-8, 5]},
    "dedup_minhash": {"kind": "dedup", "shape": CORPUS_SHAPE, "threshold": 0.8},
}

# Wall times follow the host: on a shared VM whose virtual CPUs the host
# takes away for minutes at a time, they spread by a third across runs.
# CPU time does not count that stolen time, so the bounded job metric is
# CPU time; the wall times are reported per layer (README.md).
END_TO_END = {
    "setup_s": "s",
    "job_cpu_s": "s",
    "recall": "fraction",
}
PER_LAYER = {
    "wall.job_s": "s",
    "wall.load_s": "s",
    "wall.superstep_s": "s",
    "session.get_spark_s": "s",
    "session.gc_s": "s",
    "session.peak_heap_mb": "MB",
    "edgelist.lines": "count",
    "edgelist.edges": "count",
    "edgelist.input_mb": "MB",
    "edgelist.scan_task_s": "s",
    "build.wall_s": "s",
    "build.task_s": "s",
    "build.shuffle_write_mb": "MB",
    "build.spill_mb": "MB",
    "build.cached_mb": "MB",
    "build.dedup_ratio": "fraction",
    "pagerank.init_s": "s",
    "pagerank.iterations": "count",
    "superstep.compute_s": "s",
    "superstep.task_s": "s",
    "superstep.shuffle_write_mb": "MB",
    "superstep.plan_s": "s",
    "superstep.stats_s": "s",
    "superstep.jobs": "count",
    "superstep.tasks": "count",
    "superstep.core_util": "fraction",
    "sink.wall_s": "s",
    "sink.task_s": "s",
    "sink.output_mb": "MB",
    "dedup.signature_s": "s",
    "dedup.candidates_s": "s",
    "dedup.verify_s": "s",
    "dedup.task_s": "s",
    "dedup.shuffle_write_mb": "MB",
    "dedup.spill_mb": "MB",
    "dedup.candidates": "count",
    "dedup.pairs": "count",
    "dedup.precision": "fraction",
    "trace.overhead_s": "s",
}

# Set-up is measured in this many fresh processes per run: probes that
# stop once ready, then the process that runs the job.
SETUP_SAMPLES = 2
DEADLINE_S = 170.0  # a run must end within 180 s


def worker_env() -> dict:
    tmp = WORK / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=str(WORK / "spark-local"),
        TMPDIR=str(tmp),
        JAVA_TOOL_OPTIONS=f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
        PYTHONUNBUFFERED="1",
    )
    env.pop("SPARK_GRAFT_CHECKPOINT_DIR", None)
    return env


class WorkerError(RuntimeError):
    pass


def run_worker(args: list[str], deadline: float, log: Path) -> tuple[float, dict | None]:
    """Run worker.py in its own process group; returns (seconds from launch
    to its ready line, its result). A probe is stopped at its ready line,
    any other worker at its result line: by then its outputs are written,
    and the session's graceful stop would only add unmeasured seconds to
    the run. Every process of the group has ended when this returns."""
    cmd = [sys.executable, str(HERE / "worker.py"), *args]
    probe = args[:2] == ["--mode", "probe"]
    with open(log, "ab") as err:
        t0 = time.perf_counter()
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=worker_env(), stdout=subprocess.PIPE,
            stderr=err, start_new_session=True, text=True,
        )
        # A hung worker is killed at the deadline, which ends the read loop.
        timer = threading.Timer(
            max(1.0, deadline - time.monotonic()), _kill, (proc.pid, signal.SIGKILL)
        )
        timer.start()
        ready, result = None, None
        try:
            for line in proc.stdout:
                if line == "ready\n" and ready is None:
                    ready = time.perf_counter() - t0
                    if probe:
                        break
                elif line.startswith("result "):
                    result = json.loads(line[len("result "):])
                    break
        finally:
            timer.cancel()
            _kill(proc.pid, signal.SIGKILL)
            proc.stdout.close()
            _reap(proc)
    if ready is None or (result is None and not probe):
        raise WorkerError(f"worker {args[:2]} exited {proc.returncode}; see {log}")
    return ready, result


def _kill(pgid: int, sig: int) -> None:
    try:
        os.killpg(pgid, sig)
    except ProcessLookupError:
        pass


def _reap(proc: subprocess.Popen) -> None:
    """Wait until the worker and the JVM it launched have both ended."""
    proc.wait()
    end = time.monotonic() + 30.0
    while time.monotonic() < end:
        try:
            os.killpg(proc.pid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.02)


def prepare(name: str, seed: int) -> dict:
    w = WORKLOADS[name]
    spec = {"kind": w["kind"], "cli_args": w.get("cli_args"), "threshold": w.get("threshold")}
    if w["kind"] == "pagerank":
        path = inputs.generate(WORK / "inputs", "graph", w["shape"], seed)
        spec["input"] = str(path / "edges.txt")
    else:
        path = inputs.generate(WORK / "inputs", "corpus", w["shape"], seed)
        spec["corpus"] = str(path / "corpus")
    spec["dir"] = str(path)
    return spec


def check(spec: dict, out: Path) -> tuple[list[str], float]:
    d = Path(spec["dir"])
    if spec["kind"] == "pagerank":
        max_iter, damping, tol, min_iter = spec["cli_args"]
        ids, pr = checks.pagerank_oracle(
            np.load(d / "src.npy"), np.load(d / "dst.npy"),
            damping, max_iter, tol, min_iter,
        )
        return checks.check_pagerank(out, ids, pr)
    return checks.check_near_dups(out / "pairs", d, spec["threshold"])


def run_workload(name: str, seed: int, seconds: int, trace: bool) -> dict:
    deadline = time.monotonic() + DEADLINE_S
    spec = prepare(name, seed)
    out = WORK / "out" / name
    # Killed workers leave Spark scratch behind; runs never overlap.
    for d in (out, WORK / "spark-local", WORK / "tmp"):
        shutil.rmtree(d, ignore_errors=True)
    out.mkdir(parents=True)
    log = WORK / f"{name}.log"
    log.write_text("")
    common = ["--spec", json.dumps(spec)]

    problems: list[str] = []
    attempted = failed = 0
    setups: list[float] = []
    passes: list[dict] = []
    traced = None
    try:
        if not trace:
            for _ in range(SETUP_SAMPLES - 1):
                setups.append(run_worker(["--mode", "probe"], deadline, log)[0])
        ready, plain = run_worker(
            ["--mode", "plain", "--out", str(out / "plain"),
             "--seconds", str(0 if trace else seconds), *common],
            deadline, log,
        )
        setups.append(ready)
        passes = plain["passes"]
        if trace:
            _, traced = run_worker(
                ["--mode", "traced", "--out", str(out / "traced"), *common],
                deadline, log,
            )
            passes = passes + traced["passes"]
    except (WorkerError, json.JSONDecodeError, KeyError, TypeError) as exc:
        problems.append(str(exc))
        attempted, failed = attempted + 1, failed + 1

    recalls = []
    for p in passes:
        attempted += 1
        try:
            bad, recall = check(spec, Path(p["out"]))
        except (OSError, ValueError, KeyError) as exc:
            bad, recall = [f"unreadable output: {exc}"], 0.0
        if bad:
            failed += 1
            problems.extend(bad)
        recalls.append(recall)

    metrics = {}
    if trace and traced is not None:
        untraced, traced_pass = passes[0], passes[-1]
        layers = dict.fromkeys(PER_LAYER, 0.0)
        layers.update(traced["layers"])
        for k in ("job_s", "load_s", "superstep_s"):
            layers[f"wall.{k}"] = untraced[k]
        layers["trace.overhead_s"] = traced_pass["job_s"] - untraced["job_s"]
        metrics = {k: {"value": layers[k], "unit": u} for k, u in PER_LAYER.items()}
        tdir = WORK / "trace"
        tdir.mkdir(exist_ok=True)
        (tdir / f"{name}-seed{seed}.json").write_text(
            json.dumps({"workload": name, "seed": seed, "spans": traced["spans"]}, indent=1)
        )
    elif passes and setups:
        def med(k):
            return statistics.median(p[k] for p in passes)

        values = {
            "setup_s": statistics.median(setups),
            "job_cpu_s": med("job_cpu_s"),
            "recall": statistics.median(recalls),
        }
        for k in ("job_s", "load_s", "superstep_s"):
            print(f"{name:14s} wall.{k:23s} {med(k):14.6f} s", file=sys.stderr)
        metrics = {k: {"value": values[k], "unit": u} for k, u in END_TO_END.items()}
    for p in problems:
        print(f"{name}: CHECK FAILED: {p}", file=sys.stderr)
    return {
        "correct": not problems and bool(metrics),
        "attempted": max(attempted, 1),
        "failed": failed,
        "metrics": metrics,
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, default=5)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    if not (PACKAGE / "run.py").is_file():
        print(f"error: engine package not found at {PACKAGE}", file=sys.stderr)
        return 2

    names = list(WORKLOADS) if a.workload == "all" else [a.workload]
    ok = True
    for name in names:
        res = run_workload(name, a.seed, a.seconds, bool(a.trace))
        for k, m in res["metrics"].items():
            print(f"{name:14s} {k:28s} {m['value']:14.6f} {m['unit']}", file=sys.stderr)
        print(json.dumps(res), flush=True)
        ok = ok and res["correct"]
    return 0 if ok else 1


if __name__ == "__main__":
    raise SystemExit(main())
