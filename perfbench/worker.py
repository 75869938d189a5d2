"""One benchmark process: start a Spark session, run a workload's job
through the engine's public entry points, report timings as JSON.

Started by run.py, never by hand. Protocol on stdout: a ``ready`` line
once the session has completed a first trivial action (run.py times
set-up from process launch to this line), then one ``result <json>``
line. Everything the engine prints goes to stderr.

Modes:
  probe   set up, signal ready
  plain   closed loop: repeat the job until ``seconds`` have passed
          (at least once), one job at a time, no tracing
  traced  the job once, as spans around each public call, with Spark
          status-store and JVM counters read at every span boundary
"""

from __future__ import annotations

import argparse
import contextlib
import csv
import inspect
import json
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from pagerank_giraph_vs_mapreduce_spark import run as cli  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.graph.builder import build_graph  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.graph.pagerank import pagerank  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.operators.dedup import (  # noqa: E402
    jaccard_pairs,
    lsh_candidate_pairs,
    lsh_candidate_pairs_star,
    minhash_near_dups,
    minhash_signatures,
    shingle_code_array,
)
from pagerank_giraph_vs_mapreduce_spark.session import get_spark  # noqa: E402
from pagerank_giraph_vs_mapreduce_spark.sources.edgelist import (  # noqa: E402
    parse_edgelist,
    read_edgelist,
)
from pagerank_giraph_vs_mapreduce_spark.sources.sinks import (  # noqa: E402
    write_final_scores,
    write_performance_report,
    write_timings_csv,
    write_top_k,
)
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from pyspark.storagelevel import StorageLevel  # noqa: E402
from sparkstats import SparkCounters, Tracer, totals  # noqa: E402

MB = 1e6


def emit(line: str) -> None:
    sys.__stdout__.write(line + "\n")
    sys.__stdout__.flush()


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process and by its Spark JVM, user and
    system. A guest kernel does not count time the host took the virtual
    CPU away (steal) as CPU time, so this does not follow the host's load
    the way wall time does."""
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    # /proc/<pid>/stat: utime and stime are fields 14 and 15, in ticks;
    # the command name (field 2) may hold spaces, so split after it.
    fields = Path(f"/proc/{pid}/stat").read_text().rsplit(")", 1)[1].split()
    ticks = int(fields[11]) + int(fields[12])
    return time.process_time() + ticks / os.sysconf("SC_CLK_TCK")


def du(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def read_timings(path: Path) -> tuple[float, list[float]]:
    """(Setup seconds, [Superstep_i seconds]) from the CLI's _timings.csv."""
    setup, steps = 0.0, []
    with open(path) as fh:
        for phase, ms in csv.reader(fh):
            if phase == "Setup":
                setup = float(ms) / 1000.0
            elif phase.startswith("Superstep_") and phase.count("_") == 1:
                steps.append(float(ms) / 1000.0)
    return setup, steps


# ---------------------------------------------------------------- plain


def plain_pagerank(spark, spec: dict, out: Path) -> dict:
    args = [spec["input"], str(out)] + [str(a) for a in spec["cli_args"]]
    c0, t0 = cpu_seconds(spark), time.perf_counter()
    rc = cli.main(args)
    job = time.perf_counter() - t0
    cpu = cpu_seconds(spark) - c0
    if rc != 0:
        raise RuntimeError(f"run.main returned {rc}")
    load, steps = read_timings(out / "_timings.csv")
    return {"job_s": job, "job_cpu_s": cpu, "load_s": load, "superstep_s": statistics.median(steps)}


def plain_dedup(spark, spec: dict, out: Path) -> dict:
    c0, t0 = cpu_seconds(spark), time.perf_counter()
    docs = spark.read.parquet(spec["corpus"])
    pairs = minhash_near_dups(docs, "doc_id", "text", threshold=spec["threshold"])
    pairs.write.mode("overwrite").parquet(str(out / "pairs"))
    job = time.perf_counter() - t0
    cpu = cpu_seconds(spark) - c0
    spark.catalog.clearCache()
    # One fused pass reads, shingles and verifies: it is both the load
    # phase and the single compute pass.
    return {"job_s": job, "job_cpu_s": cpu, "load_s": job, "superstep_s": job}


def run_plain(spark, spec: dict, out: Path, seconds: float) -> dict:
    job = plain_pagerank if spec["kind"] == "pagerank" else plain_dedup
    passes = []
    start = time.perf_counter()
    while not passes or time.perf_counter() - start < seconds:
        pass_out = out / f"p{len(passes)}"
        with contextlib.redirect_stdout(sys.stderr):
            m = job(spark, spec, pass_out)
        m["out"] = str(pass_out)
        passes.append(m)
    return {"passes": passes}


# --------------------------------------------------------------- traced


def superstep_split(tr: Tracer, res, cores: int) -> dict:
    """Per-superstep means over the stages and jobs submitted after the
    kernel's init (the `Setup` phase the kernel reports) ended."""
    span = tr.get("pagerank")
    boundary_ms = (span.wall_start + res.build_seconds) * 1000.0
    c = tr.counters
    stages = [s for s in c.stages[span.stage_lo : span.stage_hi] if s.submitted_ms >= boundary_ms]
    jobs = [j for j in c.jobs[span.job_lo : span.job_hi] if j[1] >= boundary_ms]
    t = totals(stages)
    it = max(res.iterations, 1)
    hist = res.history
    step_wall = sum(h.seconds for h in hist)
    return {
        "superstep.compute_s": statistics.fmean(h.compute_seconds for h in hist),
        "superstep.plan_s": statistics.fmean(h.plan_seconds for h in hist),
        "superstep.stats_s": statistics.fmean(h.stats_seconds for h in hist),
        "superstep.task_s": t["executorRunTime"] / 1000.0 / it,
        "superstep.shuffle_write_mb": t["shuffleWriteBytes"] / MB / it,
        "superstep.jobs": len(jobs) / it,
        "superstep.tasks": t["numCompleteTasks"] / it,
        "superstep.core_util": t["executorRunTime"] / 1000.0 / (step_wall * cores),
    }


def traced_pagerank(spark, tr: Tracer, spec: dict, out: Path, cores: int) -> dict:
    inp = spec["input"]
    max_iter, damping, tol, min_iter = spec["cli_args"]
    with tr.span("job"):
        with tr.span("read_edgelist"):
            edges = read_edgelist(spark, inp)
            edges.first()
        # One observed full scan, so the edge-list layer's own work is
        # measured apart from the build that consumes it.
        with tr.span("parse_edgelist"):
            obs = Observation("edgelist")
            n_edges = parse_edgelist(spark.read.text(inp), obs).count()
            n_lines = obs.get["lines_total"]
        with tr.span("build_graph"):
            g = build_graph(edges)
        cached = tr.counters.cached_bytes()
        with tr.span("pagerank"):
            res = pagerank(
                edges,
                damping=float(damping),
                max_iter=int(max_iter),
                tol=float(tol),
                min_iter=int(min_iter),
                graph=g,
                phase_timing=True,
            )
        sinks = ("write_final_scores", "write_top_k", "write_timings_csv",
                 "write_performance_report")
        with tr.span(sinks[0]):
            write_final_scores(res.ranks, f"{out}/final_scores", coalesce=1)
        with tr.span(sinks[1]):
            write_top_k(res.ranks, f"{out}/top_50", k=50)
        with tr.span(sinks[2]):
            write_timings_csv(res, f"{out}/_timings.csv")
        with tr.span(sinks[3]):
            write_performance_report(res, f"{out}/performance_report.txt")
        g.unpersist()

    scan = totals(tr.stages("read_edgelist", "parse_edgelist"))
    build = totals(tr.stages("build_graph"))
    sink = totals(tr.stages(*sinks))
    m = {
        "edgelist.lines": n_lines,
        "edgelist.edges": n_edges,
        "edgelist.input_mb": scan["inputBytes"] / MB,
        "edgelist.scan_task_s": scan["executorRunTime"] / 1000.0,
        "build.wall_s": tr.get("build_graph").seconds,
        "build.task_s": build["executorRunTime"] / 1000.0,
        "build.shuffle_write_mb": build["shuffleWriteBytes"] / MB,
        "build.spill_mb": build["diskBytesSpilled"] / MB,
        "build.cached_mb": cached / MB,
        "build.dedup_ratio": g.n_edges / max(n_edges, 1),
        "pagerank.init_s": res.build_seconds,
        "pagerank.iterations": res.iterations,
        "sink.wall_s": sum(tr.get(s).seconds for s in sinks),
        "sink.task_s": sink["executorRunTime"] / 1000.0,
        "sink.output_mb": du(out) / MB,
    }
    m.update(superstep_split(tr, res, cores))
    return m


def near_dup_defaults() -> dict:
    """minhash_near_dups' own defaults, so the traced stages run the same
    pipeline as the plain job."""
    params = inspect.signature(minhash_near_dups).parameters
    return {k: p.default for k, p in params.items() if p.default is not p.empty}


def traced_dedup(spark, tr: Tracer, spec: dict, out: Path, cores: int) -> dict:
    threshold = spec["threshold"]
    d = near_dup_defaults()
    n_hashes, shingle_len, bands = d["n_hashes"], d["shingle_len"], d["bands"]
    gen = lsh_candidate_pairs_star if d["star"] else lsh_candidate_pairs
    with tr.span("job"):
        with tr.span("read_corpus"):
            docs = spark.read.parquet(spec["corpus"]).persist(StorageLevel.MEMORY_AND_DISK)
            docs.count()
        # The stages minhash_near_dups fuses, called one public function at
        # a time and materialised in between, so each has its own span.
        # The code array feeds the verify stage; minhash_signatures
        # shingles again on its own, so its span is the whole signature
        # stage (one shingling pass plus the hashing), as in the fused job.
        with tr.span("shingle_code_array"):
            arr = shingle_code_array(docs, "doc_id", "text", shingle_len).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            arr.count()
        with tr.span("minhash_signatures"):
            sigs = minhash_signatures(docs, "doc_id", "text", n_hashes, shingle_len).persist(
                StorageLevel.MEMORY_AND_DISK
            )
            sigs.count()
        with tr.span("lsh_candidate_pairs"):
            # minhash_near_dups splits the signature into bands the same way.
            cands = gen(sigs, bands, n_hashes // bands).persist(StorageLevel.MEMORY_AND_DISK)
            n_cands = cands.count()
        with tr.span("jaccard_pairs"):
            sh = arr.select("id", F.explode("codes").alias("code"))
            pairs = jaccard_pairs(sh, cands).filter(F.col("jaccard") >= threshold)
            pairs.write.mode("overwrite").parquet(str(out / "pairs"))
        n_pairs = spark.read.parquet(str(out / "pairs")).count()
        spark.catalog.clearCache()

    stages = totals(tr.stages("minhash_signatures", "lsh_candidate_pairs", "jaccard_pairs"))
    return {
        "dedup.signature_s": tr.get("minhash_signatures").seconds,
        "dedup.candidates_s": tr.get("lsh_candidate_pairs").seconds,
        "dedup.verify_s": tr.get("jaccard_pairs").seconds,
        "dedup.task_s": stages["executorRunTime"] / 1000.0,
        "dedup.shuffle_write_mb": stages["shuffleWriteBytes"] / MB,
        "dedup.spill_mb": stages["diskBytesSpilled"] / MB,
        "dedup.candidates": n_cands,
        "dedup.pairs": n_pairs,
        "dedup.precision": n_pairs / max(n_cands, 1),
    }


def run_traced(spark, tr: Tracer, spec: dict, out: Path, cores: int) -> dict:
    counters = tr.counters = SparkCounters(spark)
    job = traced_pagerank if spec["kind"] == "pagerank" else traced_dedup
    gc0 = counters.gc_ms()
    counters.reset_peak_heap()
    with contextlib.redirect_stdout(sys.stderr):
        m = job(spark, tr, spec, out / "p0", cores)
    m["session.get_spark_s"] = tr.get("get_spark").seconds
    m["session.gc_s"] = (counters.gc_ms() - gc0) / 1000.0
    m["session.peak_heap_mb"] = counters.peak_heap_bytes() / MB
    return {
        "passes": [{"job_s": tr.get("job").seconds, "out": str(out / "p0")}],
        "layers": m,
        "spans": tr.dump(),
    }


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", choices=("probe", "plain", "traced"), required=True)
    ap.add_argument("--spec", default="{}", help="workload spec as JSON")
    ap.add_argument("--out", default="")
    ap.add_argument("--seconds", type=float, default=0.0)
    a = ap.parse_args()

    tr = Tracer()
    with tr.span("get_spark"):
        spark = get_spark()
        spark.range(1).count()
    emit("ready")
    try:
        if a.mode == "probe":
            return 0
        spec = json.loads(a.spec)
        out = Path(a.out)
        if a.mode == "plain":
            result = run_plain(spark, spec, out, a.seconds)
        else:
            # The core count the session was started with (session.py).
            cores = int(os.environ["SPARK_GRAFT_CPUS"])
            result = run_traced(spark, tr, spec, out, cores)
        emit("result " + json.dumps(result))
        return 0
    finally:
        spark.stop()


if __name__ == "__main__":
    raise SystemExit(main())
