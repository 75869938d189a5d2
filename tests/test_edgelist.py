"""S1-S3/P1 edge-list parsing + end-to-end CLI file contract (SURVEY §5.2 items 1, 6)."""

from __future__ import annotations

import glob

import pytest
from pyspark.sql import Observation

from pagerank_giraph_vs_mapreduce_spark.run import main as cli_main
from pagerank_giraph_vs_mapreduce_spark.sources.edgelist import (
    parse_edgelist,
    read_edgelist,
)

SNAP_TEXT = """\
# Directed graph (each unordered pair of nodes is saved once)
# FromNodeId\tToNodeId
1\t2
2 1

3   4
bogus line here
5\tnotanumber
2\t1
"""


def write_snap(tmp_path):
    p = tmp_path / "edges.txt"
    p.write_text(SNAP_TEXT)
    return str(p)


def test_parse_drops_comments_blanks_malformed(spark, tmp_path):
    edges = read_edgelist(spark, write_snap(tmp_path)).collect()
    pairs = sorted((r["src"], r["dst"]) for r in edges)
    # dup edge 2→1 survives parsing (dedup happens at graph build, A2)
    assert pairs == [(1, 2), (2, 1), (2, 1), (3, 4)]


def test_observe_metrics(spark, tmp_path):
    obs = Observation("dq")
    lines = spark.read.text(write_snap(tmp_path))
    parse_edgelist(lines, observation=obs).collect()
    got = obs.get
    assert got["lines_total"] == 9
    assert got["lines_comment"] == 2
    assert got["lines_blank"] == 1


def test_cli_end_to_end(spark, tmp_path):
    """SNAP text in → final_scores + top_50 + _timings.csv out (F4 contract)."""
    inp = write_snap(tmp_path)
    out = str(tmp_path / "out")
    assert cli_main([inp, out, "30", "0.85", "1e-10", "5"]) == 0

    score_files = glob.glob(f"{out}/final_scores/part-*")
    assert len(score_files) == 1
    rows = {}
    for line in open(score_files[0]):
        vid, pr = line.split("\t")
        rows[int(vid)] = float(pr)
    # graph after clean: 1↔2 cycle, 3→4; PR sums to 1
    assert abs(sum(rows.values()) - 1.0) < 1e-6
    assert rows[1] == rows[2]
    assert rows[4] > rows[3]

    top_files = glob.glob(f"{out}/top_50/part-*")
    top_lines = open(top_files[0]).read().strip().splitlines()
    assert len(top_lines) == 4  # min(K, N): graph has 4 vertices
    scores = [float(l.split("\t")[1]) for l in top_lines]
    assert scores == sorted(scores, reverse=True)

    timings = open(f"{out}/_timings.csv").read().splitlines()
    assert timings[0] == "Phase,Duration_ms"
    phases = [l.split(",")[0] for l in timings[1:]]
    # Per-phase split mirroring the reference's performance report:
    # Setup + per-superstep total/plan/compute/stats rows.
    assert phases[0] == "Setup"
    assert "Superstep_1" in phases
    assert "Superstep_1_plan" in phases
    assert "Superstep_1_compute" in phases  # CLI runs with phase_timing=True
    assert "Superstep_1_stats" in phases
    by_phase = {l.split(",")[0]: float(l.split(",")[1]) for l in timings[1:]}
    # The split phases must account for (most of) the superstep total.
    parts = (
        by_phase["Superstep_1_plan"]
        + by_phase["Superstep_1_compute"]
        + by_phase["Superstep_1_stats"]
    )
    assert 0 < parts <= by_phase["Superstep_1"] * 1.01

    report = open(f"{out}/performance_report.txt").read()
    assert "PageRank Performance Report" in report
    assert "setup (graph build):" in report
    assert "Iteration  Total_ms" in report


def test_cli_missing_input_is_a_clean_error(spark, tmp_path, capsys):
    missing = str(tmp_path / "absent.txt")
    assert cli_main([missing, str(tmp_path / "out")]) == 1
    assert capsys.readouterr().out.strip() == (
        f"error: input path not found: {missing}"
    )


@pytest.mark.parametrize(
    "pos,bad", [(2, "ten"), (3, "0.85x"), (4, "tiny"), (5, "5.5"), (6, "w"), (7, "")]
)
def test_cli_rejects_non_numeric_args(tmp_path, capsys, pos, bad):
    """A malformed maxIter/damping/threshold/minIter/worker argument is a
    one-line error and exit code 2, not a traceback."""
    argv = [write_snap(tmp_path), str(tmp_path / "out"), "30", "0.85", "1e-10", "5", "1", "2"]
    argv[pos] = bad
    assert cli_main(argv) == 2
    lines = capsys.readouterr().out.strip().splitlines()
    assert len(lines) == 1 and lines[0].startswith("error: "), lines
