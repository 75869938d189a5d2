"""Independent output checks: a vectorised PageRank oracle and exact
shingle-Jaccard recomputation, both in numpy, sharing no code with the
engine. Each check returns its problems, an empty list when the output
is correct, and the run's recall.
"""

from __future__ import annotations

import glob
import json
from pathlib import Path

import numpy as np
import pyarrow.parquet as pq

# Engine shingle code (functions/hashing.py): sum(ascii * 131^k) mod 1e9+7
# over 5-char windows, distinct per document.
SHINGLE_LEN = 5
CODE_MOD = 1_000_000_007
MULT = 131
# final_scores and top_50 print scores with %.10f.
SCORE_TOL = 0.5e-10 + 1e-13


def shingle_codes(text: str, length: int = SHINGLE_LEN) -> np.ndarray:
    c = np.frombuffer(text.encode("ascii"), dtype=np.uint8).astype(np.int64)
    n = len(c) - length + 1
    if n < 1:
        return np.empty(0, dtype=np.int64)
    code = np.zeros(n, dtype=np.int64)
    for k in range(length):
        code += c[k : k + n] * MULT ** (length - 1 - k)
    return np.unique(code % CODE_MOD)


def pagerank_oracle(
    src: np.ndarray,
    dst: np.ndarray,
    damping: float,
    max_iter: int,
    tol: float,
    min_iter: int,
) -> tuple[np.ndarray, np.ndarray]:
    """Power iteration with the engine's semantics: vertices are all ids
    seen as src or dst, duplicate edges count once, dangling mass is spread
    uniformly, stop when mean |delta| <= tol after min_iter supersteps.
    Returns (sorted ids, ranks)."""
    ids, inv = np.unique(np.concatenate([src, dst]), return_inverse=True)
    n = len(ids)
    s, d = inv[: len(src)], inv[len(src) :]
    pairs = np.unique(s.astype(np.int64) * n + d)
    s, d = pairs // n, pairs % n
    outdeg = np.bincount(s, minlength=n)
    dangling = outdeg == 0
    inv_deg = np.where(dangling, 0.0, 1.0 / np.maximum(outdeg, 1))
    pr = np.full(n, 1.0 / n)
    for it in range(1, max_iter + 1):
        contrib = np.bincount(d, weights=(pr * inv_deg)[s], minlength=n)
        new = (1.0 - damping) / n + damping * (contrib + pr[dangling].sum() / n)
        diff = np.abs(new - pr).sum() / n
        pr = new
        if it >= min_iter and diff <= tol:
            break
    return ids, pr


def _read_tsv(pattern: str) -> tuple[np.ndarray, np.ndarray]:
    ids, vals = [], []
    for f in sorted(glob.glob(pattern)):
        for line in open(f):
            a, b = line.split("\t")
            ids.append(int(a))
            vals.append(float(b))
    return np.array(ids, dtype=np.int64), np.array(vals)


def check_pagerank(
    out: Path, ids: np.ndarray, pr: np.ndarray, top: int = 50
) -> tuple[list[str], float]:
    """Compare final_scores and top_50 with the oracle's (ids, pr);
    returns (problems, top-k recall)."""
    problems = []
    got_ids, got_pr = _read_tsv(f"{out}/final_scores/part-*")
    order = np.argsort(got_ids)
    got_ids, got_pr = got_ids[order], got_pr[order]
    if not np.array_equal(got_ids, ids):
        problems.append(f"final_scores has {len(got_ids)} ids, oracle {len(ids)}")
    else:
        err = np.abs(got_pr - pr).max()
        if err > SCORE_TOL:
            problems.append(f"final_scores max |error| {err:.3e} > {SCORE_TOL:.1e}")

    top_ids, top_pr = _read_tsv(f"{out}/top_50/part-*")
    k = min(top, len(ids))
    cut = np.sort(pr)[::-1][k - 1]
    want = set(ids[pr >= cut - SCORE_TOL].tolist())
    if len(top_ids) != k:
        problems.append(f"top_50 has {len(top_ids)} rows, expected {k}")
    if not set(top_ids.tolist()) <= want:
        problems.append("top_50 holds ids outside the oracle's top 50")
    if np.any(np.diff(top_pr) > 0):
        problems.append("top_50 is not in descending score order")
    oracle_top = set(ids[np.argsort(-pr, kind="stable")[:k]].tolist())
    recall = len(oracle_top & set(top_ids.tolist())) / k
    return problems, recall


def check_near_dups(out: Path, corpus: Path, threshold: float) -> tuple[list[str], float]:
    """Recompute the exact Jaccard of every emitted pair; returns
    (problems, planted-pair recall)."""
    problems = []
    docs = pq.read_table(corpus / "corpus").to_pydict()
    text = dict(zip(docs["doc_id"], docs["text"]))
    got = pq.read_table(out).to_pydict()
    pairs = list(zip(got["id_a"], got["id_b"], got["jaccard"]))
    if len({(a, b) for a, b, _ in pairs}) != len(pairs):
        problems.append("duplicate pairs emitted")
    codes: dict[int, np.ndarray] = {}

    def sh(i: int) -> np.ndarray:
        if i not in codes:
            codes[i] = shingle_codes(text[i])
        return codes[i]

    bad = 0
    for a, b, j in pairs:
        if a >= b or a not in text or b not in text:
            bad += 1
            continue
        sa, sb = sh(a), sh(b)
        inter = len(np.intersect1d(sa, sb, assume_unique=True))
        exact = inter / (len(sa) + len(sb) - inter)
        if j != exact or exact < threshold:
            bad += 1
    if bad:
        problems.append(f"{bad} of {len(pairs)} emitted pairs fail the exact check")

    planted = json.loads((corpus / "manifest.json").read_text())
    truth = {(a, b) for a, b, j in planted if j >= threshold}
    found = {(a, b) for a, b, _ in pairs}
    recall = len(truth & found) / len(truth) if truth else 1.0
    return problems, recall
