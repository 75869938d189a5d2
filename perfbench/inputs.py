"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of (shape, seed) and writes its files
into a cache directory named after both, so repeated runs on one seed
generate once. The program under test only ever sees the written files.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
from pathlib import Path

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from checks import shingle_codes

SNAP_HEADER = (
    "# Directed graph (each unordered pair of nodes is saved once): {name}\n"
    "# Synthetic power-law web graph, seed {seed}\n"
    "# Nodes: {nodes} Edges: {edges}\n"
    "# FromNodeId\tToNodeId\n"
)

# Keep this many generated inputs; the oldest beyond it are deleted.
CACHE_KEEP = 6


def _cache_dir(root: Path, kind: str, shape: dict, seed: int) -> Path:
    key = json.dumps({"kind": kind, "shape": shape}, sort_keys=True)
    digest = hashlib.sha1(key.encode()).hexdigest()[:10]
    return root / f"{kind}-{digest}-seed{seed}"


def _prune(root: Path, keep: Path) -> None:
    entries = sorted(
        (p for p in root.iterdir() if p.is_dir() and p != keep),
        key=lambda p: p.stat().st_mtime,
        reverse=True,
    )
    for p in entries[CACHE_KEEP - 1 :]:
        shutil.rmtree(p, ignore_errors=True)


def cached(root: Path, kind: str, shape: dict, seed: int, make) -> Path:
    """Return the cache directory for (kind, shape, seed), generating it
    with ``make(tmp_dir, shape, seed)`` on a miss. The directory appears
    atomically (rename), so an interrupted generation is never reused."""
    root.mkdir(parents=True, exist_ok=True)
    final = _cache_dir(root, kind, shape, seed)
    if not (final / "done").exists():
        tmp = final.with_name(final.name + f".tmp{os.getpid()}")
        shutil.rmtree(tmp, ignore_errors=True)
        tmp.mkdir()
        make(tmp, shape, seed)
        (tmp / "done").write_text("")
        shutil.rmtree(final, ignore_errors=True)
        tmp.rename(final)
    os.utime(final)
    _prune(root, final)
    return final


def powerlaw_graph(out: Path, shape: dict, seed: int) -> None:
    """SNAP-format directed edge list with a web-graph degree profile.

    Vertex ids are sparse (drawn from a range ~5 % wider than V, like
    web-Google's ids). A ``dangling`` share of vertices is never drawn as
    a source, and sources drawn with low weight may get no edge either.
    Sources are drawn by lognormal weights (``out_sigma``), destinations by
    Zipf rank weights (``in_zipf``): the in-degree is heavily skewed toward
    a few hubs, and a small share of (src, dst) pairs repeats, which the
    build's edge dedup removes. The measured degree profile is written to
    ``degree_stats.json``.
    """
    rng = np.random.default_rng(seed)
    n, e = shape["vertices"], shape["edges"]
    ids = rng.choice(int(n * 1.05), size=n, replace=False).astype(np.int64)

    n_src = int(n * (1.0 - shape["dangling"]))
    src_pool = rng.permutation(n)[:n_src]
    w_out = rng.lognormal(0.0, shape["out_sigma"], size=n_src)
    src = src_pool[
        np.minimum(
            np.searchsorted(np.cumsum(w_out / w_out.sum()), rng.random(e)), n_src - 1
        )
    ]

    rank = np.arange(1, n + 1, dtype=np.float64) ** -shape["in_zipf"]
    dst_order = rng.permutation(n)
    dst = dst_order[
        np.minimum(
            np.searchsorted(np.cumsum(rank / rank.sum()), rng.random(e)), n - 1
        )
    ]

    order = np.lexsort((dst, src))
    s, d = ids[src[order]], ids[dst[order]]
    header = SNAP_HEADER.format(name=shape["name"], seed=seed, nodes=n, edges=e)
    with open(out / "edges.txt", "w") as fh:
        fh.write(header)
        fh.write("\n".join(map("{}\t{}".format, s.tolist(), d.tolist())))
        fh.write("\n")
    np.save(out / "src.npy", s)
    np.save(out / "dst.npy", d)
    (out / "degree_stats.json").write_text(json.dumps(degree_stats(s, d)))


def degree_stats(src: np.ndarray, dst: np.ndarray) -> dict:
    """Degree profile of the deduplicated graph over the vertices the edge
    list names: sample skewness (m3 / m2^1.5) of out- and in-degree, the
    share of vertices with no out-edge, and the maximum degrees."""
    pairs = np.unique(np.stack([src, dst], axis=1), axis=0)
    ids = np.union1d(pairs[:, 0], pairs[:, 1])
    out_deg = np.bincount(np.searchsorted(ids, pairs[:, 0]), minlength=len(ids))
    in_deg = np.bincount(np.searchsorted(ids, pairs[:, 1]), minlength=len(ids))

    def skew(x: np.ndarray) -> float:
        x = x.astype(np.float64)
        return float(((x - x.mean()) ** 3).mean() / x.std() ** 3)

    return {
        "vertices": len(ids),
        "edges": len(pairs),
        "out_skew": skew(out_deg),
        "in_skew": skew(in_deg),
        "dangling": float((out_deg == 0).mean()),
        "max_out": int(out_deg.max()),
        "max_in": int(in_deg.max()),
    }


def _vocabulary(rng: np.random.Generator, size: int) -> np.ndarray:
    letters = np.frombuffer(b"abcdefghijklmnopqrstuvwxyz", dtype=np.uint8)
    lengths = rng.integers(2, 10, size=size)
    words = set()
    out = []
    for ln in lengths:
        w = letters[rng.integers(0, 26, size=ln)].tobytes().decode()
        if w not in words:
            words.add(w)
            out.append(w)
    return np.array(out, dtype=object)


def near_dup_corpus(out: Path, shape: dict, seed: int) -> None:
    """Parquet corpus (doc_id, text) with planted near-duplicates, sharded
    into ``files`` part files the way a written corpus is.

    ``dup_share`` of the documents are copies of distinct originals with
    ``sub_rate`` of their words replaced by random vocabulary words. The
    manifest lists each planted (original, copy) pair with its exact
    5-char-shingle Jaccard, computed with the engine's shingle code.
    """
    rng = np.random.default_rng(seed)
    vocab = _vocabulary(rng, shape["vocab"])
    zipf = np.arange(1, len(vocab) + 1, dtype=np.float64) ** -1.0
    cdf = np.cumsum(zipf / zipf.sum())

    def draw(k: int) -> np.ndarray:
        return vocab[np.minimum(np.searchsorted(cdf, rng.random(k)), len(vocab) - 1)]

    n_docs = shape["docs"]
    n_dups = int(n_docs * shape["dup_share"])
    n_orig = n_docs - n_dups
    # ~5.5 chars per word with its separating space
    words_per_doc = int(shape["chars"] / 5.5)
    docs = [draw(words_per_doc) for _ in range(n_orig)]
    bases = rng.choice(n_orig, size=n_dups, replace=False)
    for b in bases:
        w = docs[b].copy()
        hit = rng.random(len(w)) < shape["sub_rate"]
        w[hit] = draw(int(hit.sum()))
        docs.append(w)
    texts = [" ".join(w) for w in docs]

    doc_ids = rng.permutation(n_docs * 3)[:n_docs].astype(np.int64)
    table = pa.table({"doc_id": doc_ids, "text": texts})
    (out / "corpus").mkdir()
    per_file = -(-n_docs // shape["files"])
    for f in range(shape["files"]):
        part = table.slice(f * per_file, per_file)
        pq.write_table(part, out / "corpus" / f"part-{f:05d}.parquet")

    manifest = []
    for k, b in enumerate(bases):
        i, j = int(b), n_orig + k
        a, c = shingle_codes(texts[i]), shingle_codes(texts[j])
        inter = len(np.intersect1d(a, c, assume_unique=True))
        pair = sorted((int(doc_ids[i]), int(doc_ids[j])))
        manifest.append([pair[0], pair[1], inter / (len(a) + len(c) - inter)])
    (out / "manifest.json").write_text(json.dumps(manifest))


def generate(root: Path, kind: str, shape: dict, seed: int) -> Path:
    """Generate (or reuse) the inputs; returns their directory."""
    make = {"graph": powerlaw_graph, "corpus": near_dup_corpus}[kind]
    return cached(root, kind, shape, seed, make)
