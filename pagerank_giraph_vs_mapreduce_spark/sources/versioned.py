"""Snapshot-versioned parquet tables: time travel and atomic commits on
a plain filesystem, no table-format dependency.

Layout:
    <base>/v<N>/...parquet        immutable data directories
    <base>/_versions/<N>.json     commit manifests (one per version)

Write protocol (crash-safe): the data directory is written COMPLETELY
first; the manifest is then written to a temp name and renamed into
place — rename is the atomic commit point on any POSIX fs (and a
single-object PUT on object stores). A crash before the rename leaves an
orphan data directory and NO manifest: invisible to every reader,
reclaimed by vacuum(). Readers resolve the manifest set only, so a
reader pinned to version K sees K's files forever — snapshot isolation
for batch readers while writers append new versions.

This is the 20-line core of what table formats provide (and the repo
deliberately stops here: compaction/ACID-merge live in the engines'
own disciplines — see operators/dedup.py:compact_band_index for the
generation-swap variant of the same idea).
"""

from __future__ import annotations

import json
import os

from pyspark.sql import DataFrame, SparkSession


def _manifest_dir(base: str) -> str:
    return os.path.join(base, "_versions")


def versions(base: str) -> list[int]:
    """Committed versions, ascending (uncommitted data dirs invisible)."""
    d = _manifest_dir(base)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json"):
            try:
                out.append(int(f[: -len(".json")]))
            except ValueError:
                continue
    return sorted(out)


def write_version(df: DataFrame, base: str) -> int:
    """Write ``df`` as the next version; returns the committed version
    number. The manifest rename is the commit point."""
    os.makedirs(_manifest_dir(base), exist_ok=True)
    vs = versions(base)
    v = (vs[-1] if vs else 0) + 1
    data_dir = os.path.join(base, f"v{v}")
    # a crashed previous attempt at this same version left an orphan
    # data dir with no manifest — uncommitted garbage, safe to replace
    if os.path.isdir(data_dir):
        import shutil

        shutil.rmtree(data_dir)
    df.write.mode("errorifexists").parquet(data_dir)
    manifest = {"version": v, "path": data_dir}
    tmp = os.path.join(_manifest_dir(base), f".{v}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(_manifest_dir(base), f"{v}.json"))
    return v


def read_version(
    spark: SparkSession, base: str, version: int | None = None
) -> DataFrame:
    """Read a pinned version (default: latest committed)."""
    vs = versions(base)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {base}")
    v = vs[-1] if version is None else version
    if v not in vs:
        raise FileNotFoundError(f"version {v} not committed under {base}")
    with open(os.path.join(_manifest_dir(base), f"{v}.json")) as fh:
        manifest = json.load(fh)
    return spark.read.parquet(manifest["path"])


def vacuum(
    base: str, keep_last: int = 2, orphan_grace_sec: float = 24 * 3600.0
) -> list[int]:
    """Drop data+manifest for all but the newest ``keep_last`` versions
    AND any orphan (uncommitted) data directories older than
    ``orphan_grace_sec``. Returns removed versions. Manifest is deleted
    FIRST so a concurrent reader either resolved the version before the
    vacuum (files still present while its scan runs locally) or never
    sees it.

    Concurrency contract: this layout assumes a SINGLE
    WRITER per table — ``write_version`` picks v = last+1 without a
    lock, so two concurrent writers can claim the same version and
    rmtree each other's data dir. Vacuum may run concurrently with that
    one writer: the mtime grace window keeps the orphan sweep from
    deleting an in-flight write whose data dir is fully written but
    whose manifest rename hasn't landed yet (without it, the writer
    would commit a manifest pointing at swept files). The default 24 h
    window bounds how stale a crash's garbage can linger; pass 0 only
    when no writer can be in flight."""
    import shutil
    import time

    vs = versions(base)
    drop = vs[:-keep_last] if keep_last > 0 else vs
    for v in drop:
        os.remove(os.path.join(_manifest_dir(base), f"{v}.json"))
        shutil.rmtree(os.path.join(base, f"v{v}"), ignore_errors=True)
    committed = {f"v{v}" for v in versions(base)}
    now = time.time()
    for entry in os.listdir(base):
        if entry.startswith("v") and entry not in committed:
            p = os.path.join(base, entry)
            try:
                age = now - os.path.getmtime(p)
            except OSError:
                continue  # already gone (concurrent vacuum/writer cleanup)
            if age >= orphan_grace_sec:
                shutil.rmtree(p, ignore_errors=True)
    return drop


def committed_tags(base: str) -> set:
    """Tags of all committed versions (see write_version_tagged)."""
    out = set()
    d = _manifest_dir(base)
    if not os.path.isdir(d):
        return out
    for f in os.listdir(d):
        if f.endswith(".json"):
            with open(os.path.join(d, f)) as fh:
                m = json.load(fh)
            if "tag" in m:
                out.add(m["tag"])
    return out


def write_version_tagged(df: DataFrame, base: str, tag) -> int | None:
    """Idempotent tagged commit: if a committed version already carries
    ``tag``, do nothing and return None — the EXACTLY-ONCE streaming
    sink primitive. foreachBatch replays the same batch_id after a crash
    between the data write and the checkpoint commit; with
    ``tag=batch_id`` the replayed write sees its tag already committed
    (manifest rename is atomic, so a crash mid-write leaves no tag and
    the replay re-writes cleanly over the orphan dir)."""
    if tag in committed_tags(base):
        return None
    os.makedirs(_manifest_dir(base), exist_ok=True)
    vs = versions(base)
    v = (vs[-1] if vs else 0) + 1
    data_dir = os.path.join(base, f"v{v}")
    if os.path.isdir(data_dir):
        import shutil

        shutil.rmtree(data_dir)
    df.write.mode("errorifexists").parquet(data_dir)
    manifest = {"version": v, "path": data_dir, "tag": tag}
    tmp = os.path.join(_manifest_dir(base), f".{v}.json.tmp")
    with open(tmp, "w") as fh:
        json.dump(manifest, fh)
    os.rename(tmp, os.path.join(_manifest_dir(base), f"{v}.json"))
    return v


def read_all_versions(spark: SparkSession, base: str) -> DataFrame:
    """Union of every committed version — the "whole stream so far" view
    of a versioned streaming sink (each micro-batch is one version)."""
    vs = versions(base)
    if not vs:
        raise FileNotFoundError(f"no committed versions under {base}")
    out = None
    for v in vs:
        df = read_version(spark, base, v)
        out = df if out is None else out.unionByName(df)
    return out
