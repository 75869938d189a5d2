"""Distributed model fitting for model-in-the-loop data curation.

``logreg_gd`` trains a logistic-regression-style quality classifier with
full-batch gradient descent where every step is a single scan + one
map-side-combined global aggregate, and the updated weights flow back as
a broadcast 1-row DataFrame — the textbook distributed-GD shape (the
gradient is a sum over rows, so partial aggregation does the heavy
lifting; only |w| numbers cross the cluster per step). The whole
training run is ONE lazy plan: no ``collect()`` between steps, the
weight row of step t crossJoins into the scan of step t+1.

Cross-engine exactness (the repo's oracle discipline): the logistic
sigmoid is libm ``exp`` — not correctly rounded, so not hash-stable
across engines. We substitute the rational squashing function

    p(z) = 0.5 + z / (2 * (1 + |z|))

(the "fast sigmoid" x/(1+|x|), rescaled to (0,1) — same sign, same
fixed point at 0.5, strictly monotone), which is pure IEEE rational
arithmetic and therefore bit-identical in Spark and DuckDB. Gradient
terms are rounded to 12 dp and summed as DECIMAL(38,12) — exact and
ORDER-INDEPENDENT, so partition count cannot move the result (a raw
double sum varies in its last bits with aggregation order). Weights are
rounded to 12 dp each step so both engines walk the identical
trajectory.

Reference parity note: the reference repo has no ML surface — this
module belongs to the mandated LLM-pipeline extension (quality
classifiers are the canonical model-in-the-loop curation gate).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def squash(z):
    """Rational sigmoid substitute p(z) = 0.5 + z / (2 (1 + |z|))."""
    return F.lit(0.5) + z / (F.lit(2.0) * (F.lit(1.0) + F.abs(z)))


def logreg_gd(
    df: DataFrame,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 1.0,
    l2: float = 0.0,
    batch_col: str | None = None,
    n_batches: int = 1,
) -> DataFrame:
    """GD for a linear classifier under the rational squash — full-batch
    by default, deterministic mini-batch when ``batch_col`` is given.

    Returns a 1-row DataFrame with columns ``w_bias, w_<f1>, ...,
    accuracy`` (training accuracy at the final weights, p >= 0.5 as the
    positive call, ALWAYS over the full dataset). ``df[label_col]`` must
    be 0.0/1.0 doubles.

    Mini-batching (``batch_col`` + ``n_batches``): step t trains on the
    rows where ``batch_col == t % n_batches`` — the caller derives the
    bucket deterministically (the repo's md5-bucket sampling discipline),
    so the trajectory is partition-layout-independent and expressible in
    the unrolled SQL oracle as a per-step WHERE. At 100 TB this is the
    difference between every step scanning everything and each step
    aggregating only its 1/B slice; per-bucket row counts are resolved
    once up front (B numbers), weights still never touch the driver.

    L2 regularization (``l2``): weight decay applied as
    ``w <- round(w + d - round(lr*l2*w, 12), 12)`` — the shrink term is
    its own 12-dp round so both engines walk the identical trajectory;
    with ``l2=0`` the update is bit-identical to the historical
    unregularized form (no extra IEEE ops are emitted).

    Plan shape: ``iters`` scans of the (cached) feature projection, each
    ending in one global aggregate whose 1-row output crossJoins the
    next scan — weights never touch the driver. At 100 TB each step is
    a map-side-combined sum of |w|+1 doubles per partition. The 1-row
    result is materialized before the call returns, so the cached
    projection is released on every exit path."""
    from pyspark.storagelevel import StorageLevel

    names = ["bias"] + list(feature_cols)
    proj = df.select(
        F.lit(1.0).alias("bias"),
        *[F.col(c).cast("double").alias(c) for c in feature_cols],
        F.col(label_col).cast("double").alias("_y"),
        *([F.col(batch_col).alias("_bkt")] if batch_col else []),
    )
    if batch_col is not None:
        # Physically cluster the cache by bucket WITHOUT a shuffle:
        # sortWithinPartitions("_bkt") turns every partition into bucket
        # runs, so the in-memory columnar cache's per-batch min/max
        # stats let step t's `_bkt = t % B` filter PRUNE ~(B-1)/B of the
        # cached batches instead of scanning and filtering all of them —
        # without this the "1/B of the corpus per step" claim is filter
        # selectivity, not scan volume (caught by the r10 sf1 spot-run:
        # the unclustered mini-batch trainer timed SLOWER than full
        # batch). A repartitionByRange would prune too but pays a full
        # corpus shuffle + sampling pass at setup — measured strictly
        # worse at iters=5, B=4; the local sort is one in-memory pass.
        # Row placement doesn't affect results: gradient sums are
        # per-row DECIMAL — exact and order-independent.
        proj = proj.sortWithinPartitions("_bkt")
    feats = proj.persist(StorageLevel.MEMORY_AND_DISK)
    try:
        # One action up front (materializes the cache); the GD steps stay
        # one lazy plan — every step re-reads the narrow cached projection
        # instead of rescanning the source — until the eager checkpoint of
        # the 1-row result, after which the cache is released.
        if batch_col is None:
            n_of = {0: feats.count()}
        else:
            # one B-row action; also materializes the cache like count() does
            n_of = {
                int(r["_bkt"]): r["cnt"]
                for r in feats.groupBy("_bkt").agg(F.count(F.lit(1)).alias("cnt")).collect()
            }
        w = feats.sparkSession.createDataFrame(
            [tuple(0.0 for _ in names)], ", ".join(f"w_{c} double" for c in names)
        )
        for t in range(iters):
            bkt = 0 if batch_col is None else t % n_batches
            batch = (
                feats if batch_col is None else feats.filter(F.col("_bkt") == bkt)
            )
            n_t = n_of.get(bkt, 0)
            if n_t == 0:
                continue  # empty bucket: gradient is zero, weights unchanged
            z = sum(
                (F.col(f"w_{c}") * F.col(c) for c in names[1:]),
                F.col("w_bias") * F.col("bias"),
            )
            resid = F.col("_y") - squash(z)
            grads = batch.crossJoin(F.broadcast(w)).agg(
                *[
                    F.sum(
                        F.round(F.col(c) * resid, 12).cast("decimal(38,12)")
                    ).alias(f"g_{c}")
                    for c in names
                ]
            )
            # (g * lr) / n, left-associated — the oracle mirrors the same two
            # IEEE ops in the same order (a precomputed lr/n quotient would
            # round differently).
            def upd(c: str):
                base = F.col(f"w_{c}") + F.col(f"d_{c}")
                if l2:
                    base = base - F.round(F.lit(lr * l2) * F.col(f"w_{c}"), 12)
                return F.round(base, 12).alias(f"w_{c}")

            w = grads.select(
                *[
                    F.round(
                        F.col(f"g_{c}").cast("double") * F.lit(lr) / F.lit(float(n_t)),
                        12,
                    ).alias(f"d_{c}")
                    for c in names
                ]
            ).crossJoin(F.broadcast(w)).select(*[upd(c) for c in names])
        z = sum(
            (F.col(f"w_{c}") * F.col(c) for c in names[1:]),
            F.col("w_bias") * F.col("bias"),
        )
        return (
            feats.crossJoin(F.broadcast(w))
            .agg(
                *[F.first(f"w_{c}").alias(f"w_{c}") for c in names],
                F.avg(
                    F.when(
                        (squash(z) >= 0.5) == (F.col("_y") >= 0.5), 1.0
                    ).otherwise(0.0)
                ).alias("raw_acc"),
            )
            .select(
                *[F.col(f"w_{c}") for c in names],
                F.round("raw_acc", 9).alias("accuracy"),
            )
            .localCheckpoint(eager=True)
        )
    finally:
        feats.unpersist()


def logreg_gd_grouped(
    df: DataFrame,
    group_col: str,
    feature_cols: list[str],
    label_col: str,
    iters: int = 3,
    lr: float = 1.0,
) -> DataFrame:
    """One model PER GROUP via ``applyInPandas`` — the grouped-ML shape
    (a fleet of small models, e.g. one quality gate per language/domain,
    each group's data collocating on one task after the group shuffle).
    Python-side training follows the exact discipline of ``logreg_gd``:
    rational squash, per-row terms rounded to 12 dp, gradients summed as
    exact ``Fraction``s (order-independent — the pandas analog of the
    DECIMAL(38,12) sum), weights rounded to 12 dp per step. The result
    is bit-identical to the unrolled per-group SQL oracle, making even
    the Arrow/pandas path hash-checkable cross-engine.

    Returns one row per group: ``<group_col>, w_bias, w_<f>..., n_rows``.
    """
    import pandas as pd

    names = ["bias"] + list(feature_cols)
    schema = ", ".join(
        [f"{group_col} string"]
        + [f"w_{c} double" for c in names]
        + ["n_rows bigint"]
    )

    def fit(pdf: pd.DataFrame) -> pd.DataFrame:
        from fractions import Fraction

        rows = [
            (1.0, *(float(pdf[c].iloc[i]) for c in feature_cols),
             float(pdf[label_col].iloc[i]))
            for i in range(len(pdf))
        ]
        n = float(len(rows))
        w = [0.0] * len(names)
        for _ in range(iters):
            g = [Fraction(0)] * len(names)
            for r in rows:
                x, y = r[:-1], r[-1]
                z = 0.0
                for j in range(len(names)):
                    z += w[j] * x[j]
                p = 0.5 + z / (2.0 * (1.0 + abs(z)))
                for j in range(len(names)):
                    # round(...,12) then Fraction: exact and order-free,
                    # the pandas analog of SUM(CAST(.. AS DECIMAL(38,12)))
                    g[j] += Fraction(str(round(x[j] * (y - p), 12)))
            w = [
                round(w[j] + round(float(g[j]) * lr / n, 12), 12)
                for j in range(len(names))
            ]
        return pd.DataFrame(
            [[pdf[group_col].iloc[0], *w, len(rows)]],
            columns=[group_col, *(f"w_{c}" for c in names), "n_rows"],
        )

    return (
        df.select(
            F.col(group_col).cast("string").alias(group_col),
            *[F.col(c).cast("double").alias(c) for c in feature_cols],
            F.col(label_col).cast("double").alias(label_col),
        )
        .groupBy(group_col)
        .applyInPandas(fit, schema)
    )
