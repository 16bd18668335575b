"""Distribution-drift detection: per-partition histograms + KL/PSI.

Replaces the reference's HTM anomaly likelihood (sliding-window Gaussian
fit + tail probability, /root/reference/htm_streamer/data/
anomalylikelihood.py:424-467,718-788) with distribution distances computed
per partition against a checkpointed baseline:

- token-frequency histogram: the fused Arrow kernel
  (functions/array_funcs.py:featurize_hist_kernel) bincounts each
  batch's clean-row token buckets, so each batch emits at most
  ``n_partitions × n_buckets`` rows and the shuffle moves histograms,
  not tokens.
- n_tok histogram: one bucket per clean row of the kernel's narrow
  frame, same shape.
- PSI / KL with probability floors — the flooring mirrors the reference's
  mean/variance floors (anomalylikelihood.py:733-742).

The probation verdict for partitions seen before the baseline commit
mirrors the probationary flat-0.5 (anomalylikelihood.py:440-442); the
hard-fail override for invariant violations mirrors the spatial-anomaly
override (model/htm_model.py:385-388).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from htm_streamer_spark.config import HIST_EPS, NTOK_MAX, EngineConfig
from htm_streamer_spark.functions.array_funcs import (
    featurize_hist_kernel,
    ntok_bucket_expr,
)


def _featurize_hist(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """The fused kernel's combined output, not persisted: ``kind=0``
    narrow feature rows and ``kind=1`` clean-row histogram rows (see
    functions/array_funcs.py:featurize_hist_kernel)."""
    return df.select("doc_id", "part_id", "n_tok", "source", "ts", "tokens").mapInArrow(
        featurize_hist_kernel(
            cfg.tok_hist_buckets, cfg.vocab_size, cfg.allowed_sources, cfg.checks
        ),
        schema=(
            "kind tinyint, doc_id string, part_id int, n_tok int, source string, "
            "ts timestamp, tok_len int, tok_oob boolean, bucket int, cnt long"
        ),
    )


def _split_featurize_hist(out: DataFrame) -> tuple[DataFrame, DataFrame]:
    """(narrow_df, tok_hist_df) as filters over the kernel output ``out``;
    the histogram is per partition: (part_id, bucket, cnt)."""
    narrow = out.filter(F.col("kind") == 0).select(
        "doc_id", "part_id", "n_tok", "source", "ts", "tok_len", "tok_oob"
    )
    hist = (
        out.filter(F.col("kind") == 1)
        .groupBy("part_id", "bucket")
        .agg(F.sum("cnt").alias("cnt"))
    )
    return narrow, hist


def featurize_and_token_histogram(
    df: DataFrame, cfg: EngineConfig
) -> tuple[DataFrame, DataFrame]:
    """ONE pass over the token bytes producing both the narrow per-row
    feature frame and the per-partition clean-row token histogram.
    Returns (narrow_df, tok_hist_df). The combined kernel output is
    persisted before return and both frames are filters over it, so the
    token column is decoded exactly once however many consumers read
    them. Unpersisting a returned frame releases nothing (it is not the
    cached frame); ``spark.catalog.clearCache()`` does."""
    return _split_featurize_hist(_featurize_hist(df, cfg).persist())


def ntok_histogram(df: DataFrame, cfg: EngineConfig) -> DataFrame:
    """Per-partition n_tok histogram: (part_id, bucket, cnt). Null n_tok
    rows are excluded (they are violations, not distribution mass)."""
    return (
        df.filter(F.col("n_tok").isNotNull())
        .select("part_id", ntok_bucket_expr(F.col("n_tok"), cfg.ntok_hist_buckets, NTOK_MAX).alias("bucket"))
        .groupBy("part_id", "bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def drift_scores(part_hist: DataFrame, baseline_hist: DataFrame, n_buckets: int) -> DataFrame:
    """(part_id, psi, kl) of each partition's histogram vs the baseline.

    Exact oracle semantics: p = cnt / max(total, 1), floored at 1e-6 (and
    likewise q); PSI = Σ (p-q)·ln(p/q); KL = Σ p·ln(p/q), summed over the
    full bucket grid. Inputs are already tiny (n_partitions × n_buckets),
    so the grid cross-join and joins below are all broadcast-sized.
    """
    spark = part_hist.sparkSession
    buckets = spark.range(n_buckets).select(F.col("id").cast("int").alias("bucket"))
    pids = part_hist.select("part_id").distinct()
    grid = pids.crossJoin(F.broadcast(buckets))

    p_tot = part_hist.groupBy("part_id").agg(F.sum("cnt").alias("p_total"))
    q_tot = baseline_hist.agg(F.sum("cnt").alias("q_total"))
    base = baseline_hist.withColumnRenamed("cnt", "q_cnt")

    joined = (
        grid.join(part_hist, ["part_id", "bucket"], "left")
        .join(F.broadcast(base), ["bucket"], "left")
        .join(p_tot, ["part_id"], "left")
        .crossJoin(F.broadcast(q_tot))
        .fillna({"cnt": 0, "q_cnt": 0, "p_total": 0, "q_total": 0})
    )
    p = F.greatest(F.col("cnt") / F.greatest(F.col("p_total"), F.lit(1.0)), F.lit(HIST_EPS))
    q = F.greatest(F.col("q_cnt") / F.greatest(F.col("q_total"), F.lit(1.0)), F.lit(HIST_EPS))
    lr = F.log(p / q)
    return joined.groupBy("part_id").agg(
        F.sum((p - q) * lr).alias("psi"),
        F.sum(p * lr).alias("kl"),
    )


def centroid_drift(
    df: DataFrame,
    group_col: str,
    vec_col: str = "embedding",
) -> DataFrame:
    """Per-group embedding-centroid drift against the corpus centroid:
    (group, n_vecs, cos_sim, l2_dist) where the centroids are the
    per-group and global mean vectors. The SEMANTIC drift check the
    token-histogram family can't see — a source whose token mix is
    stable but whose meaning distribution shifted (new topic, new
    language style, encoder regression) moves its centroid.

    Plan: posexplode -> ONE groupBy(group, pos) partial-combinable sum
    (the shuffle carries |groups|×dim rows, never vectors), the global
    centroid derived from the per-group sums (no second fact scan), and
    the cosine/L2 reductions are a second tiny aggregation over the
    |groups|×dim frame. Zero Python, no collect; dim is the embedding
    width, so the post-shuffle work is metadata-sized at any corpus
    scale.
    """
    x = df.select(
        F.col(group_col).alias("g"), F.posexplode(vec_col).alias("pos", "v")
    ).select("g", "pos", F.col("v").cast("double").alias("v"))
    # |groups|×dim rows; persisted because the global centroid derives
    # from it — without the persist that derivation re-scans the corpus
    per = x.groupBy("g", "pos").agg(
        F.sum("v").alias("s"), F.count(F.lit(1)).alias("n")
    ).persist()
    glob = per.groupBy("pos").agg(
        F.sum("s").alias("gs"), F.sum("n").alias("gn")
    )
    j = per.join(F.broadcast(glob), "pos").select(
        "g",
        "n",
        (F.col("s") / F.col("n")).alias("m"),
        (F.col("gs") / F.col("gn")).alias("gm"),
    )
    return (
        j.groupBy("g")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(F.col("m") * F.col("gm")).alias("dot"),
            F.sum(F.col("m") * F.col("m")).alias("na"),
            F.sum(F.col("gm") * F.col("gm")).alias("ng"),
            F.sum((F.col("m") - F.col("gm")) * (F.col("m") - F.col("gm"))).alias("sq"),
        )
        .select(
            F.col("g").alias(group_col),
            F.col("n_vecs").cast("long").alias("n_vecs"),
            (F.col("dot") / F.sqrt(F.col("na") * F.col("ng"))).alias("cos_sim"),
            F.sqrt("sq").alias("l2_dist"),
        )
    )
