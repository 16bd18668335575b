"""The validation plan — composes every check into few jobs over one scan.

Batch lifecycle (reference analog: the 3-mode state machine
sampling → initializing → running, /root/reference/htm_streamer/config/
config.py:199-225 and pipeline/htm_stream.py:76-147):

1. *sampling/initializing*: fit baseline histograms on the first K clean
   partitions (≙ the reference accumulating ``features_samples`` then
   deriving encoder ranges, config/config.py:178-196,64-79).
2. *running*: per-partition stats + invariant counts (one fused agg),
   violation rows (one explode pass + salted uniqueness + broadcast
   referential), drift scores vs baseline, verdict assembly with the
   hard-fail override (model/htm_model.py:385-392) and probation
   (anomalylikelihood.py:440-442).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from htm_streamer_spark.config import EngineConfig, validate_input_schema
from htm_streamer_spark.operators.drift import (
    _featurize_hist,
    _split_featurize_hist,
    drift_scores,
    ntok_histogram,
)
from htm_streamer_spark.operators.invariants import (
    featurize,
    row_check_flags,
    row_violations,
)
from htm_streamer_spark.operators.stats import partition_stats
from htm_streamer_spark.operators.uniqueness import (
    duplicate_content_violations,
    duplicate_violations,
)


@dataclass
class ValidationResult:
    verdicts: DataFrame    # part_id, verdict, n_violations, psi, kl
    violations: DataFrame  # doc_id, part_id, check_id, payload
    stats: DataFrame       # per-partition fused stats
    _cached: tuple[DataFrame, ...] = field(
        default=(), init=False, repr=False, compare=False
    )

    def unpersist(self) -> None:
        """Release the frames ``run_validation_batch`` cached (the
        featurized frame and the violation rows). The result frames stay
        valid; reading them again recomputes from the input."""
        for frame in self._cached:
            frame.unpersist()


def load_sequences(spark: SparkSession, path: str) -> DataFrame:
    """Read the hive-partitioned sequences table and validate its schema
    against the declared StructType (never inferred — reference analog:
    htm_batch_runner.py:66-70)."""
    df = spark.read.parquet(str(path))
    # hive partition column comes back as int; normalize narrow types
    df = df.withColumn("part_id", F.col("part_id").cast("int"))
    validate_input_schema(df.schema)
    return df.select("doc_id", "tokens", "n_tok", "source", "ts", "part_id")


def baseline_part_ids(df: DataFrame, cfg: EngineConfig) -> list[int]:
    """First K distinct part_ids in sort order (metadata-scale action)."""
    rows = df.select("part_id").distinct().sort("part_id").limit(cfg.baseline_partitions).collect()
    return [r[0] for r in rows]


def _drift_hists(
    narrow: DataFrame, tok_hist: DataFrame, cfg: EngineConfig, base_parts: list[int]
) -> tuple[dict[str, DataFrame], dict]:
    """Clean-row histograms from the fused kernel's (narrow, hist) frames:
    the per-partition {'tok', 'ntok'} frames (part_id, bucket, cnt), and
    the baseline — their sums over ``base_parts`` as
    {'tok': DF(bucket,cnt), 'ntok': DF(bucket,cnt), 'part_ids': list}."""
    clean = row_check_flags(narrow, cfg, featurized=True).filter(
        ~F.col("any_violation")
    )
    per_part = {"tok": tok_hist, "ntok": ntok_histogram(clean, cfg)}
    baseline = {
        k: h.filter(F.col("part_id").isin(base_parts))
        .groupBy("bucket")
        .agg(F.sum("cnt").alias("cnt"))
        for k, h in per_part.items()
    }
    baseline["part_ids"] = base_parts
    return per_part, baseline


def compute_baseline(
    df: DataFrame, cfg: EngineConfig, base_parts: list[int] | None = None
) -> dict[str, DataFrame]:
    """Baseline token + n_tok histograms over clean rows of the baseline
    partitions. Returns {'tok': DF(bucket,cnt), 'ntok': DF(bucket,cnt),
    'part_ids': list}.

    The fused kernel runs once over the baseline partitions; the two
    histograms (at most ``tok_hist_buckets + ntok_hist_buckets`` rows)
    come back as local frames, so no consumer runs the kernel again and
    nothing stays cached."""
    if base_parts is None:
        base_parts = baseline_part_ids(df, cfg)
    out = _featurize_hist(df.filter(F.col("part_id").isin(base_parts)), cfg).persist()
    try:
        _, lazy = _drift_hists(*_split_featurize_hist(out), cfg, base_parts)
        spark = df.sparkSession
        baseline = {
            k: spark.createDataFrame(lazy[k].collect(), "bucket int, cnt long")
            for k in ("tok", "ntok")
        }
    finally:
        out.unpersist()
    baseline["part_ids"] = base_parts
    return baseline


def run_validation_batch(
    spark: SparkSession,
    df: DataFrame,
    cfg: EngineConfig | None = None,
    baseline: dict[str, DataFrame] | None = None,
) -> ValidationResult:
    """Full-suite batch validation of ``df`` (the input_hint schema).

    If ``baseline`` is None it is fitted from the first
    ``cfg.baseline_partitions`` partitions of ``df`` itself (those
    partitions receive verdict ``probation`` unless they contain
    violations — the hard-fail override).

    Two frames are cached: the featurized frame and the violation rows.
    Call :meth:`ValidationResult.unpersist` once the result is consumed.
    """
    cfg = cfg or EngineConfig()
    # ONE pass over the token bytes: the fused Arrow kernel emits both the
    # narrow per-row feature frame (size + range check) and the
    # clean-row token histogram; everything downstream runs on the
    # ~1%-size result. Caching the wide frame (tokens are ~99% of the
    # bytes) was the measured bottleneck — at 10^12 rows it is
    # impossible. Without the drift check no histogram is needed, and
    # the native featurize projection does the one decode.
    drift_enabled = "drift" in cfg.checks
    if drift_enabled:
        featurized = _featurize_hist(df, cfg).persist()
        narrow, tok_all = _split_featurize_hist(featurized)
    else:
        featurized = narrow = featurize(df, cfg).persist()
    fit_from_self = baseline is None
    if fit_from_self:
        base_parts = baseline_part_ids(narrow, cfg)
    else:
        base_parts = baseline.get("part_ids", [])

    # violation rows: the row checks and dup_doc_id read the narrow
    # frame; dup_content hashes the token arrays, so it reads the input.
    # (referential is a row-level ``isin`` check by default; see
    # operators/referential.py for the dimension-table broadcast form.)
    viols = row_violations(narrow, cfg, featurized=True)
    if "dup_doc_id" in cfg.checks:
        viols = viols.unionByName(duplicate_violations(narrow, cfg))
    if "dup_content" in cfg.checks:
        viols = viols.unionByName(duplicate_content_violations(df, cfg))
    # violations are ~2% of rows — persist so the verdict count and the
    # returned violation rows share one computation
    viols = viols.persist()
    n_viol = viols.groupBy("part_id").agg(F.count(F.lit(1)).alias("n_violations"))
    stats = partition_stats(narrow, cfg, featurized=True)

    if drift_enabled:
        per_part, self_baseline = _drift_hists(narrow, tok_all, cfg, base_parts)
        if fit_from_self:
            baseline = self_baseline
        scores = []
        for k, n_buckets in (("tok", cfg.tok_hist_buckets), ("ntok", cfg.ntok_hist_buckets)):
            part_hist = per_part[k]
            if base_parts:
                part_hist = part_hist.filter(~F.col("part_id").isin(base_parts))
            scores.append(
                drift_scores(part_hist, baseline[k], n_buckets).withColumnsRenamed(
                    {"psi": f"psi_{k}", "kl": f"kl_{k}"}
                )
            )
        drift = scores[0].join(scores[1], "part_id", "outer").select(
            "part_id",
            F.greatest(F.coalesce("psi_tok", F.lit(0.0)), F.coalesce("psi_ntok", F.lit(0.0))).alias("psi"),
            F.greatest(F.coalesce("kl_tok", F.lit(0.0)), F.coalesce("kl_ntok", F.lit(0.0))).alias("kl"),
        )
    else:
        drift = None

    verdicts = stats.select("part_id").join(n_viol, "part_id", "left")
    if drift is not None:
        verdicts = verdicts.join(drift, "part_id", "left")
    else:
        verdicts = verdicts.withColumn("psi", F.lit(None).cast("double")).withColumn(
            "kl", F.lit(None).cast("double")
        )
    is_base = F.col("part_id").isin(base_parts) if base_parts else F.lit(False)
    nv = F.coalesce(F.col("n_violations"), F.lit(0)).alias("n_violations")
    psi = F.when(is_base, F.lit(0.0)).otherwise(F.coalesce(F.col("psi"), F.lit(0.0)))
    kl = F.when(is_base, F.lit(0.0)).otherwise(F.coalesce(F.col("kl"), F.lit(0.0)))
    verdict = (
        F.when(nv > 0, F.lit("fail"))
        .when(is_base, F.lit("probation"))
        .when(
            F.lit(drift_enabled)
            & ((psi > cfg.psi_threshold) | (kl > cfg.kl_threshold)),
            F.lit("fail"),
        )
        .otherwise(F.lit("pass"))
    )
    verdicts = verdicts.select(
        "part_id",
        verdict.alias("verdict"),
        nv.cast("long").alias("n_violations"),
        psi.alias("psi"),
        kl.alias("kl"),
    )
    result = ValidationResult(verdicts=verdicts, violations=viols, stats=stats)
    result._cached = (featurized, viols)
    return result
