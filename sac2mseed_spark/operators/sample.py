"""Deterministic stratified sampling for training-data curation.

A dataset-mixture pass ("keep 10% of lang=en, 100% of lang=de") must be
reproducible run-to-run and machine-to-machine — `df.sample()` is neither
(it seeds per partition, so a repartition changes the sample). This
operator decides membership from a 60-bit content hash of the row key
(functions/hashing.h60, bit-identical in DuckDB), so the same row makes
the same keep/drop decision at any parallelism, any partitioning, any
engine — the determinism contract every operator in this repo carries
(cf. the turn_idx chunk boundaries in operators/pack.py).

Scale shape: pure codegen filter on a scan — no shuffle, no sort, no
driver state. Rates broadcast as a literal CASE chain (strata counts are
human-scale: languages, sources, quality buckets).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashing import h60

# hash-bucket denominator: rates are resolved to integer thresholds out
# of 1e6 so the keep predicate is pure integer compare (no float edge)
SAMPLE_MOD = 1_000_000


def sample_bucket(key: Column | str, seed: str = "strat") -> Column:
    """Uniform bucket in [0, SAMPLE_MOD) from the row key — positive
    (h60 is 60-bit non-negative), stable across engines."""
    c = F.col(key) if isinstance(key, str) else key
    return h60(c.cast("string"), seed=seed) % SAMPLE_MOD


def stratified_sample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Keep each row iff its hash bucket falls under its stratum's rate.

    ``rates`` maps stratum value -> keep fraction in [0, 1]; strata not
    listed use ``default_rate``. Adds a ``bucket`` column (the sampling
    coordinate) so downstream stages can sub-sample consistently: a later
    pass at a lower rate keeps a strict subset of this pass — the nested-
    sample property hash sampling gives for free.
    """
    thresholds = {k: int(round(r * SAMPLE_MOD)) for k, r in rates.items()}
    thr: Column = F.lit(int(round(default_rate * SAMPLE_MOD)))
    for value, t in sorted(thresholds.items()):
        thr = F.when(F.col(strata_col) == value, F.lit(t)).otherwise(thr)
    b = sample_bucket(key_col, seed)
    return df.withColumn("bucket", b).filter(F.col("bucket") < thr)


def stratified_resample(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Mixture resampling with rates ABOVE 1.0: deterministic repetition.

    A training mixture upsamples scarce strata ("2.5x the de docs") as
    well as downsampling rich ones; ``df.sample(withReplacement=True)``
    is non-deterministic and row-count-only. Here each row gets
    ``n_copies = floor(rate) + [bucket < frac(rate) * SAMPLE_MOD]`` —
    the integral part replicates every row, the fractional part keeps
    the same hash-bucket subset stratified_sample would keep — and is
    exploded with a ``copy_idx`` column (0..n_copies-1) so downstream
    shuffles/augmentations can key on (row, copy).

    Rate 1.0 reduces to the identity (one copy of every row); rates
    below 1.0 reduce to stratified_sample's subset with copy_idx 0.
    Scale shape: codegen filter + explode(sequence) on a scan — no
    shuffle, no driver state; expansion factor == the mixture weight.
    """
    int_part: Column = F.lit(int(default_rate))
    frac_thr: Column = F.lit(int(round((default_rate % 1.0) * SAMPLE_MOD)))
    for value, r in sorted(rates.items()):
        if r < 0:
            raise ValueError(f"rate for {value!r} must be >= 0, got {r}")
        int_part = F.when(F.col(strata_col) == value, F.lit(int(r))).otherwise(
            int_part
        )
        frac_thr = F.when(
            F.col(strata_col) == value, F.lit(int(round((r % 1.0) * SAMPLE_MOD)))
        ).otherwise(frac_thr)
    b = sample_bucket(key_col, seed)
    n_copies = int_part + (b < frac_thr).cast("int")
    return (
        df.withColumn("bucket", b)
        .withColumn("n_copies", n_copies)
        .filter(F.col("n_copies") > 0)
        .withColumn(
            "copy_idx", F.explode(F.sequence(F.lit(0), F.col("n_copies") - 1))
        )
        .drop("n_copies")
    )


def sample_rates_report(
    df: DataFrame,
    strata_col: str,
    rates: dict[str, float],
    default_rate: float = 0.0,
    key_col: str = "doc_id",
    seed: str = "strat",
) -> DataFrame:
    """Per-stratum accounting of a sampling pass: rows in, rows kept,
    realized rate (rounded 6dp) — the lineage row a curation pipeline
    appends next to its output (metadata-sink philosophy of the
    reference's writemetadata, /root/reference/src/sac2mseed.c:944-1100).
    """
    kept = stratified_sample(df, strata_col, rates, default_rate, key_col, seed)
    n_in = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_rows"))
    n_kept = kept.groupBy(strata_col).agg(F.count(F.lit(1)).alias("n_kept"))
    return (
        n_in.join(n_kept, strata_col, "left")
        .select(
            strata_col,
            "n_rows",
            F.coalesce("n_kept", F.lit(0)).alias("n_kept"),
            F.round(F.coalesce("n_kept", F.lit(0)) / F.col("n_rows"), 6).alias(
                "realized_rate"
            ),
        )
    )
