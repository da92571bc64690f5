"""Deterministic sampling / split assignment for training-data pipelines.

Everything here is a pure per-row expression over md5 — no RNG state, no
shuffle, no driver participation — so the same document lands in the same
sample/split on every run, on every engine, at any parallelism. That
reproducibility (and the ability to re-derive membership later from the id
alone) is why hash-based sampling is the standard form for corpus work, not
``df.sample`` (whose output depends on partitioning and seed plumbing).

Mechanics shared with the DuckDB oracle twins: the first 8 hex chars of
``md5(salt || '|' || id)`` are uniform over [0, 16^8); thresholds are
compared LEXICOGRAPHICALLY against lowercase-hex literals, which both
engines order identically — no integer parsing needed on either side.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, functions as F

_SPACE = 16 ** 8  # 8 hex chars

# Salts and split weights; the DuckDB twins in __spark_entry__ read these
# constants.
SAMPLE_SALT = "sample-v1"
SPLIT_SALT = "split-v1"
SPLIT_WEIGHTS = {"train": 0.9, "val": 0.05, "test": 0.05}


def _hex_threshold(fraction: float) -> str:
    """String t such that P(bucket < t) == fraction (up to 1/16^8),
    compared lexicographically. Embedded as a literal in BOTH engine and
    oracle. fraction >= 1 returns 'g', which every 8-hex-char bucket sorts
    below ('g' > 'f' in the first character) — formatting 16^8 itself would
    yield a 9-char string that 'ffffffff' does NOT sort below."""
    if fraction >= 1:
        return "g"
    return format(max(0, int(fraction * _SPACE)), "08x")


def hash_bucket(id_col: Column, salt: str) -> Column:
    """First 8 hex chars of md5(salt|id) — the uniform sampling key.
    concat (not concat_ws) so a NULL id propagates to a NULL bucket,
    matching the oracle's `'salt|' || id` exactly: NULL-id rows fall out
    of samples and land in the final split, identically in both engines."""
    return F.substring(
        F.md5(F.concat(F.lit(salt + "|"), id_col.cast("string"))), 1, 8
    )


def sample_by_hash(df: DataFrame, fraction: float) -> DataFrame:
    """Deterministic ``fraction``-sample: keep rows whose hash bucket falls
    below the threshold. A pure filter — predicate-pushdown-friendly, zero
    shuffle, and re-runnable: membership is a function of (salt, doc_id)
    only."""
    return df.where(hash_bucket(F.col("doc_id"), SAMPLE_SALT) < _hex_threshold(fraction))


def hash_split(df: DataFrame) -> DataFrame:
    """Deterministic train/val/test assignment by cumulative hash ranges,
    in column ``split``.

    SPLIT_WEIGHTS maps split name -> fraction (the last split absorbs
    rounding). Assignment is per-row and independent of everything except
    (salt, doc_id), so splits are stable under corpus growth: adding
    documents never moves an existing document between splits — the
    property shuffling-based splitters lack.
    """
    *first, last = SPLIT_WEIGHTS
    bucket = hash_bucket(F.col("doc_id"), SPLIT_SALT)
    cum, expr = 0.0, F
    for name in first:
        cum += SPLIT_WEIGHTS[name]
        # F.when opens the CASE, Column.when extends it
        expr = expr.when(bucket < _hex_threshold(cum), F.lit(name))
    return df.withColumn("split", expr.otherwise(F.lit(last)))
