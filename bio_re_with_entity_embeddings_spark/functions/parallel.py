"""Scan-parallelism guard (spark_optimization_guide §2.5/§6: input skew
and split-limited scans).

A columnar scan of a small single-file table plans ONE input split
(``documents.parquet`` at bench scale is a single ~5 MB file = one
row group = one task no matter what ``maxPartitionBytes`` says).  Any
heavy per-row projection chained onto such a scan — char-gram explode +
per-gram hashing, minhash signature aggregation, quality scoring,
dictionary ``contains`` probes — then runs on ONE core while the rest
of the machine idles.  Measured round 6 (sf1.0, local[32]): the
winnowing gram+md5 subtree alone was 19.6 s single-task of a 24.5 s
query; the minhash signature and shingle subtrees were 24.7 s / 27.1 s
single-task stages of a 29 s query.

``ensure_min_parallelism`` repartitions ONLY when the planned scan
parallelism is below the cluster's ``defaultParallelism`` — at
production scale the scan has hundreds of splits and this is an exact
no-op, so it cannot add a shuffle where data is already wide.  The
shuffled bytes in the small case are the raw input rows (the text),
which is the cheapest thing this stage will ever move (every derived
gram/hash row downstream is a multiple of it).

The repartition always passes an EXPLICIT partition count: an explicit
count marks the exchange ``REPARTITION_BY_NUM``, which AQE's
coalescePartitions leaves alone — without it AQE would fold the small
input right back into one partition and re-serialize the stage this
helper exists to parallelize.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Bytes gate for call sites whose per-row map work is CHEAP (one
# xxhash64 per gram, a 4-token concat): below this input size the
# guard's repartition exchange costs more than single-task execution
# of the map side, above it the parallel map side wins.  Measured
# round 6 at the two bench sizes (driver sf0.1 documents = 0.6 MB,
# sf1.0-shaped = ~6 MB): decontaminate 0.69 s ungated vs 1.24 s gated
# at sf0.1, 1.3 s gated vs 2.3 s ungated at sf1.0; minhash xxhash64
# mode the same shape.  2 MB sits well inside the measured crossover
# band and scales with input (not with the local core count).
CHEAP_MAP_MIN_BYTES = 2 * 1024 * 1024


# Catalyst's "no estimate" sizeInBytes (spark.sql.defaultSizeInBytes
# defaults to Long.MaxValue); any estimate this large means unknown.
_SIZE_UNKNOWN = 2**63 - 1


def _planned_size_bytes(df: DataFrame) -> int | None:
    """Optimizer size estimate (file bytes for a parquet scan);
    plan-time metadata only, no job runs. ``None`` when the estimate
    is unknown: the sentinel size, or no ``_jdf`` plan to introspect
    (Spark Connect DataFrames have none)."""
    try:
        # py4j converts the scala BigInt to a Python int already.
        sz = int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())
    except Exception:
        return None
    return None if sz >= _SIZE_UNKNOWN else sz


def ensure_min_parallelism(
    df: DataFrame, *key_cols: str, min_bytes: int = 0
) -> DataFrame:
    """Repartition ``df`` to the session shuffle width iff its planned
    parallelism is below ``defaultParallelism`` (see module doc).

    ``key_cols``: hash-repartition keys (deterministic, no
    sort-before-repartition pass); empty = round-robin.  Keys are for
    spreading only — downstream code must not rely on the clustering,
    because at scale the repartition does not happen.

    ``min_bytes``: additionally skip the repartition when the plan's
    estimated input size is below this (see ``CHEAP_MAP_MIN_BYTES``).
    0 (default) keeps the pure width rule — for heavy map sides (md5
    chains, winnowing grams) the guard wins even on sub-MB inputs.
    """
    spark = df.sparkSession
    cores = spark.sparkContext.defaultParallelism
    try:
        # JVM-side physical-plan introspection: how many partitions
        # would this frame execute with?  Plan-time only — no Python
        # RDD is created and no job runs (the package's no-RDD rule
        # bans row-level RDD compute; this touches metadata only).
        n = df._jdf.queryExecution().toRdd().getNumPartitions()
    except Exception:
        return df
    if n >= cores:
        return df
    if min_bytes:
        sz = _planned_size_bytes(df)
        if sz is not None and sz < min_bytes:
            return df
    # Exactly the machine width, not the (2x) session shuffle width:
    # this guard only fires on SMALL single-split inputs, where the
    # extra tasks of a wider repartition are pure scheduling overhead
    # (round 6: 64 -> 32 partitions measured a small consistent win on
    # the sf0.1 minhash/signature subtrees, identical at sf1.0).
    target = cores
    if key_cols:
        return df.repartition(target, *[F.col(c) for c in key_cols])
    return df.repartition(target)
