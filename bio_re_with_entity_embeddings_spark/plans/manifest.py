"""Per-partition checkpoint / metrics / lineage manifests -> exact
resume (north rule; FIXTURES.md section 7).

The reference's "resume" is file-existence caching per stage
(``prepare_entity_dataset.py:118-126``, ``prepare_pair_dataset.py:130-138``):
all-or-nothing, no lineage, silently stale. Here every stage writes

  {base}/{stage}/data/bucket=N/*.parquet      (idempotent overwrite per bucket)
  {base}/{stage}/_manifest/*.parquet          (manifest-LAST, appended)

where ``bucket = pmod(xxhash64(repo), n_buckets)`` — the explicit
repo-hash partitioning of the north rule. A rerun recomputes a bucket
iff it has no manifest row OR its input changed — the manifest stores
each bucket's input row count and input sha-xor fold, and resume
compares them against the current input, so a grown/edited corpus
recomputes exactly the touched buckets (per-bucket dynamic partition
overwrite keeps that idempotent). Both sides hold at most n_buckets
rows, so the driver compares them: an unchanged stage returns its
checkpoint without running, a changed one runs on its stale buckets'
rows only. Double-written manifest rows are deduped on read by (stage,
partition_id) keeping the LATEST (ts, run_id) row — the data directory
always reflects the last writer.

Lineage: ``content_sha_xor`` is an order-insensitive XOR-fold of the
rows' ``content_sha`` (first 15 hex chars as int64) — equality between
the input snapshot's fold and the stage manifest fold is the per-row
content-sha lineage invariant (BASELINE.json).
"""

from __future__ import annotations

import hashlib
import os
import time
import uuid

import pandas as pd
from pyspark.errors import AnalysisException
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_MANIFEST_SCHEMA = T.StructType([
    T.StructField(name, dtype) for name, dtype in (
        ("stage", T.StringType()), ("partition_id", T.IntegerType()),
        ("rows_in", T.LongType()), ("rows_out", T.LongType()),
        ("content_sha_xor", T.StringType()), ("in_sha_xor", T.StringType()),
        ("run_wall_ms", T.LongType()), ("run_id", T.StringType()),
        ("ts", T.LongType()),
    )
])
_ZERO = "%016x" % 0


def with_bucket(df: DataFrame, key_col: str = "repo", n_buckets: int = 32) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def sha_xor(df: DataFrame, sha_col: str = "content_sha"):
    """Order-insensitive lineage fold: bit_xor of sha prefix as int64."""
    return F.bit_xor(F.conv(F.substring(F.col(sha_col), 1, 15), 16, 10).cast("long"))


def stage_hash(parts) -> str:
    """Short stable hash of a stage's result-affecting inputs that its
    row-level input fingerprint cannot see (config knobs, dimension
    fingerprints) — the suffix of config-keyed stage names."""
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:10]


def content_fp(df: DataFrame, col: str | None = None) -> tuple[int, str]:
    """Duplicate-sensitive, order-insensitive content fingerprint of a
    dimension-sized table: row count + decimal sum of the 15-hex-digit
    sha2 prefixes of ``col`` (default: the whole row as JSON —
    null/array-safe, unlike concat_ws, which silently drops nulls).
    Not the manifest's xor fold: xor cancels identical rows pairwise,
    so {E,E} and {D,D} would collide and a swapped dimension could
    silently resume a stale stage. The decimal sum is exact, with no
    ANSI long-overflow hazard. One map-combined job."""
    value = F.col(col) if col else F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    d = df.select(
        F.conv(F.substring(F.sha2(value, 256), 1, 15), 16, 10)
        .cast("decimal(38,0)")
        .alias("sha_i")
    )
    row = d.agg(F.count(F.lit(1)).alias("n"), F.sum("sha_i").alias("s")).collect()[0]
    return (int(row["n"]), str(row["s"]))


def _manifest_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "_manifest")


def _data_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "data")


def read_manifest(spark: SparkSession, base: str, stage: str) -> DataFrame | None:
    """The stage's manifest, one row per bucket, or ``None`` when the
    ``_manifest`` directory is missing or holds no part file yet. Any
    other read failure (an unreadable part file) raises: treating it as
    "no manifest" would recompute the stage on every run and keep
    appending to the broken directory."""
    path = _manifest_path(base, stage)
    try:
        # mergeSchema: a dir holding pre-rename (wall_ms) and current
        # (run_wall_ms) rows must not resolve file-order dependently.
        m = spark.read.option("mergeSchema", "true").parquet(path)
    except AnalysisException as e:
        if e.getCondition() in ("PATH_NOT_FOUND", "UNABLE_TO_INFER_SCHEMA"):
            return None
        raise
    # Migration: manifests written before the wall_ms -> run_wall_ms
    # rename stay resumable (ADVICE r3) — resolve whichever exists.
    cols = set(m.columns)
    if "run_wall_ms" not in cols:
        m = m.withColumn(
            "run_wall_ms",
            F.col("wall_ms").cast("long")
            if "wall_ms" in cols
            else F.lit(None).cast("long"),
        )
    elif "wall_ms" in cols:
        m = m.withColumn(
            "run_wall_ms",
            F.coalesce(F.col("run_wall_ms"), F.col("wall_ms").cast("long")),
        )
    # Dedupe re-runs: keep the LATEST manifest row per partition (the
    # per-bucket dynamic overwrite means data reflects the last writer;
    # a bucket recomputed for changed input must not resurrect stale
    # input stats). (ts, run_id) orders deterministically.
    w_cols = ["stage", "partition_id"]
    return (
        m.groupBy(*w_cols)
        .agg(
            F.max_by(
                F.struct(
                    "rows_in", "rows_out", "content_sha_xor", "in_sha_xor",
                    "run_wall_ms", "run_id",
                ),
                F.struct("ts", "run_id"),
            ).alias("s")
        )
        .select(*w_cols, "s.*")
    )


def _bucket_stats(df: DataFrame, sha_col: str) -> dict[int, tuple[int, str]]:
    """bucket -> (row count, hex sha fold): one map-combined aggregate,
    collected (at most n_buckets rows). The fold is formatted in Spark,
    ``%016x`` of the fold coalesced to 0, exactly as manifests store it
    — so stored and current stats compare as strings, and a bucket
    whose shas are all null matches its manifest row."""
    fold = sha_xor(df, sha_col) if sha_col in df.columns else F.lit(0).cast("long")
    rows = df.groupBy("bucket").agg(
        F.count(F.lit(1)).alias("n"),
        F.format_string("%016x", F.coalesce(fold, F.lit(0).cast("long"))).alias("fold"),
    ).collect()
    return {r["bucket"]: (r["n"], r["fold"]) for r in rows}


def run_stage(
    spark: SparkSession,
    base: str,
    stage: str,
    bucketed_input: DataFrame,
    fn,
    run_id: str | None = None,
    sha_col: str = "content_sha",
) -> DataFrame:
    """Execute ``fn(input_subset) -> DataFrame`` on the stale buckets,
    materialize + manifest them, and return the full stage output.

    ``bucketed_input`` must carry an int ``bucket`` column (use
    ``with_bucket``); ``fn``'s output must preserve it. A bucket is
    DONE iff it has a manifest row AND that row's recorded input stats
    — row count + content-sha xor fold — equal the current input's.
    The driver decides this from one map-combined count+xor aggregate
    over the input and the collected manifest, each at most n_buckets
    rows. An unchanged stage (every bucket done, none orphaned) costs
    just that: it returns its checkpoint without calling ``fn`` or
    writing anything. Otherwise ``fn`` sees only the stale buckets'
    rows, which are idempotently overwritten."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    manifest = read_manifest(spark, base, stage)
    prev = {} if manifest is None else {r["partition_id"]: r for r in manifest.collect()}
    cur = _bucket_stats(bucketed_input, sha_col)
    stale = sorted(
        b for b, s in cur.items()
        if b not in prev or (prev[b]["rows_in"], prev[b]["in_sha_xor"]) != s
    )
    # ORPHANS: manifested buckets whose input vanished ENTIRELY (and
    # not tombstoned yet, rows 0/0). Dynamic overwrite never touches
    # their directories, so deleted docs would silently persist in
    # stage output: delete them and tombstone the manifest.
    orphaned = sorted(
        b for b, r in prev.items()
        if b not in cur and (r["rows_in"], r["rows_out"]) != (0, 0)
    )
    data = _data_path(base, stage)
    if manifest is not None and not stale and not orphaned:
        return spark.read.parquet(data)

    # Stale directories go too: dynamic overwrite replaces only the
    # buckets fn emits rows for, so a stale bucket whose new output is
    # empty would keep its old rows.
    jvm = spark._jvm
    hconf = spark._jsc.hadoopConfiguration()
    for b in orphaned + stale:
        p = jvm.org.apache.hadoop.fs.Path(os.path.join(data, f"bucket={b}"))
        p.getFileSystem(hconf).delete(p, True)

    # A literal bucket filter prunes partitions of a checkpointed input;
    # bucket is never null (pmod of a hash), so no row is lost.
    todo = (
        bucketed_input if manifest is None
        else bucketed_input.where(F.col("bucket").isin(stale))
    )
    out = fn(todo)
    assert "bucket" in out.columns, f"stage {stage}: fn must preserve 'bucket'"

    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    out.write.mode("overwrite").partitionBy("bucket").parquet(data)
    # Whole-RUN wall for this stage invocation, stamped identically
    # onto every bucket it wrote — honest name: this is NOT a
    # per-bucket task time (capturing that needs a Spark listener).
    run_wall_ms = int((time.perf_counter() - t0) * 1000)

    written = spark.read.parquet(data)
    got = _bucket_stats(written.where(F.col("bucket").isin(stale)), sha_col)
    ts = time.time_ns()
    rows = [
        (stage, b, cur[b][0], *got.get(b, (0, _ZERO)), cur[b][1], run_wall_ms, run_id, ts)
        for b in stale
    ] + [(stage, b, 0, 0, _ZERO, _ZERO, run_wall_ms, run_id, ts) for b in orphaned]
    # From pandas, the rows reach the JVM as Arrow batches: no Python
    # worker job, one part file per append.
    spark.createDataFrame(
        pd.DataFrame(rows, columns=_MANIFEST_SCHEMA.names), _MANIFEST_SCHEMA
    ).coalesce(1).write.mode("append").parquet(_manifest_path(base, stage))
    return written


def lineage_check(
    spark: SparkSession, base: str, stage: str, bucketed_input: DataFrame,
    sha_col: str = "content_sha",
) -> bool:
    """Per-row lineage invariant: XOR-fold of input content shas equals
    the manifest's fold, per bucket (stages that preserve one row per
    doc; identity for the ingest stage)."""
    manifest = read_manifest(spark, base, stage)
    if manifest is None:
        return False
    prev = {r["partition_id"]: r for r in manifest.collect()}
    cur = _bucket_stats(bucketed_input, sha_col)
    # A bucket present on only ONE side (input never manifested, or
    # manifest row with no input) is a lineage failure. Exception: a
    # TOMBSTONE (orphaned bucket whose input vanished) is consistent,
    # not a failure — identified by its explicit marker (rows_in == 0
    # AND rows_out == 0, how run_stage writes tombstones), NOT by a
    # zero sha fold: a live bucket can legitimately fold to zero
    # (paired duplicate shas, or a stage without sha_col), and its
    # vanished input must still FAIL the check (ADVICE r3).
    return all(
        b in prev and (
            prev[b]["content_sha_xor"] == cur[b][1] if b in cur
            else (prev[b]["rows_in"], prev[b]["rows_out"]) == (0, 0)
        )
        for b in prev.keys() | cur.keys()
    )
