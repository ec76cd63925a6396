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
rows only. Double-written manifest rows are deduped on the driver by
partition_id, keeping the LATEST (ts, run_id) row — the data
directory always reflects the last writer.

Each fingerprint is taken once per run. A stage's output stats are
observed on the write that produces them, never re-read; a stage fed
by another stage's checkpoint takes its input stats from that stage's
output stats (``_run_stage``'s ``input_stats``; ``one_bucket`` for a
global stage), so only a stage over raw input scans it.

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
from pyspark.sql import DataFrame, Observation, Row, SparkSession
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
# Read schema: manifests written before the wall_ms -> run_wall_ms
# rename stay resumable (ADVICE r3); a file lacking a column reads it
# as null, so old, new and mixed directories resolve file-order
# independently without a schema-inference job.
_READ_SCHEMA = T.StructType(
    _MANIFEST_SCHEMA.fields + [T.StructField("wall_ms", T.LongType())]
)
_ZERO = "%016x" % 0

#: bucket -> (row count, ``%016x`` sha fold), as a manifest stores them
Stats = dict[int, tuple[int, str]]


def with_bucket(df: DataFrame, key_col: str = "repo", n_buckets: int = 32) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).cast("int")
    )


def _sha_long(sha_col: str):
    return F.conv(F.substring(F.col(sha_col), 1, 15), 16, 10).cast("long")


def sha_xor(df: DataFrame, sha_col: str = "content_sha"):
    """Order-insensitive lineage fold: bit_xor of sha prefix as int64."""
    return F.bit_xor(_sha_long(sha_col))


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


def one_bucket(stats: Stats) -> Stats:
    """``stats`` of a bucketed table as they read once every row is put
    in bucket 0 (the input of a global stage): row counts summed, folds
    xor-ed. An empty table has no bucket."""
    n, fold = 0, 0
    for rows, sha in stats.values():
        n, fold = n + rows, fold ^ int(sha, 16)
    return {0: (n, "%016x" % fold)} if n else {}


def _manifest_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "_manifest")


def _data_path(base: str, stage: str) -> str:
    return os.path.join(base, stage, "data")


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) of ``path``, for driver-side probes and deletes."""
    p = spark._jvm.org.apache.hadoop.fs.Path(path)
    return p.getFileSystem(spark._jsc.hadoopConfiguration()), p


def _manifest_rows(spark: SparkSession, base: str, stage: str) -> dict[int, Row] | None:
    """partition_id -> the bucket's latest manifest row, or ``None``
    when the ``_manifest`` directory is missing or holds no row yet.
    The directory is probed first, so a cold stage runs no failing
    read; an unreadable part file raises (treating it as "no manifest"
    would recompute the stage on every run and keep appending to the
    broken directory). One job: the rows are collected and deduped on
    the driver — the latest (ts, run_id) row per bucket, since the
    per-bucket dynamic overwrite means data reflects the last writer
    and a bucket recomputed for changed input must not resurrect stale
    input stats."""
    path = _manifest_path(base, stage)
    fs, p = _hadoop_path(spark, path)
    if not fs.exists(p):
        return None
    latest: dict[int, Row] = {}
    for r in spark.read.schema(_READ_SCHEMA).parquet(path).collect():
        b = r["partition_id"]
        if b not in latest or (r["ts"], r["run_id"]) > (latest[b]["ts"], latest[b]["run_id"]):
            latest[b] = r
    return latest or None


def read_manifest(spark: SparkSession, base: str, stage: str) -> DataFrame | None:
    """The stage's manifest, one row per bucket (its latest), or
    ``None`` when the ``_manifest`` directory is missing or holds no
    row yet. Any other read failure (an unreadable part file) raises."""
    rows = _manifest_rows(spark, base, stage)
    if rows is None:
        return None
    schema = T.StructType([f for f in _MANIFEST_SCHEMA.fields if f.name != "ts"])
    return spark.createDataFrame(
        [
            tuple(r[c] for c in schema.names[:-2])
            + (r["wall_ms"] if r["run_wall_ms"] is None else r["run_wall_ms"], r["run_id"])
            for r in rows.values()
        ],
        schema,
    )


def _bucket_stats(df: DataFrame, sha_col: str) -> Stats:
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


def _write_observed(out: DataFrame, data: str, buckets: list[int], sha_col: str) -> Stats:
    """Overwrite ``out``'s buckets under ``data`` and return each of
    ``buckets``' (rows, fold) — ``_bucket_stats`` of what was written,
    observed on the write itself instead of re-read. The per-write
    dynamic option replaces only the buckets ``out`` has rows for and
    leaves the session conf alone."""
    bucket = F.col("bucket")
    sha = _sha_long(sha_col) if sha_col in out.columns else F.lit(0).cast("long")
    obs = Observation()
    out.observe(obs, *[
        agg
        for i, b in enumerate(buckets)
        for agg in (
            F.count_if(bucket == b).alias(f"n{i}"),
            F.bit_xor(F.when(bucket == b, sha)).alias(f"x{i}"),
        )
    ]).write.mode("overwrite").option("partitionOverwriteMode", "dynamic").partitionBy(
        "bucket"
    ).parquet(data)
    got = obs.get
    return {b: (got[f"n{i}"], "%016x" % (got[f"x{i}"] or 0)) for i, b in enumerate(buckets)}


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
    rows, which are idempotently overwritten; their output stats are
    observed on that write."""
    return _run_stage(spark, base, stage, bucketed_input, fn, run_id, sha_col)[0]


def _run_stage(
    spark: SparkSession,
    base: str,
    stage: str,
    bucketed_input: DataFrame,
    fn,
    run_id: str | None = None,
    sha_col: str = "content_sha",
    input_stats: Stats | None = None,
) -> tuple[DataFrame, Stats]:
    """``run_stage``, also returning the stage's output stats: every
    bucket with rows, as ``_bucket_stats`` of the returned frame would
    give them, taken from the manifest and the write. A runner passes
    them on as the next stage's ``input_stats``, which stand in for
    the scan of ``bucketed_input`` — they must be the stats of exactly
    that frame (buckets with no rows left out)."""
    run_id = run_id or uuid.uuid4().hex[:12]
    t0 = time.perf_counter()
    prev = _manifest_rows(spark, base, stage)
    cur = _bucket_stats(bucketed_input, sha_col) if input_stats is None else input_stats
    stale = sorted(
        b for b, s in cur.items()
        if prev is None or b not in prev or (prev[b]["rows_in"], prev[b]["in_sha_xor"]) != s
    )
    # ORPHANS: manifested buckets whose input vanished ENTIRELY (and
    # not tombstoned yet, rows 0/0). Dynamic overwrite never touches
    # their directories, so deleted docs would silently persist in
    # stage output: delete them and tombstone the manifest.
    orphaned = sorted(
        b for b, r in (prev or {}).items()
        if b not in cur and (r["rows_in"], r["rows_out"]) != (0, 0)
    )
    data = _data_path(base, stage)
    out_stats = {
        b: (r["rows_out"], r["content_sha_xor"])
        for b, r in (prev or {}).items()
        if r["rows_out"] and b not in stale and b not in orphaned
    }
    if prev is not None and not stale and not orphaned:
        return spark.read.parquet(data), out_stats

    # Stale directories go too: dynamic overwrite replaces only the
    # buckets fn emits rows for, so a stale bucket whose new output is
    # empty would keep its old rows.
    for b in orphaned + stale:
        fs, p = _hadoop_path(spark, os.path.join(data, f"bucket={b}"))
        fs.delete(p, True)

    got: Stats = {}
    if stale:
        # A literal bucket filter prunes partitions of a checkpointed
        # input; bucket is never null (pmod of a hash), so no row is
        # lost.
        todo = (
            bucketed_input if prev is None
            else bucketed_input.where(F.col("bucket").isin(stale))
        )
        out = fn(todo)
        assert "bucket" in out.columns, f"stage {stage}: fn must preserve 'bucket'"
        got = _write_observed(out, data, stale, sha_col)
    # Whole-RUN wall for this stage invocation, stamped identically
    # onto every bucket it wrote — honest name: this is NOT a
    # per-bucket task time (capturing that needs a Spark listener).
    run_wall_ms = int((time.perf_counter() - t0) * 1000)

    written = spark.read.parquet(data)
    ts = time.time_ns()
    rows = [
        (stage, b, cur[b][0], *got[b], cur[b][1], run_wall_ms, run_id, ts)
        for b in stale
    ] + [(stage, b, 0, 0, _ZERO, _ZERO, run_wall_ms, run_id, ts) for b in orphaned]
    # From pandas, the rows reach the JVM as Arrow batches: no Python
    # worker job, one part file per append.
    spark.createDataFrame(
        pd.DataFrame(rows, columns=_MANIFEST_SCHEMA.names), _MANIFEST_SCHEMA
    ).coalesce(1).write.mode("append").parquet(_manifest_path(base, stage))
    out_stats.update((b, s) for b, s in got.items() if s[0])
    return written, out_stats


def lineage_check(
    spark: SparkSession, base: str, stage: str, bucketed_input: DataFrame,
    sha_col: str = "content_sha",
) -> bool:
    """Per-row lineage invariant: XOR-fold of input content shas equals
    the manifest's fold, per bucket (stages that preserve one row per
    doc; identity for the ingest stage)."""
    prev = _manifest_rows(spark, base, stage)
    if prev is None:
        return False
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
