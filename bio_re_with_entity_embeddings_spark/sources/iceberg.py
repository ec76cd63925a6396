"""Iceberg graph-table edge (north rule: "threshold-based triple
emission into (subj, pred, obj) Iceberg graph tables"; input "Iceberg
table of source-code repositories").

This sandbox ships no Iceberg runtime jar, so the writer is REAL but
catalog-gated: when an Iceberg catalog is configured on the session it
uses the V2 writer (``writeTo(...).partitionedBy(...)`` with
create-or-replace / append / dynamic-overwrite semantics — the modes a
10^12-row graph table needs); otherwise it degrades to the identical
layout as partitioned parquet so every test exercises the same code
path up to the final writer call.

Layout choices (the part that matters at 100 TB):
* triples partitioned by ``pred`` (few, large, always-filtered) and
  bucketed by ``subj`` hash — point lookups and subj-joins prune to one
  bucket; Iceberg's hidden ``bucket(N, subj)`` transform does this
  without materializing a column (parquet fallback materializes
  ``subj_bucket``).
* corpus reads go through ``read_corpus`` so the engine takes an
  Iceberg table name OR a path uniformly; filters/pruning push down
  through either (FileScan parquet / Iceberg BatchScan both report
  PushedFilters).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def iceberg_available(spark: SparkSession, catalog: str | None) -> bool:
    """True iff ``catalog`` names a configured Iceberg catalog."""
    if not catalog:
        return False
    impl = spark.conf.get(f"spark.sql.catalog.{catalog}", None)
    return impl is not None


def read_corpus(
    spark: SparkSession, source: str, catalog: str | None = None
) -> DataFrame:
    """Corpus scan: Iceberg table name (``catalog.db.table``) when a
    catalog is configured, parquet path otherwise. Both are V2
    relations — Catalyst pushes filters/column pruning into either."""
    if iceberg_available(spark, catalog):
        return spark.read.table(source)
    return spark.read.parquet(source)


def write_triples(
    triples: DataFrame,
    target: str,
    catalog: str | None = None,
    n_buckets: int = 64,
    mode: str = "createOrReplace",
) -> None:
    """Write the triple table partitioned by ``pred``, bucketed by
    ``subj``.

    Iceberg path: hidden-partition transforms ``(pred, bucket(N,
    subj))`` via the V2 writer; ``mode``: 'createOrReplace' | 'append'
    | 'overwritePartitions' (dynamic, the idempotent-rerun mode).
    Parquet fallback: same layout with an explicit ``subj_bucket``
    column (pmod of a 64-bit hash — matches the repo-hash bucketing
    convention in plans/manifest.py)."""
    spark = triples.sparkSession
    if iceberg_available(spark, catalog):
        writer = triples.writeTo(target).partitionedBy(
            F.col("pred"), F.bucket(n_buckets, F.col("subj"))
        )
        if mode == "append":
            writer.append()
        elif mode == "overwritePartitions":
            writer.overwritePartitions()
        else:
            writer.createOrReplace()
        return
    out = triples.withColumn(
        "subj_bucket",
        F.pmod(F.xxhash64("subj"), F.lit(n_buckets)).cast("int"),
    )
    writer = (
        out.write.mode("overwrite" if mode != "append" else "append")
        .partitionBy("pred", "subj_bucket")
    )
    if mode == "overwritePartitions":
        # Iceberg's overwritePartitions() is dynamic by contract; the
        # parquet fallback must match it. Under Spark's default STATIC
        # partitionOverwriteMode, mode('overwrite') truncates the WHOLE
        # table, deleting unrelated pred/bucket partitions on an
        # idempotent rerun. A per-write option: the session conf is
        # left as it was.
        writer = writer.option("partitionOverwriteMode", "dynamic")
    writer.parquet(target)


def read_triples(
    spark: SparkSession, target: str, catalog: str | None = None
) -> DataFrame:
    """Read back a triple table written by ``write_triples`` (drops the
    fallback's materialized bucket column so both paths round-trip to
    the same schema)."""
    if iceberg_available(spark, catalog):
        return spark.read.table(target)
    df = spark.read.parquet(target)
    return df.drop("subj_bucket")
