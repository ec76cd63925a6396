"""Iceberg graph-table edge: catalog-gated V2 writer with an identical
partitioned-parquet fallback (the sandbox ships no Iceberg jar — the
fallback IS the tested layout; the Iceberg branch differs only in the
final writer call)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from bio_re_with_entity_embeddings_spark.sources import iceberg as ICE


@pytest.fixture(scope="module")
def triples(spark):
    return spark.createDataFrame(
        [
            ("FN:0001", "uses", "PKG:0001", 0.5, 3),
            ("FN:0002", "uses", "PKG:0001", 0.2, 1),
            ("PKG:0001", "provides", "FN:0001", 0.5, 3),
            ("FN:0001", "calls", "FN:0002", 0.9, 7),
        ],
        "subj string, pred string, obj string, score double, n_docs long",
    )


def test_no_catalog_detected(spark):
    assert not ICE.iceberg_available(spark, None)
    assert not ICE.iceberg_available(spark, "nosuchcatalog")


def test_write_layout_partitioned_and_bucketed(spark, triples, tmp_path):
    target = str(tmp_path / "graph")
    ICE.write_triples(triples, target, n_buckets=8)
    preds = {d for d in os.listdir(target) if d.startswith("pred=")}
    assert preds == {"pred=uses", "pred=provides", "pred=calls"}
    # bucket dirs nested under each pred partition
    buckets = os.listdir(os.path.join(target, "pred=uses"))
    assert any(b.startswith("subj_bucket=") for b in buckets)


def test_roundtrip_schema_and_rows(spark, triples, tmp_path):
    target = str(tmp_path / "graph2")
    ICE.write_triples(triples, target, n_buckets=8)
    back = ICE.read_triples(spark, target)
    assert set(back.columns) == set(triples.columns)  # fallback col dropped
    got = {(r.subj, r.pred, r.obj, r.n_docs) for r in back.collect()}
    want = {(r.subj, r.pred, r.obj, r.n_docs) for r in triples.collect()}
    assert got == want


def test_partition_pruning_visible_in_plan(spark, triples, tmp_path):
    """A pred filter must prune to one partition directory — the reason
    the table is partitioned by pred at all."""
    target = str(tmp_path / "graph3")
    ICE.write_triples(triples, target, n_buckets=8)
    df = ICE.read_triples(spark, target).where(F.col("pred") == "uses")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "pred" in plan
    assert df.count() == 2


def test_overwrite_partitions_is_idempotent(spark, triples, tmp_path):
    target = str(tmp_path / "graph4")
    ICE.write_triples(triples, target, n_buckets=8)
    ICE.write_triples(triples, target, n_buckets=8, mode="overwritePartitions")
    assert ICE.read_triples(spark, target).count() == 4


def test_overwrite_partitions_is_dynamic_not_truncate(spark, triples, tmp_path):
    """overwritePartitions must only replace the partitions it writes:
    re-emitting JUST the 'uses' triples must leave provides/calls
    partitions intact (under Spark's default STATIC overwrite mode a
    plain mode('overwrite') would truncate the whole table)."""
    target = str(tmp_path / "graph5")
    key = "spark.sql.sources.partitionOverwriteMode"
    # pin STATIC (Spark's default): a dynamic session conf would mask
    # the truncation bug
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        ICE.write_triples(triples, target, n_buckets=8)
        uses_only = triples.where(F.col("pred") == "uses")
        ICE.write_triples(uses_only, target, n_buckets=8, mode="overwritePartitions")
        back = ICE.read_triples(spark, target)
        assert back.count() == 4
        assert {r.pred for r in back.select("pred").distinct().collect()} == {
            "uses",
            "provides",
            "calls",
        }
        # and the session conf was restored, not leaked
        assert spark.conf.get(key).lower() == "static"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_iceberg_v2_writer_branch(spark, triples, tmp_path):
    """Jar-gated integration test for the real V2 writer branch: runs
    only when an Iceberg runtime is on the classpath (skipped in this
    sandbox). Covers writeTo().partitionedBy(pred, bucket(N, subj))
    create/append/overwritePartitions + read-back."""
    try:
        spark._jvm.java.lang.Class.forName(
            "org.apache.iceberg.spark.SparkCatalog"
        )
    except Exception:
        pytest.skip("no Iceberg runtime jar on the classpath")
    cat = "icetest"
    spark.conf.set(f"spark.sql.catalog.{cat}", "org.apache.iceberg.spark.SparkCatalog")
    spark.conf.set(f"spark.sql.catalog.{cat}.type", "hadoop")
    spark.conf.set(f"spark.sql.catalog.{cat}.warehouse", str(tmp_path / "wh"))
    assert ICE.iceberg_available(spark, cat)
    target = f"{cat}.db.graph"
    ICE.write_triples(triples, target, catalog=cat, n_buckets=8)
    assert ICE.read_triples(spark, target, catalog=cat).count() == 4
    uses_only = triples.where(F.col("pred") == "uses")
    ICE.write_triples(uses_only, target, catalog=cat, mode="overwritePartitions")
    back = ICE.read_triples(spark, target, catalog=cat)
    assert back.count() == 4  # other preds untouched
    ICE.write_triples(uses_only, target, catalog=cat, mode="append")
    assert ICE.read_triples(spark, target, catalog=cat).count() == 6


def test_read_corpus_parquet_path(spark):
    df = ICE.read_corpus(spark, "/root/testdata/sf0.001/documents.parquet")
    assert "doc_id" in df.columns and df.count() > 0
