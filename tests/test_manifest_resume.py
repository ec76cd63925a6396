"""Checkpoint/resume + lineage manifest (north rule): rerun after
partial completion recomputes ONLY missing buckets and yields
byte-identical output; lineage xor-fold matches input."""

from __future__ import annotations

import os
import shutil

import pytest
from pyspark.sql import functions as F

from bio_re_with_entity_embeddings_spark import fixtures, schemas
from bio_re_with_entity_embeddings_spark.plans import manifest as M
from bio_re_with_entity_embeddings_spark.plans import pipeline


@pytest.fixture()
def workdir(tmp_path):
    d = str(tmp_path / "stages")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def _corpus(spark):
    dictionary = fixtures.make_dictionary()
    rows = fixtures.make_corpus_rows(200, dictionary)
    return pipeline.ingest(spark.createDataFrame(rows, schemas.CORPUS))


def test_stage_runs_and_manifests(spark, workdir):
    docs = M.with_bucket(_corpus(spark), "repo", 8)
    out = M.run_stage(
        spark, workdir, "ident", docs, lambda df: df, run_id="r1"
    )
    assert out.count() == 200
    m = M.read_manifest(spark, workdir, "ident").toPandas()
    assert set(m["partition_id"]) <= set(range(8))
    assert m["rows_in"].sum() == 200 and m["rows_out"].sum() == 200
    assert (m["run_id"] == "r1").all()
    # lineage invariant: identity stage keeps the xor-fold
    assert M.lineage_check(spark, workdir, "ident", docs)


def test_resume_skips_completed_buckets(spark, workdir):
    docs = M.with_bucket(_corpus(spark), "repo", 8).cache()
    # simulate a failed first run: only buckets 0-3 completed
    partial = docs.where(F.col("bucket") < 4)
    M.run_stage(spark, workdir, "st", partial, lambda df: df, run_id="r1")
    m1 = M.read_manifest(spark, workdir, "st").toPandas()
    done_buckets = set(m1["partition_id"])

    calls = {}

    def fn(df):
        calls["buckets"] = sorted(
            r.bucket for r in df.select("bucket").distinct().collect()
        )
        return df

    out = M.run_stage(spark, workdir, "st", docs, fn, run_id="r2")
    # second run touched only the missing buckets
    assert set(calls["buckets"]).isdisjoint(done_buckets)
    # full output present and identical to the unchunked input
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    exp = sorted(r.doc_id for r in docs.select("doc_id").collect())
    assert got == exp
    # manifest: exactly one row per bucket after dedup, r1 rows kept
    m2 = M.read_manifest(spark, workdir, "st").toPandas()
    assert len(m2) == m2["partition_id"].nunique()
    kept = dict(zip(m2["partition_id"], m2["run_id"]))
    for b in done_buckets:
        assert kept[b] == "r1"


def test_grown_corpus_recomputes_changed_buckets(spark, workdir):
    """A bucket whose INPUT changed (grown corpus) must be recomputed,
    not skipped forever on the strength of an old manifest row; buckets
    with identical input stay attributed to the first run."""
    dictionary = fixtures.make_dictionary()
    rows = fixtures.make_corpus_rows(200, dictionary)
    small = pipeline.ingest(spark.createDataFrame(rows, schemas.CORPUS))
    big = pipeline.ingest(
        spark.createDataFrame(
            fixtures.make_corpus_rows(260, dictionary), schemas.CORPUS
        )
    )
    b_small = M.with_bucket(small, "repo", 8).cache()
    b_big = M.with_bucket(big, "repo", 8).cache()
    M.run_stage(spark, workdir, "st", b_small, lambda df: df, run_id="r1")

    grown = {
        r.bucket
        for r in b_big.groupBy("bucket").count()
        .join(
            b_small.groupBy("bucket").count().withColumnRenamed("count", "c0"),
            "bucket", "left",
        )
        .where(~F.col("count").eqNullSafe(F.col("c0")))
        .collect()
    }
    assert grown, "fixture must actually grow some buckets"

    out = M.run_stage(spark, workdir, "st", b_big, lambda df: df, run_id="r2")
    assert out.count() == 260
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    exp = sorted(r.doc_id for r in b_big.select("doc_id").collect())
    assert got == exp  # no stale rows, no dropped new rows
    m = M.read_manifest(spark, workdir, "st").toPandas()
    kept = dict(zip(m["partition_id"], m["run_id"]))
    for b, rid in kept.items():
        assert rid == ("r2" if b in grown else "r1"), (b, rid)
    assert M.lineage_check(spark, workdir, "st", b_big)
    # and the old, smaller input now FAILS lineage (null-safe compare)
    assert not M.lineage_check(spark, workdir, "st", b_small.where(F.col("bucket").isin(list(grown))))


def test_lineage_check_nullsafe_missing_buckets(spark, workdir):
    """Buckets present in the input but absent from the manifest are a
    lineage FAILURE (the old null != value comparison dropped them)."""
    docs = M.with_bucket(_corpus(spark), "repo", 8).cache()
    partial = docs.where(F.col("bucket") < 2)
    M.run_stage(spark, workdir, "st", partial, lambda df: df, run_id="r1")
    assert M.lineage_check(spark, workdir, "st", partial)
    assert not M.lineage_check(spark, workdir, "st", docs)


def test_read_manifest_pre_rename_wall_ms_schema(spark, workdir):
    """Manifests written before the wall_ms -> run_wall_ms rename must
    stay resumable (ADVICE r3): read_manifest resolves the old column,
    and a dir mixing old- and new-schema row files reads stably."""
    zero = "%016x" % 0
    old = spark.createDataFrame(
        [("st", 0, 5, 5, zero, zero, 123, "r0", 1)],
        "stage string, partition_id int, rows_in long, rows_out long, "
        "content_sha_xor string, in_sha_xor string, wall_ms long, "
        "run_id string, ts long",
    )
    old.write.mode("append").parquet(M._manifest_path(workdir, "st"))
    m = M.read_manifest(spark, workdir, "st")
    assert m is not None
    row = m.toPandas().iloc[0]
    assert row["run_wall_ms"] == 123 and row["run_id"] == "r0"

    # mixed dir: append a new-schema row file, both must survive
    new = spark.createDataFrame(
        [("st", 1, 7, 7, zero, zero, 456, "r1", 2)],
        "stage string, partition_id int, rows_in long, rows_out long, "
        "content_sha_xor string, in_sha_xor string, run_wall_ms long, "
        "run_id string, ts long",
    )
    new.write.mode("append").parquet(M._manifest_path(workdir, "st"))
    p = M.read_manifest(spark, workdir, "st").toPandas().set_index("partition_id")
    assert p.loc[0, "run_wall_ms"] == 123
    assert p.loc[1, "run_wall_ms"] == 456


def test_lineage_zero_fold_bucket_is_not_a_tombstone(spark, workdir):
    """A live bucket whose sha fold is legitimately zero (paired
    duplicate shas xor away) must still FAIL lineage when its input
    vanishes — tombstones are identified by the explicit rows_in == 0
    AND rows_out == 0 marker, not the fold value (ADVICE r3)."""
    rows = [
        ("a", "aaaaaaaaaaaaaaaaaaaa", 0),
        ("b", "aaaaaaaaaaaaaaaaaaaa", 0),  # duplicate sha: bucket-0 fold = 0
        ("c", "cccccccccccccccccccc", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id string, content_sha string, bucket int"
    ).cache()
    M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r1")
    m = M.read_manifest(spark, workdir, "st").toPandas().set_index("partition_id")
    assert m.loc[0, "content_sha_xor"] == "%016x" % 0  # fixture as intended
    assert M.lineage_check(spark, workdir, "st", docs)
    # bucket 0's input vanishes -> must fail, not pass as a tombstone
    assert not M.lineage_check(
        spark, workdir, "st", docs.where(F.col("bucket") != 0)
    )


def test_rerun_is_idempotent(spark, workdir):
    docs = M.with_bucket(_corpus(spark), "repo", 8)
    M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r1")
    listing = sorted(os.listdir(M._manifest_path(workdir, "st")))

    def fn(df):
        raise AssertionError("an unchanged rerun must not call the stage fn")

    out2 = M.run_stage(spark, workdir, "st", docs, fn, run_id="r2")
    assert out2.count() == 200
    m = M.read_manifest(spark, workdir, "st").toPandas()
    # all buckets still attributed to r1; no double counting
    assert (m["run_id"] == "r1").all()
    assert m["rows_out"].sum() == 200
    # nothing appended: an unchanged rerun writes no manifest file
    assert sorted(os.listdir(M._manifest_path(workdir, "st"))) == listing


def test_null_sha_bucket_resumes(spark, workdir):
    """A bucket whose content_sha values are all null folds to null;
    the manifest stores it as zero, and the rerun must compare the same
    form, not recompute that bucket on every unchanged rerun."""
    docs = spark.createDataFrame(
        [("a", None, 0), ("b", None, 0), ("c", "cccccccccccccccccccc", 1)],
        "doc_id string, content_sha string, bucket int",
    ).cache()
    M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r1")
    M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r2")
    m = M.read_manifest(spark, workdir, "st").toPandas()
    assert (m["run_id"] == "r1").all(), m


def test_corrupt_manifest_raises(spark, workdir):
    """Only a missing or part-file-less _manifest means "no manifest";
    an unreadable part file must fail loudly, not send every later run
    into a full recompute that appends to the broken directory."""
    assert M.read_manifest(spark, workdir, "st") is None
    os.makedirs(M._manifest_path(workdir, "st"))
    open(os.path.join(M._manifest_path(workdir, "st"), "_SUCCESS"), "w").close()
    assert M.read_manifest(spark, workdir, "st") is None

    docs = M.with_bucket(_corpus(spark), "repo", 8)
    M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r1")
    bad = os.path.join(M._manifest_path(workdir, "st"), "part-99999-garbage.parquet")
    with open(bad, "w") as fh:
        fh.write("not parquet")
    with pytest.raises(Exception, match="part-99999-garbage"):
        M.read_manifest(spark, workdir, "st")
    with pytest.raises(Exception, match="part-99999-garbage"):
        M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r2")


def test_stale_bucket_with_empty_output_is_cleared(spark, workdir):
    """A bucket whose changed input yields no output rows must lose its
    old rows: dynamic overwrite only replaces buckets the stage emits
    rows for."""
    schema = "doc_id string, content_sha string, bucket int, keep boolean"
    first = spark.createDataFrame(
        [("a", "aaaaaaaaaaaaaaaaaaaa", 0, True), ("b", "bbbbbbbbbbbbbbbbbbbb", 1, True)],
        schema,
    )
    edited = spark.createDataFrame(
        [("a", "dddddddddddddddddddd", 0, False), ("b", "bbbbbbbbbbbbbbbbbbbb", 1, True)],
        schema,
    )
    M.run_stage(spark, workdir, "st", first, lambda df: df.where("keep"), run_id="r1")
    out = M.run_stage(spark, workdir, "st", edited, lambda df: df.where("keep"), run_id="r2")
    assert sorted(r.doc_id for r in out.collect()) == ["b"]
    m = M.read_manifest(spark, workdir, "st").toPandas().set_index("partition_id")
    assert m.loc[0, "run_id"] == "r2" and m.loc[0, "rows_out"] == 0
    assert m.loc[1, "run_id"] == "r1"


def test_shrunk_corpus_deletes_orphaned_buckets(spark, workdir):
    """A bucket whose input VANISHED entirely must not leave stale data
    in stage output (round-2 ADVICE item 4): the orphaned directory is
    deleted, the manifest tombstoned, and lineage still passes."""
    docs = M.with_bucket(_corpus(spark), "repo", 8).cache()
    M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r1")

    # shrink: drop every doc of two whole buckets
    keep = docs.where(~F.col("bucket").isin([0, 1])).cache()
    dropped = docs.count() - keep.count()
    assert dropped > 0, "fixture must actually empty some buckets"

    out = M.run_stage(spark, workdir, "st", keep, lambda df: df, run_id="r2")
    got = sorted(r.doc_id for r in out.select("doc_id").collect())
    exp = sorted(r.doc_id for r in keep.select("doc_id").collect())
    assert got == exp, "deleted docs persisted in stage output"
    m = M.read_manifest(spark, workdir, "st").toPandas()
    tomb = m[m["partition_id"].isin([0, 1])]
    assert (tomb["rows_out"] == 0).all() and (tomb["run_id"] == "r2").all()
    assert M.lineage_check(spark, workdir, "st", keep)

    # idempotent: a third run with the same shrunk input touches nothing
    out3 = M.run_stage(spark, workdir, "st", keep, lambda df: df, run_id="r3")
    assert sorted(r.doc_id for r in out3.select("doc_id").collect()) == exp
    m3 = M.read_manifest(spark, workdir, "st").toPandas()
    assert "r3" not in set(m3["run_id"])


def test_run_stage_leaves_session_conf(spark, workdir):
    """run_stage's per-bucket overwrite is dynamic per write: the
    session's partitionOverwriteMode is left as it was, and a resumed
    run under the default STATIC mode still keeps the completed
    buckets."""
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        docs = M.with_bucket(_corpus(spark), "repo", 8).cache()
        M.run_stage(spark, workdir, "st", docs.where(F.col("bucket") < 4), lambda df: df, run_id="r1")
        out = M.run_stage(spark, workdir, "st", docs, lambda df: df, run_id="r2")
        assert out.count() == 200
        assert spark.conf.get(key).lower() == "static"
    finally:
        spark.conf.set(key, prev)


def _assert_fingerprints(spark, base, stage_inputs):
    """Each stage's manifest holds what scans give: (rows_in,
    in_sha_xor) those of the stage's actual input, (rows_out,
    content_sha_xor) those of its data directory, bucket by bucket (a
    scan sees no bucket without rows)."""
    for stage, stage_input in stage_inputs.items():
        m = M.read_manifest(spark, base, stage).collect()
        ins = {r.partition_id: (r.rows_in, r.in_sha_xor) for r in m if r.rows_in}
        outs = {r.partition_id: (r.rows_out, r.content_sha_xor) for r in m if r.rows_out}
        assert ins == M._bucket_stats(stage_input, "content_sha"), stage
        data = spark.read.parquet(os.path.join(base, stage, "data"))
        assert outs == M._bucket_stats(data, "content_sha"), stage


def test_kg_runner_fingerprints_equal_scans(spark, tmp_path):
    """The KG runner derives the mentions and triples stages' input
    stats from the upstream stage's output stats instead of scanning:
    they must equal the scans after a cold run, a crash-resume and a
    grown-corpus rerun, including a bucket whose mention output is
    empty."""
    from bio_re_with_entity_embeddings_spark.plans import runner

    n = 64
    dictionary = fixtures.make_dictionary()
    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    rows = fixtures.make_corpus_rows(260, dictionary)
    used = {
        r.bucket for r in M.with_bucket(
            spark.createDataFrame(rows, schemas.CORPUS), "repo", n
        ).select("bucket").distinct().collect()
    }
    # a repo alone in a low bucket whose one file mentions nothing
    lone = next(
        r.repo for r in M.with_bucket(
            spark.createDataFrame([(f"zz/quiet-{k}",) for k in range(256)], "repo string"),
            "repo", n,
        ).collect()
        if r.bucket < n // 2 and r.bucket not in used
    )
    quiet = [(lone, "src/quiet.py", "c0", "python", "zzqx wvyk plmn")]
    small = spark.createDataFrame(rows[:200] + quiet, schemas.CORPUS)
    grown = spark.createDataFrame(rows + quiet, schemas.CORPUS)
    base = str(tmp_path / "kgfp")

    def run(corpus, rid):
        out = runner.run_checkpointed(spark, corpus, dictionary, emb, base, n_buckets=n, run_id=rid)
        st = out["_stages"]
        _assert_fingerprints(spark, base, {
            st["ingest"]: M.with_bucket(pipeline.ingest(corpus), "repo", n),
            st["mentions"]: spark.read.parquet(f"{base}/{st['ingest']}/data"),
            st["triples"]: spark.read.parquet(f"{base}/{st['mentions']}/data")
            .withColumn("bucket", F.lit(0)),
        })
        return st

    half = M.with_bucket(small, "repo", n).where(F.col("bucket") < n // 2).drop("bucket")
    run(half, "r1")  # cold, and the crash: only half the buckets ran
    run(small, "r2")  # resume
    st = run(grown, "r3")  # grown corpus
    men = M.read_manifest(spark, base, st["mentions"]).collect()
    assert any(r.rows_in and not r.rows_out for r in men), "no empty-output bucket"


def test_curation_runner_fingerprints_equal_scans(spark, tmp_path):
    """The curation runner's keep and corpus stages take their input
    stats from the signals and keep stages: they must equal the scans
    after a cold run over half the buckets and its resume."""
    from bio_re_with_entity_embeddings_spark.contract_text import (
        _curate_split,
        _docs_with_near_dups,
    )
    from bio_re_with_entity_embeddings_spark.plans import curation as PC

    n = 8
    docs, bench = _curate_split(_docs_with_near_dups(spark, "/root/testdata/sf0.001"))
    cfg = PC.CurationConfig(hash_mode="md5", min_quality=0.55, decon_n=4, decon_hashed=False, quota=8)
    base = str(tmp_path / "curfp")
    half = (
        M.with_bucket(docs.withColumn("doc", F.col("doc_id").cast("string")), "doc", n)
        .where(F.col("bucket") < n // 2)
        .drop("bucket", "doc")
    )
    for corpus, rid in ((half, "r1"), (docs, "r2")):
        out = PC.run_curation_checkpointed(spark, corpus, bench, base, n_buckets=n, config=cfg, run_id=rid)
        st = out["_stages"]
        _assert_fingerprints(spark, base, {
            st["signals"]: M.with_bucket(PC._doc_rows(corpus, "doc_id", "text", "lang"), "doc", n),
            st["keep"]: spark.read.parquet(f"{base}/{st['signals']}/data").withColumn("bucket", F.lit(0)),
            st["corpus"]: spark.read.parquet(f"{base}/{st['keep']}/data"),
        })
