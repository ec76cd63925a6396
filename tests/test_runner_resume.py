"""Pipeline-level exact resume: kill after a partial stage, rerun,
byte-identical triples, intact lineage (SURVEY 5.2.4b)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from bio_re_with_entity_embeddings_spark import fixtures, schemas
from bio_re_with_entity_embeddings_spark.plans import manifest as M
from bio_re_with_entity_embeddings_spark.plans import pipeline as P
from bio_re_with_entity_embeddings_spark.plans import runner

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def world(spark):
    dictionary = fixtures.make_dictionary()
    rows = fixtures.make_corpus_rows(300, dictionary)
    corpus = spark.createDataFrame(rows, schemas.CORPUS)
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return dictionary, corpus, embeddings


def _triples_set(df):
    return {
        (r.subj, r.pred, r.obj, r.n_docs, tuple(r.articles))
        for r in df.collect()
    }


def test_full_run_then_resume_noop(spark, world, tmp_path):
    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckpt")
    sc = spark.sparkContext
    sc.setJobGroup("cold_run", "cold run")
    try:
        out1 = runner.run_checkpointed(
            spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r1"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # only the ingest stage scans its input; the mentions and triples
    # stages take their input stats from the stage before
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("cold_run"))
    assert n_jobs <= 30, n_jobs
    t1 = _triples_set(out1["triples"])
    assert t1
    # rerun over the same base: all buckets complete -> nothing
    # recomputed (manifest rows keep run_id r1), identical triples
    sc.setJobGroup("resume_noop", "unchanged rerun")
    try:
        out2 = runner.run_checkpointed(
            spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r2"
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # each stage costs its fingerprint, nothing more: no stage function
    # runs, nothing is written
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("resume_noop"))
    assert n_jobs <= 12, n_jobs
    assert _triples_set(out2["triples"]) == t1
    for stage in (out1["_stages"]["ingest"], out1["_stages"]["mentions"]):
        m = M.read_manifest(spark, base, stage).toPandas()
        assert (m["run_id"] == "r1").all(), stage
    assert runner.verify_lineage(spark, corpus, base, 8)


def test_crash_resume_exactness(spark, world, tmp_path):
    """Simulate a crash: first run only sees half the buckets' input
    (as if the job died mid-corpus); the resume run completes the rest.
    Result must equal a clean single run."""
    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckpt2")
    half = M.with_bucket(corpus, "repo", 8).where(F.col("bucket") < 4).drop("bucket")
    runner.run_checkpointed(
        spark, half, dictionary, embeddings, base, n_buckets=8, run_id="r1"
    )
    out = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r2"
    )
    clean = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, str(tmp_path / "clean"),
        n_buckets=8, run_id="rc",
    )
    assert _triples_set(out["triples"]) == _triples_set(clean["triples"])
    # completed buckets kept their original run id
    m = M.read_manifest(spark, base, "ingest").toPandas()
    kept = dict(zip(m["partition_id"], m["run_id"]))
    assert all(v == "r1" for b, v in kept.items() if b < 4)
    assert all(v == "r2" for b, v in kept.items() if b >= 4)
    assert runner.verify_lineage(spark, corpus, base, 8)


def test_crash_in_tail_resumes(spark, world, tmp_path):
    """Kill AFTER the mention stage but mid-tail (triples data written,
    manifest append lost — the torn state a crash leaves): the rerun
    must recompute the tail and end byte-identical; upstream buckets
    stay untouched."""
    import shutil

    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckpt4")
    out1 = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r1"
    )
    t1 = _triples_set(out1["triples"])
    # torn tail: manifest gone, data half-written
    tr_stage = out1["_stages"]["triples"]
    shutil.rmtree(f"{base}/{tr_stage}/_manifest")
    shutil.rmtree(f"{base}/{tr_stage}/data")
    out2 = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r2"
    )
    assert _triples_set(out2["triples"]) == t1
    for stage in (out1["_stages"]["ingest"], out1["_stages"]["mentions"]):
        m = M.read_manifest(spark, base, stage).toPandas()
        assert (m["run_id"] == "r1").all(), stage
    m = M.read_manifest(spark, base, tr_stage).toPandas()
    assert (m["run_id"] == "r2").all()


def test_grown_corpus_rerun_matches_clean(spark, world, tmp_path):
    """Rerun over a GROWN corpus recomputes exactly the changed buckets
    plus the tail, and equals a clean run on the grown corpus."""
    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckpt5")
    small = corpus.limit(200)
    runner.run_checkpointed(
        spark, small, dictionary, embeddings, base, n_buckets=8, run_id="r1"
    )
    out = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r2"
    )
    clean = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, str(tmp_path / "clean5"),
        n_buckets=8, run_id="rc",
    )
    assert _triples_set(out["triples"]) == _triples_set(clean["triples"])
    assert runner.verify_lineage(spark, corpus, base, 8)


def test_checkpointed_matches_lazy_pipeline(spark, world, tmp_path):
    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckpt3")
    ck = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=8
    )
    lazy = P.build_triples(spark, corpus, dictionary, embeddings)
    assert _triples_set(ck["triples"]) == _triples_set(lazy["triples"])


def test_dictionary_change_recomputes_mentions(spark, world, tmp_path):
    """A changed DICTIONARY over the same working dir re-keys the
    mentions stage (its rows are a function of the dictionary, which
    the docs-stage input fingerprint cannot see) and flows through to
    fresh triples; the untouched ingest stage resumes."""
    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckdict")
    out1 = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=8, run_id="r1"
    )
    t1 = _triples_set(out1["triples"])
    smaller = dictionary[:-1]  # drop one entry -> different surface set
    out2 = runner.run_checkpointed(
        spark, corpus, smaller, embeddings, base, n_buckets=8, run_id="r2"
    )
    assert out2["_stages"]["mentions"] != out1["_stages"]["mentions"]
    m = M.read_manifest(
        spark, base, out2["_stages"]["mentions"]
    ).toPandas()
    assert (m["run_id"] == "r2").all()
    ing = M.read_manifest(spark, base, "ingest").toPandas()
    assert (ing["run_id"] == "r1").all()
    clean = runner.run_checkpointed(
        spark, corpus, smaller, embeddings, str(tmp_path / "cleandict"),
        n_buckets=8, run_id="rc",
    )
    assert _triples_set(out2["triples"]) == _triples_set(clean["triples"])
    assert _triples_set(out2["triples"]) != t1


def test_canonicalize_through_runner(spark, world, tmp_path):
    """The runner's triples stage canonicalizes like ``build_triples``,
    and toggling ``canonicalize`` over one working dir re-keys the
    triples stage instead of serving the other config's rows."""
    dictionary, corpus, embeddings = world
    base = str(tmp_path / "ckcanon")
    plain = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=4, run_id="r1"
    )
    cfg = P.PipelineConfig(canonicalize=True)
    canon = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, base, n_buckets=4,
        config=cfg, run_id="r2",
    )
    assert canon["_stages"]["triples"] != plain["_stages"]["triples"]
    lazy = P.build_triples(spark, corpus, dictionary, embeddings, cfg)
    got = _triples_set(canon["triples"])
    assert got == _triples_set(lazy["triples"])
    assert got != _triples_set(plain["triples"])


def test_scale_config_through_runner(spark, world, tmp_path):
    """Under the scale config the runner returns the scale path's rows:
    empty article sets and the same (subj, pred, obj, n_docs, score)."""
    dictionary, corpus, embeddings = world
    cfg = P.PipelineConfig(articles_cap=-1)
    ck = runner.run_checkpointed(
        spark, corpus, dictionary, embeddings, str(tmp_path / "ckscale"),
        n_buckets=4, config=cfg,
    )
    rows = ck["triples"].collect()
    assert rows and all(len(r.articles) == 0 for r in rows)
    lazy = P.build_triples(spark, corpus, dictionary, embeddings, cfg)

    def key(rs):
        return {
            (r.subj, r.pred, r.obj, r.n_docs, round(float(r.score), 6))
            for r in rs
        }

    assert key(rows) == key(lazy["triples"].collect())


def test_parity_passes_leave_no_cached_plan(spark, world):
    """The parity path materializes its mention table once without a
    CacheManager entry: passes whose outputs are dropped leave no
    cached plan behind."""
    import gc

    dictionary, corpus, embeddings = world
    spark.catalog.clearCache()
    for _ in range(2):
        out = P.build_triples(spark, corpus, dictionary, embeddings)
        assert out["triples"].count()
        del out
        gc.collect()
        assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
