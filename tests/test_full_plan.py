"""The composed curation->KG product (plans/full.py): curation
provably changes the emitted supports (the composition is load-bearing,
not a pass-through), checkpointed == lazy, and resume is exact across
the product boundary (kill between curation and KG)."""

from __future__ import annotations

import shutil

import pytest
from pyspark.sql import functions as F

from bio_re_with_entity_embeddings_spark.plans import curation as PC
from bio_re_with_entity_embeddings_spark.plans import full as PF
from bio_re_with_entity_embeddings_spark.plans import pipeline as P

SF_DIR = "/root/testdata/sf0.001"


def _ccfg(**over):
    base = dict(
        min_quality=0.55, hash_mode="md5", decon_n=4, decon_hashed=False,
        quota=0,
    )
    base.update(over)
    return PC.CurationConfig(**base)


def _pcfg():
    return P.PipelineConfig(
        relations=[("op", "obj")],
        predicates={("op", "obj"): "acts_on"},
        threshold=-2.0,
    )


@pytest.fixture(scope="module")
def world(spark):
    # the ONE planted world shared with the curate_corpus /
    # kg_full_curated oracles (contract_text._docs_with_near_dups)
    from bio_re_with_entity_embeddings_spark.contract_text import (
        _as_code_corpus,
        _curate_split,
        _docs_with_near_dups,
    )

    docs2 = _docs_with_near_dups(spark, SF_DIR).cache()
    docs2.count()
    docs, bench = _curate_split(docs2)
    return _as_code_corpus(docs), _as_code_corpus(bench)


@pytest.fixture(scope="module")
def kg_inputs(spark):
    from bio_re_with_entity_embeddings_spark.contract_text import (
        _doc_dict_entities,
        _doc_dict_entries,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    return _doc_dict_entries(), emb, _doc_dict_entities(spark)


def _triples_set(df):
    return {
        (r.subj, r.pred, r.obj, int(r.n_docs), round(float(r.score), 6))
        for r in df.collect()
    }


def _run_lazy(spark, world, kg_inputs, ccfg=None):
    corpus, bench = world
    entries, emb, entities = kg_inputs
    return PF.curate_then_build(
        spark, corpus, entries, emb, benchmark=bench,
        curation_config=ccfg or _ccfg(), pipeline_config=_pcfg(),
        entities=entities, doc_key=F.col("repo"),
    )


@pytest.fixture(scope="module")
def lazy_out(spark, world, kg_inputs):
    return _run_lazy(spark, world, kg_inputs)


def test_composition_changes_supports(spark, world, kg_inputs, lazy_out):
    """The curated pipeline's n_docs supports are pointwise <= the
    uncurated pipeline's, strictly lower somewhere (the planted clones
    + quality gate + decon drops remove support), and never zero —
    dedup-before-detection counts distinct content, not copies."""
    corpus, _bench = world
    entries, emb, entities = kg_inputs
    raw = P.build_triples(spark, corpus, entries, emb, _pcfg(), entities=entities)

    cur_n = {
        (r.subj, r.obj): int(r.n_docs)
        for r in lazy_out["triples"].collect()
    }
    raw_n = {
        (r.subj, r.obj): int(r.n_docs) for r in raw["triples"].collect()
    }
    assert cur_n, "curated pipeline emitted nothing"
    assert set(cur_n) <= set(raw_n)  # curation can only lose pairs
    assert all(cur_n[k] <= raw_n[k] for k in cur_n)
    assert any(cur_n[k] < raw_n[k] for k in cur_n)


def test_survivor_set_matches_curation(spark, world, kg_inputs, lazy_out):
    """The KG input is exactly the curated survivor set."""
    n_corpus = lazy_out["cur_corpus"].count()
    assert lazy_out["survivors"].count() == n_corpus
    assert n_corpus < world[0].count()  # the gate actually dropped docs


@pytest.fixture(scope="module")
def ck_base(tmp_path_factory):
    return str(tmp_path_factory.mktemp("full_ck"))


@pytest.fixture(scope="module")
def ck_out(spark, world, kg_inputs, ck_base):
    corpus, bench = world
    entries, emb, entities = kg_inputs
    return PF.run_full_checkpointed(
        spark, corpus, entries, emb, ck_base, benchmark=bench,
        n_buckets=8, curation_config=_ccfg(), pipeline_config=_pcfg(),
        run_id="r1", entities=entities, doc_key=F.col("repo"),
    )


def test_checkpointed_equals_lazy(lazy_out, ck_out):
    assert _triples_set(ck_out["triples"]) == _triples_set(
        lazy_out["triples"]
    )


def test_unchanged_rerun_runs_no_stage(spark, world, kg_inputs, ck_base, ck_out):
    """An unchanged rerun of the composed product runs no stage: every
    manifest keeps run id r1, and it costs only the raw-input
    fingerprints (curation signals, KG ingest), one manifest read per
    stage and the dimension fingerprints."""
    from bio_re_with_entity_embeddings_spark.plans import manifest as M

    t1 = _triples_set(ck_out["triples"])
    corpus, bench = world
    entries, emb, entities = kg_inputs
    sc = spark.sparkContext
    sc.setJobGroup("full_rerun", "unchanged rerun")
    try:
        out2 = PF.run_full_checkpointed(
            spark, corpus, entries, emb, ck_base, benchmark=bench,
            n_buckets=8, curation_config=_ccfg(), pipeline_config=_pcfg(),
            run_id="r2", entities=entities, doc_key=F.col("repo"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    n_jobs = len(sc.statusTracker().getJobIdsForGroup("full_rerun"))
    assert n_jobs <= 24, n_jobs
    assert _triples_set(out2["triples"]) == t1
    for sub, stages in (("curation", out2["cur__stages"]), ("kg", out2["_stages"])):
        for stage in stages.values():
            m = M.read_manifest(spark, f"{ck_base}/{sub}", stage).toPandas()
            assert set(m["run_id"]) == {"r1"}, stage


def test_kill_between_products_resumes(
    spark, world, kg_inputs, ck_base, ck_out, lazy_out
):
    """Simulate a crash AFTER curation completed but BEFORE the KG
    runner wrote anything: the rerun must skip every curation stage
    (run ids stay r1) and recompute only the KG stages — output equal
    to the uninterrupted run."""
    from bio_re_with_entity_embeddings_spark.plans import manifest as M

    _ = ck_out  # ordering: the full r1 run must exist first
    shutil.rmtree(f"{ck_base}/kg")

    corpus, bench = world
    entries, emb, entities = kg_inputs
    out2 = PF.run_full_checkpointed(
        spark, corpus, entries, emb, ck_base, benchmark=bench,
        n_buckets=8, curation_config=_ccfg(), pipeline_config=_pcfg(),
        run_id="r2", entities=entities, doc_key=F.col("repo"),
    )
    assert _triples_set(out2["triples"]) == _triples_set(
        lazy_out["triples"]
    )
    sig = M.read_manifest(spark, f"{ck_base}/curation", "signals").toPandas()
    assert set(sig["run_id"]) == {"r1"}  # curation untouched
    ing = M.read_manifest(spark, f"{ck_base}/kg", "ingest").toPandas()
    assert set(ing["run_id"]) == {"r2"}  # KG recomputed


def test_curation_config_change_recomputes_kg(
    spark, world, kg_inputs, ck_base, ck_out, lazy_out
):
    """A tightened quality gate over the SAME working dir must flow
    through to the KG product (no stale triples served): the curation
    runner re-keys its keep stage, the survivor set shrinks, and the
    KG runner's per-bucket input fingerprints see the change."""
    _ = ck_out  # ordering: the r1 run over the same dir came first
    # materialize the r1 baseline BEFORE the rerun: the rerun
    # overwrites the stage parquet, so the stale lazy frame would read
    # deleted files (lazy_out == ck_out per test_checkpointed_equals_lazy)
    baseline = _triples_set(lazy_out["triples"])
    corpus, bench = world
    entries, emb, entities = kg_inputs
    tight = _ccfg(min_quality=0.75)
    out_ck = PF.run_full_checkpointed(
        spark, corpus, entries, emb, ck_base, benchmark=bench,
        n_buckets=8, curation_config=tight, pipeline_config=_pcfg(),
        run_id="r3", entities=entities, doc_key=F.col("repo"),
    )
    out_lazy = _run_lazy(spark, world, kg_inputs, ccfg=tight)
    got = _triples_set(out_ck["triples"])
    assert got == _triples_set(out_lazy["triples"])
    assert got != baseline  # the gate bit


def test_kg_config_change_recomputes(spark, world, kg_inputs, tmp_path):
    """The KG-side silently-stale-resume guard (mirror of the curation
    test): rerunning over the same working dir with a changed
    PIPELINE config (predicate/threshold — result-affecting knobs the
    mention rows cannot reveal) must re-key the triples stage and
    compute fresh output, while curation + ingest + mentions resume
    untouched; switching BACK to the original config resumes the
    original stage without recompute."""
    from bio_re_with_entity_embeddings_spark.plans import manifest as M

    corpus, bench = world
    entries, emb, entities = kg_inputs
    base = str(tmp_path / "kgck")
    run = lambda pcfg, rid: PF.run_full_checkpointed(  # noqa: E731
        spark, corpus, entries, emb, base, benchmark=bench,
        n_buckets=8, curation_config=_ccfg(), pipeline_config=pcfg,
        run_id=rid, entities=entities, doc_key=F.col("repo"),
    )
    out1 = run(_pcfg(), "r1")
    t1 = _triples_set(out1["triples"])
    st1 = out1["_stages"]["triples"]

    pcfg2 = P.PipelineConfig(
        relations=[("op", "obj")],
        predicates={("op", "obj"): "calls"},  # renamed predicate
        threshold=-2.0,
    )
    out2 = run(pcfg2, "r2")
    st2 = out2["_stages"]["triples"]
    assert st2 != st1  # config folded into the stage identity
    t2 = _triples_set(out2["triples"])
    assert t2 != t1 and t2  # fresh rows, not stale parquet
    assert {p for (_, p, _, _, _) in t2} == {"calls"}
    # upstream stages untouched by the KG-side knob change
    sig = M.read_manifest(spark, f"{base}/curation", "signals").toPandas()
    assert set(sig["run_id"]) == {"r1"}
    ing = M.read_manifest(spark, f"{base}/kg", "ingest").toPandas()
    assert set(ing["run_id"]) == {"r1"}
    men = M.read_manifest(
        spark, f"{base}/kg", out2["_stages"]["mentions"]
    ).toPandas()
    assert set(men["run_id"]) == {"r1"}

    # switching back resumes the ORIGINAL stage: r1's manifest, r1's rows
    out3 = run(_pcfg(), "r3")
    assert out3["_stages"]["triples"] == st1
    m = M.read_manifest(spark, f"{base}/kg", st1).toPandas()
    assert set(m["run_id"]) == {"r1"}
    assert _triples_set(out3["triples"]) == t1


def test_stage_names_pinned(ck_out):
    """Stage names are the resume keys of existing working dirs: the
    ingest, mentions, signals, keep and corpus names of this fixed
    fixture must not move (the triples name carries the canonicalize
    knob). Pins the config hashes and the dictionary, benchmark,
    embeddings and entities fingerprints behind them."""
    assert ck_out["cur__stages"] == {
        "signals": "signals",
        "keep": "keep_d29f92bdfa",
        "corpus": "corpus_be4b8c62d1",
    }
    assert ck_out["_stages"] == {
        "ingest": "ingest",
        "mentions": "mentions_502bb91c5e",
        "triples": "triples_1c9b5a947c",
    }


def test_cold_run_leaves_no_cached_plan(spark, world, kg_inputs, tmp_path):
    """A cold checkpointed run registers no cached plan that outlives
    it: every materialization inside the chain is a localCheckpoint or
    a parquet stage, never a persist nothing unpersists."""
    import gc

    spark.catalog.clearCache()
    corpus, bench = world
    entries, emb, entities = kg_inputs
    PF.run_full_checkpointed(
        spark, corpus, entries, emb, str(tmp_path / "leak"), benchmark=bench,
        n_buckets=8, curation_config=_ccfg(), pipeline_config=_pcfg(),
        run_id="r1", entities=entities, doc_key=F.col("repo"),
    )
    gc.collect()
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
