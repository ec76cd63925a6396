"""Scale path (dictionary-encoded fused pipeline, articles_cap=-1)
must emit the same (subj, pred, obj, score, n_docs) as the parity
path — only the articles representation differs."""

from __future__ import annotations

import pytest

from bio_re_with_entity_embeddings_spark import fixtures, schemas
from bio_re_with_entity_embeddings_spark.plans import pipeline

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def both_outputs(spark):
    dictionary = fixtures.make_dictionary()
    rows = fixtures.make_corpus_rows(400, dictionary)
    corpus = spark.createDataFrame(rows, schemas.CORPUS)
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    parity = pipeline.build_triples(spark, corpus, dictionary, embeddings)
    scale = pipeline.build_triples(
        spark, corpus, dictionary, embeddings,
        pipeline.PipelineConfig(articles_cap=-1),
    )
    return parity, scale


@pytest.fixture(scope="module")
def both(both_outputs):
    parity, scale = both_outputs
    return parity["triples"].toPandas(), scale["triples"].toPandas()


def _key(df):
    return {
        (r.subj, r.pred, r.obj): (r.n_docs, round(r.score, 9))
        for r in df.itertuples()
    }


def test_scale_equals_parity_triples(both):
    parity, scale = both
    kp, ks = _key(parity), _key(scale)
    assert set(kp) == set(ks)
    for k, v in kp.items():
        assert ks[k] == v, k


def test_scale_articles_empty_parity_full(both):
    parity, scale = both
    assert all(len(a) > 0 for a in parity["articles"])
    assert all(len(a) == 0 for a in scale["articles"])


def test_scale_path_multi_token_surfaces(spark):
    """Multi-token / punctuated dictionary surfaces (the norm in the
    reference's PubTator/MeSH surface universe) must match on the scale
    path too — detect_entity_arrays falls back to the boundary-checked
    Aho-Corasick matcher, identically to the parity path."""
    dictionary = [
        fixtures.DictEntry("read frame", "FN:9001", fixtures.FN),
        fixtures.DictEntry("lib.core", "PKG:9002", fixtures.PKG),
        fixtures.DictEntry("emit_block01", "FN:9003", fixtures.FN),
    ]
    rows = [
        ("o/r1", "a.py", "c1", "python",
         "x read frame y lib.core z emit_block01"),
        ("o/r2", "b.py", "c2", "python",
         "read framex xlib.core emit_block01x"),  # boundary decoys only
        ("o/r3", "c.py", "c3", "python",
         "READ FRAME lib.core"),  # case-insensitive multi-token
    ]
    corpus = spark.createDataFrame(rows, schemas.CORPUS)
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    parity = pipeline.build_triples(
        spark, corpus, dictionary, embeddings,
        pipeline.PipelineConfig(threshold=-2.0),  # no score gate here
    )
    scale = pipeline.build_triples(
        spark, corpus, dictionary, embeddings,
        pipeline.PipelineConfig(articles_cap=-1, threshold=-2.0),
    )
    kp, ks = _key(parity["triples"].toPandas()), _key(scale["triples"].toPandas())
    assert kp == ks
    assert ("FN:9001", "uses", "PKG:9002") in kp
    assert kp[("FN:9001", "uses", "PKG:9002")][0] == 2  # r1 + r3, not the decoy row


def test_evidence_articles_reproduce_parity_sets(both_outputs, both):
    """Scale triples carry empty articles by design; the evidence edges
    in the pairs output joined back to docs via evidence_articles must
    reproduce the parity path's per-triple article sets EXACTLY."""
    from bio_re_with_entity_embeddings_spark.operators import pairs as pairs_op

    parity_out, scale_out = both_outputs
    ev = pairs_op.evidence_articles(
        scale_out["pairs"], scale_out["docs"], scale_out["entity_dim"]
    ).toPandas()
    got = {
        (r.subj, r.obj): (tuple(r.articles), r.n_docs) for r in ev.itertuples()
    }
    parity_triples, _ = both
    # every parity triple's (sorted) article set must be recovered
    checked = 0
    for r in parity_triples.itertuples():
        assert got[(r.subj, r.obj)] == (tuple(r.articles), r.n_docs), (
            r.subj, r.pred, r.obj,
        )
        checked += 1
    assert checked > 100  # the fixture corpus actually exercises this
    # evidence covers every parity triple (it may legitimately contain
    # more: the pairs table is pre-threshold, triples are score-gated)
    parity_keys = {(r.subj, r.obj) for r in parity_triples.itertuples()}
    assert parity_keys <= set(got)


def test_evidence_articles_dedups_repeated_doc_pair_rows(spark):
    """ADVICE r3: with rc dropped from the scale pairs output, the same
    (doc, subj, obj) can appear twice (entity under two types / pair
    matched by two relations) — n_docs must equal len(articles), not
    the raw row count."""
    from pyspark.sql import functions as F

    from bio_re_with_entity_embeddings_spark.operators import pairs as pairs_op

    docs = spark.createDataFrame([("A",), ("B",)], "doc_id string")
    keyed = docs.select(
        F.xxhash64("doc_id").alias("doc_id"),
        F.xxhash64("doc_id", F.lit(1)).alias("doc_id2"),
    ).collect()
    (h1a, h2a), (h1b, h2b) = [(r.doc_id, r.doc_id2) for r in keyed]
    pairs = spark.createDataFrame(
        [
            (h1a, h2a, 7, 9),
            (h1a, h2a, 7, 9),  # duplicate evidence row for doc A
            (h1b, h2b, 7, 9),
        ],
        "doc_id long, doc_id2 long, subj int, obj int",
    )
    out = pairs_op.evidence_articles(pairs, docs).toPandas()
    assert len(out) == 1
    row = out.iloc[0]
    assert list(row["articles"]) == ["A", "B"]
    assert row["n_docs"] == 2 == len(row["articles"])


def test_scale_salted_invariance(spark, both):
    dictionary = fixtures.make_dictionary()
    rows = fixtures.make_corpus_rows(400, dictionary)
    corpus = spark.createDataFrame(rows, schemas.CORPUS)
    embeddings = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    salted = pipeline.build_triples(
        spark, corpus, dictionary, embeddings,
        pipeline.PipelineConfig(articles_cap=-1, salt_buckets=8),
    )["triples"].toPandas()
    _, scale = both
    assert _key(salted) == _key(scale)
