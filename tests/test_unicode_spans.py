"""Length-changing ``str.lower()`` span safety (round-2 ADVICE item 1).

``'İ'`` (U+0130, Latin capital I with dot above) lowercases to TWO code
points (``'i' + U+0307``), so every lowered-coordinate span after it is
shifted by one against the original content. The reference span
predicate (``data/pubtator.py:74-84``; golden.py restates it) DROPS such
hits; all four detector paths (token-probe / Aho-Corasick x mentions /
entity arrays) must agree with golden on that, not silently emit shifted
mentions.
"""

from __future__ import annotations

import pandas as pd

from bio_re_with_entity_embeddings_spark import golden
from bio_re_with_entity_embeddings_spark.fixtures import DictEntry
from bio_re_with_entity_embeddings_spark.operators import mentions as M

# One surface before the İ (valid), the same surface after it (span
# shifts by +1 in lowered coords -> must be dropped), plus a second doc
# with no funny characters at all (all hits kept).
CONTENT_TRICKY = "alpha starts İ then alpha again and beta gamma ends"
CONTENT_PLAIN = "plain alpha and beta gamma here"
ROWS = [
    ("r", "a.txt", "c0", "txt", CONTENT_TRICKY),
    ("r", "b.txt", "c0", "txt", CONTENT_PLAIN),
]

TOKEN_DICT = [DictEntry("alpha", "E:1", "t")]  # forces the token fast path
TRIE_DICT = [
    DictEntry("alpha", "E:1", "t"),
    DictEntry("beta gamma", "E:2", "t"),  # multi-token -> Aho-Corasick path
]


def _docs_df(spark):
    pdf = pd.DataFrame(
        [(golden.doc_id_of(r, p, c), content) for r, p, c, _l, content in ROWS],
        columns=["doc_id", "content"],
    )
    return spark.createDataFrame(pdf)


def _mention_set(df):
    pdf = df.toPandas()
    key = ["doc_id", "entity_id", "mention", "begin", "end"]
    return set(map(tuple, pdf[key].itertuples(index=False)))


def _golden_set(dictionary):
    exp = golden.expected_mentions(ROWS, dictionary)
    key = ["doc_id", "entity_id", "mention", "begin", "end"]
    return set(map(tuple, exp[key].itertuples(index=False)))


def test_token_path_drops_shifted_spans(spark):
    got = _mention_set(M.detect_mentions(_docs_df(spark), [
        (e.surface, e.entity_id, e.entity_type) for e in TOKEN_DICT
    ]))
    exp = _golden_set(TOKEN_DICT)
    assert got == exp
    tricky_id = golden.doc_id_of("r", "a.txt", "c0")
    tricky = {t for t in got if t[0] == tricky_id}
    # the pre-İ occurrence survives; the post-İ one is dropped
    assert len(tricky) == 1
    (_, _, mention, begin, end) = next(iter(tricky))
    assert (mention, begin, end) == ("alpha", 0, 5)


def test_trie_path_drops_shifted_spans(spark):
    entries = [(e.surface, e.entity_id, e.entity_type) for e in TRIE_DICT]
    got = _mention_set(M.detect_mentions(_docs_df(spark), entries))
    assert got == _golden_set(TRIE_DICT)
    # sanity: the multi-token surface actually selected the trie path
    assert any(t[1] == "E:2" for t in got)


def test_entity_sets_match_kept_mentions(spark):
    """Both detect_entity_arrays kernels (token-only and multi-token
    dictionary) must include an entity iff at least one VALID
    (non-shifted) mention of it exists — parity with detect_mentions
    under the span predicate."""
    docs = _docs_df(spark)
    for dictionary in (TOKEN_DICT, TRIE_DICT):
        entries = [(e.surface, e.entity_id, e.entity_type) for e in dictionary]
        idx = {e.entity_id: i for i, e in enumerate(dictionary)}
        exp_m = golden.expected_mentions(ROWS, dictionary)
        exp = {
            (doc, idx[eid])
            for doc, eid in zip(exp_m["doc_id"], exp_m["entity_id"])
        }
        got_arr = M.detect_entity_arrays(docs, entries, idx).toPandas()
        got = {
            (doc, v // 256)
            for doc, ets in zip(got_arr["doc_id"], got_arr["ets"])
            for v in ets
        }
        assert got == exp


def test_shifted_span_only_doc_yields_no_entity(spark):
    """A doc whose ONLY hit is span-shifted must contribute nothing."""
    rows = [("r", "z.txt", "c0", "txt", "İ alpha only-after")]
    pdf = pd.DataFrame(
        [(golden.doc_id_of("r", "z.txt", "c0"), rows[0][4])],
        columns=["doc_id", "content"],
    )
    docs = spark.createDataFrame(pdf)
    entries = [("alpha", "E:1", "t")]
    assert golden.expected_mentions(rows, TOKEN_DICT).empty
    assert M.detect_mentions(docs, entries).count() == 0
    assert M.detect_entity_arrays(docs, entries, {"E:1": 0}).count() == 0
