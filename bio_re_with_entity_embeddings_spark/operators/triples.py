"""Triple emission (pipeline stage 6).

Reference semantics: the pair ``instances.tsv`` —
(source_id, target_id, ';;;'-joined sorted article set) grouped from
the per-doc pair stream (``prepare_pair_dataset.py:42-53``, written
``:66-68``) — plus the embedding-classifier gate (``README.md:6-11``).
The predicate is implied by the (source_type, target_type) role pair,
exactly as the reference's datasets are per type-pair (mutation-disease
etc.).

Spark shape: one hash aggregate on (subj, obj) for support, a broadcast
join to scores, a threshold filter. Output is written partitioned by
``pred`` and bucketed by ``hash(subj)`` at the Iceberg edge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..fixtures import RELATION_PREDICATES


def predicate_for(source_type: str, target_type: str) -> str:
    return RELATION_PREDICATES.get(
        (source_type, target_type), f"co_{source_type}_{target_type}"
    )


def support_agg(pairs: DataFrame, articles_cap: int = 0) -> DataFrame:
    """(doc_id, subj, obj) -> one row per (subj, obj) with sorted
    article set + distinct-doc support (prepare_pair_dataset.py:42-53).
    The ONLY shuffle of the pipeline tail — scoring is applied to this
    aggregate directly (it is already distinct on (subj, obj)), so no
    further join or exchange follows.

    ``articles_cap > 0`` keeps only the first N sorted article ids per
    pair (hub pairs can support millions of docs at corpus scale — the
    full set is unbounded reducer state). ``n_docs`` remains the EXACT
    distinct count either way; parity runs use cap=0 (reference keeps
    full sets).

    REQUIRES input distinct on (doc_id, subj, obj) — guaranteed by
    generate_pairs. That lets n_docs be count(1) and articles be
    collect_list: a count_distinct here plans an extra EXPAND aggregate
    with a second full shuffle keyed (subj, obj, doc_id) — the widest
    exchange in the pipeline, for nothing.

    ``articles_cap < 0`` skips article collection entirely (empty
    arrays): the count aggregate is map-side combinable, so the shuffle
    carries ~|pairs-distinct| partial rows instead of every (pair, doc)
    edge. At 10^12-file scale the supporting-evidence edges belong in
    the separate ``pairs`` table (subj, obj, doc_id), not inline arrays.
    The checkpointed runner's triples stage (plans/runner.py) takes
    this branch under the scale config; ``build_triples`` routes that
    config to its dictionary-encoded plan, which aggregates support
    itself. Parity runs keep full sets (cap=0)."""
    if articles_cap < 0:
        return pairs.groupBy("subj", "obj").agg(
            F.count(F.lit(1)).alias("n_docs")
        ).withColumn("articles", F.array().cast("array<string>"))
    arts = F.sort_array(F.collect_list("doc_id"))
    if articles_cap and articles_cap > 0:
        arts = F.slice(arts, 1, articles_cap)
    return pairs.groupBy("subj", "obj").agg(
        arts.alias("articles"),
        F.count(F.lit(1)).alias("n_docs"),
    )


def emit_triples(
    scored_support: DataFrame,
    source_type: str,
    target_type: str,
    threshold: float = 0.0,
    pred: str | None = None,
) -> DataFrame:
    """scored support rows -> TRIPLES rows (threshold gate + predicate)."""
    pred = pred or predicate_for(source_type, target_type)
    return scored_support.where(
        F.coalesce(F.col("score"), F.lit(0.0)) >= threshold
    ).select(
        "subj",
        F.lit(pred).alias("pred"),
        "obj",
        "score",
        "articles",
        "n_docs",
    )
