"""Checkpointed, resumable pipeline runner (north rule: per-partition
checkpoint/metrics records enabling exact resume).

Wraps the stage functions of ``plans/pipeline.py`` with
``plans/manifest.py``: every stage writes bucket-partitioned parquet +
a manifest row per bucket (rows in/out, content-sha xor fold, wall,
run id). A rerun — after a crash, a kill, or on a grown corpus —
recomputes ONLY missing or changed buckets; completed buckets are never
touched (idempotent per-bucket dynamic overwrite), and a stage with no
stale bucket returns its checkpoint after one input fingerprint.

The bucket key is ``pmod(xxhash64(repo), n_buckets)`` — the explicit
repo-hash partitioning of the north rule: all files of a repo land in
one bucket, so partial corpora resume repo-atomically.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..operators import mentions as mentions_op
from ..operators import scoring, triples as triples_op
from . import manifest as M
from . import pipeline as P


def _h(parts) -> str:
    return hashlib.sha256(repr(parts).encode()).hexdigest()[:10]


def _content_fp(df: DataFrame) -> tuple[int, str]:
    """Duplicate-sensitive, order-insensitive content fingerprint of a
    (small) dimension table — every column, row serialized as JSON
    (null/array-safe, unlike concat_ws which silently drops nulls):
    decimal sum of 15-hex-digit sha2 prefixes + row count. Same
    construction and rationale as the curation runner's benchmark
    fingerprint (plans/curation.py): the manifest's xor fold cancels
    identical rows pairwise, so a swapped-but-multiset-colliding
    dimension could silently resume a stale stage — the exact class
    this fold closes. ONE extra map-combined job over the dimension
    per rerun (the embeddings/entities tables are the broadcast dims —
    vocabulary-sized, not corpus-sized)."""
    row_json = F.to_json(F.struct(*[F.col(c) for c in df.columns]))
    d = df.select(
        F.conv(F.substring(F.sha2(row_json, 256), 1, 15), 16, 10)
        .cast("decimal(38,0)")
        .alias("sha_i")
    )
    row = d.agg(F.count(F.lit(1)).alias("n"), F.sum("sha_i").alias("s")).collect()[0]
    return (int(row["n"]), str(row["s"]))


def run_checkpointed(
    spark: SparkSession,
    corpus: DataFrame,
    dictionary: list[fixtures.DictEntry],
    embeddings: DataFrame,
    base_dir: str,
    n_buckets: int = 32,
    config: P.PipelineConfig | None = None,
    run_id: str | None = None,
    entities: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Stage-materialized pipeline with exact resume.

    Stages (each checkpointed under ``{base_dir}/{stage}``):
      ingest    corpus -> docs (doc_id, content_sha, bucket)
      mentions  docs -> mention rows (bucket preserved)
      triples   global (cannot be bucket-local: pairs join across the
                whole doc axis) — checkpointed as ONE manifest bucket
                whose input fingerprint is the count + content-sha
                xor-fold of the whole mention table: a rerun with
                unchanged mentions skips the tail entirely; a crash
                mid-tail (or any upstream bucket change) recomputes it
                idempotently.

    Stage identity folds in every RESULT-affecting input that is not
    visible in the stage's row-level input fingerprint (the same
    silently-stale-resume closure as the curation runner's
    ``keep_<hash>``): the mentions stage name carries the dictionary
    hash; the triples stage name carries the relation/threshold/cap
    knobs plus content fingerprints of the embeddings and entities
    dimensions. Rerunning over the same working dir with a changed
    dictionary, embeddings matrix, entity dimension, or triple config
    therefore computes FRESH stages instead of serving stale parquet;
    unchanged reruns still skip everything. Plan-only knobs
    (salt_buckets, repo_partitions, eager_cache, prepartition_by_dk,
    advisory_partition_bytes) are deliberately excluded — they change
    the physical plan, never the rows. Resolved names are returned
    under ``_stages``. Pre-existing working dirs written before this
    closure (fixed names ``mentions``/``triples``) are simply
    recomputed under the new names — orphaned but never served.
    """
    cfg = config or P.PipelineConfig()

    docs = M.run_stage(
        spark,
        base_dir,
        "ingest",
        M.with_bucket(P.ingest(corpus, cfg.langs), "repo", n_buckets),
        lambda df: df,
        run_id=run_id,
    )

    dict_entries = [(e.surface, e.entity_id, e.entity_type) for e in dictionary]
    dict_fp = _h(tuple(sorted(dict_entries)))
    mentions_stage = f"mentions_{dict_fp}"

    def detect(df: DataFrame) -> DataFrame:
        m = mentions_op.detect_mentions(df, dict_entries)
        return m.join(
            df.select("doc_id", "bucket", "content_sha"), "doc_id", "inner"
        )

    mentions = M.run_stage(
        spark, base_dir, mentions_stage, docs, detect, run_id=run_id
    )

    # Triple emission consumes the materialized mention table — a
    # global aggregate over all buckets (pair co-occurrence crosses
    # bucket boundaries by definition). It runs through the SAME
    # manifest machinery as the bucket-local stages, as one logical
    # bucket: the stage is skipped when its input fingerprint (mention
    # count + content-sha xor-fold) matches the manifest, recomputed
    # idempotently otherwise — so the all-upstream-buckets-complete
    # gate is enforced by construction (run_stage returned only after
    # completing them) and a crash mid-tail resumes exactly.
    if entities is None:
        # default: the fixture vec-index convention (same fallback as
        # build_triples); pass an explicit (entity_id, entity_type,
        # vec_id) dimension for dictionaries outside that convention
        n_vecs = embeddings.selectExpr("max(vec_id) + 1 AS n").first()["n"]
        entities = fixtures.entities_df(spark, dictionary, int(n_vecs))
        # derived deterministically from (dictionary, n_vecs) — both
        # already part of the identity, no row fold needed
        ent_fp: tuple = ("derived", dict_fp, int(n_vecs))
    else:
        ent_fp = _content_fp(entities)
    emb_fp = _content_fp(embeddings)
    triple_knobs = (
        tuple(cfg.relations),
        tuple(cfg.predicate(s, t) for s, t in cfg.relations),
        cfg.threshold,
        cfg.max_entities_per_doc,
        cfg.articles_cap,
    )
    triples_stage = f"triples_{_h((triple_knobs, emb_fp, ent_fp))}"

    from ..operators import pairs as pairs_op

    def build_triples_tail(mention_rows: DataFrame) -> DataFrame:
        mentions_dedup = mention_rows.select(
            "doc_id", "entity_id", "entity_type"
        ).distinct()
        triple_parts = []
        for src_t, tgt_t in cfg.relations:
            rel_pairs = pairs_op.generate_pairs(
                mentions_dedup, src_t, tgt_t,
                salt_buckets=cfg.salt_buckets,
                max_entities_per_doc=cfg.max_entities_per_doc,
                already_distinct=True,
            )
            support = triples_op.support_agg(rel_pairs, max(cfg.articles_cap, 0))
            scored = scoring.score_pairs(support, entities, embeddings)
            triple_parts.append(
                triples_op.emit_triples(
                    scored, src_t, tgt_t, cfg.threshold,
                    pred=cfg.predicate(src_t, tgt_t),
                )
            )
        triples = triple_parts[0]
        for t in triple_parts[1:]:
            triples = triples.unionByName(t)
        return triples.withColumn("bucket", F.lit(0).cast("int"))

    tail_input = mentions.withColumn("bucket", F.lit(0).cast("int"))
    triples = M.run_stage(
        spark, base_dir, triples_stage, tail_input, build_triples_tail,
        run_id=run_id,
    )

    return {
        "docs": docs,
        "mentions": mentions,
        "triples": triples.drop("bucket"),
        "_stages": {
            "ingest": "ingest",
            "mentions": mentions_stage,
            "triples": triples_stage,
        },
    }


def verify_lineage(spark: SparkSession, corpus: DataFrame, base_dir: str, n_buckets: int = 32) -> bool:
    """Per-row lineage invariant (BASELINE.json): the xor-fold of
    content shas in the INPUT equals the ingest manifest's fold, per
    repo-hash bucket."""
    bucketed = M.with_bucket(
        corpus.withColumn("content_sha", F.sha2(F.col("content"), 256)),
        "repo",
        n_buckets,
    )
    return M.lineage_check(spark, base_dir, "ingest", bucketed)
