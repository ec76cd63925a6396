"""Checkpointed, resumable pipeline runner (north rule: per-partition
checkpoint/metrics records enabling exact resume).

Wraps the stage functions of ``plans/pipeline.py`` with
``plans/manifest.py``: every stage writes bucket-partitioned parquet +
a manifest row per bucket (rows in/out, content-sha xor fold, wall,
run id). A rerun — after a crash, a kill, or on a grown corpus —
recomputes ONLY missing or changed buckets; completed buckets are never
touched (idempotent per-bucket dynamic overwrite), and a stage with no
stale bucket returns its checkpoint after reading its manifest. Only
the ingest stage fingerprints its input by a scan: the mentions and
triples stages take their input stats from the output stats of the
stage before (plans/manifest.py::_run_stage).

The bucket key is ``pmod(xxhash64(repo), n_buckets)`` — the explicit
repo-hash partitioning of the north rule: all files of a repo land in
one bucket, so partial corpora resume repo-atomically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import fixtures
from ..operators import mentions as mentions_op
from . import manifest as M
from . import pipeline as P


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
                xor-fold of the whole mention table (the mentions
                stage's per-bucket stats folded into one bucket): a
                rerun with unchanged mentions skips the tail; a crash
                mid-tail (or any upstream bucket change) recomputes it
                idempotently.

    Stage identity folds in every RESULT-affecting input that is not
    visible in the stage's row-level input fingerprint (the same
    silently-stale-resume closure as the curation runner's
    ``keep_<hash>``): the mentions stage name carries the dictionary
    hash; the triples stage name carries the relation/threshold/cap/
    canonicalize knobs plus content fingerprints of the embeddings and
    entities dimensions. Rerunning over the same working dir with a changed
    dictionary, embeddings matrix, entity dimension, or triple config
    therefore computes FRESH stages instead of serving stale parquet;
    unchanged reruns still skip everything. Plan-only knobs
    (salt_buckets, repo_partitions) are deliberately excluded — they
    change the physical plan, never the rows. Resolved names are
    returned under ``_stages``. Working dirs written before a change
    of the identity (fixed names ``mentions``/``triples``, or a triples
    name without the canonicalize knob) are simply recomputed under
    the new names — orphaned but never served.

    The triples stage runs ``build_triples``' own string-keyed tail
    (plans/pipeline.py::_kg_tail) over the materialized mention table,
    so every config gives ``build_triples``' rows — under
    ``articles_cap < 0`` with empty article sets, as on its scale path.
    """
    cfg = config or P.PipelineConfig()

    docs, docs_stats = M._run_stage(
        spark,
        base_dir,
        "ingest",
        M.with_bucket(P.ingest(corpus, cfg.langs), "repo", n_buckets),
        lambda df: df,
        run_id=run_id,
    )

    dict_entries = [(e.surface, e.entity_id, e.entity_type) for e in dictionary]
    dict_fp = M.stage_hash(tuple(sorted(dict_entries)))
    mentions_stage = f"mentions_{dict_fp}"

    def detect(df: DataFrame) -> DataFrame:
        m = mentions_op.detect_mentions(df, dict_entries)
        return m.join(
            df.select("doc_id", "bucket", "content_sha"), "doc_id", "inner"
        )

    mentions, mention_stats = M._run_stage(
        spark, base_dir, mentions_stage, docs, detect, run_id=run_id,
        input_stats=docs_stats,
    )

    # Triple emission consumes the materialized mention table — a
    # global aggregate over all buckets (pair co-occurrence crosses
    # bucket boundaries by definition). It runs through the SAME
    # manifest machinery as the bucket-local stages, as one logical
    # bucket: the stage is skipped when its input fingerprint (mention
    # count + content-sha xor-fold, folded from the mentions stage's
    # per-bucket stats) matches the manifest, recomputed
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
        ent_fp = M.content_fp(entities)
    emb_fp = M.content_fp(embeddings)
    triple_knobs = (
        tuple(cfg.relations),
        tuple(cfg.predicate(s, t) for s, t in cfg.relations),
        cfg.threshold,
        cfg.max_entities_per_doc,
        cfg.articles_cap,
        # canonicalization reads the whole dictionary, which the
        # mention rows cannot reveal
        cfg.canonicalize and dict_fp,
    )
    triples_stage = f"triples_{M.stage_hash((triple_knobs, emb_fp, ent_fp))}"

    tail_input = mentions.withColumn("bucket", F.lit(0).cast("int"))
    triples, _ = M._run_stage(
        spark, base_dir, triples_stage, tail_input,
        lambda rows: _triples_tail(spark, rows, dict_entries, entities, embeddings, cfg),
        run_id=run_id, input_stats=M.one_bucket(mention_stats),
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


def _triples_tail(
    spark, mention_rows, dict_entries, entities, embeddings, cfg
) -> DataFrame:
    """The triples stage: the mention table's distinct (doc, entity)
    rows through the pipeline's KG tail, as the one global bucket."""
    mentions_dedup = mention_rows.select(
        "doc_id", "entity_id", "entity_type"
    ).distinct()
    triples, _ = P._kg_tail(
        spark, mentions_dedup, dict_entries, entities, embeddings, cfg
    )
    return triples.withColumn("bucket", F.lit(0).cast("int"))


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
