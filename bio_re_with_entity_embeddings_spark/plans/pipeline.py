"""End-to-end KG-construction plan (SURVEY.md section 7.0).

The reference's three CLI entry points (``prepare_entity_dataset.py``,
``prepare_pair_dataset.py``, ``learn_embeddings.py``) are fixed eager
DAGs with filesystem materialization between stages. Here the whole
dataflow is one lazy DataFrame plan per output; Catalyst prunes,
pushes down, and reorders.

Two execution shapes, same semantics on (subj, pred, obj, n_docs):

* PARITY path (default, ``articles_cap >= 0``): string keys end to
  end, full per-pair article sets — byte-comparable to the golden
  reference restatement.
* SCALE path (``articles_cap < 0``): evidence edges live in the
  ``pairs`` output instead of inline arrays, and the hot pipeline is
  dictionary-encoded — the Arrow detector emits ONE ROW PER DOC with
  the packed sorted entity array (no distinct exchange), pair
  generation DOUBLE-EXPLODES those arrays map-side (no doc-keyed join,
  no shuffle before the map-combined support partials; per-stage
  2->8-thread scaling measured 3.76-4.3x), ONE support aggregate for
  all relations via int arithmetic, strings restored by broadcast join
  on the (tiny) support output. Hub docs: ``max_entities_per_doc``
  bounds the per-row explosion; ``salt_buckets>1`` switches to the
  salted self-join strategy (same arrays, 8-byte join key, xor-guarded
  128-bit doc identity).
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from .. import fixtures
from ..operators import aggregates, mentions as mentions_op, pairs as pairs_op
from ..operators import scoring, triples as triples_op


def ingest(corpus: DataFrame, langs: list[str] | None = None) -> DataFrame:
    """Stage 1: stable doc key + lineage sha (BASELINE.json per-row
    invariant: content sha256 equality input<->manifest)."""
    df = corpus
    if langs:
        df = df.where(F.col("lang").isin(langs))
    return df.withColumn(
        "doc_id",
        F.sha2(F.concat_ws("\x1f", "repo", "path", "commit"), 256),
    ).withColumn("content_sha", F.sha2(F.col("content"), 256))


#: Scale-path AQE advisory partition size. The default 64MB coalesces
#: the explosion join's output into few, uneven tasks (observed 20s vs
#: 58s task walls in one stage); more, smaller tasks load-balance it.
#: Set on the session: the lazy plans execute after build_triples
#: returns, so a set/restore scope cannot work.
_ADVISORY_PARTITION_BYTES = "16m"


@dataclass
class PipelineConfig:
    relations: list[tuple[str, str]] = field(
        default_factory=lambda: [
            (fixtures.FN, fixtures.PKG),
            (fixtures.PKG, fixtures.FN),
            (fixtures.FN, fixtures.FN),
        ]
    )
    threshold: float = 0.0
    salt_buckets: int = 0
    max_entities_per_doc: int = 0
    # >0: bound per-pair article sets; <0: none (build_triples: scale path)
    articles_cap: int = 0
    langs: list[str] | None = None
    repo_partitions: int = 0  # >0: explicit repartition on hash(repo)
    canonicalize: bool = False  # stage 7: minhash/CC entity dedup + remap
    # (source_type, target_type) -> predicate overrides; falls back to
    # triples_op.predicate_for (the reference's per-type-pair datasets).
    predicates: dict[tuple[str, str], str] | None = None

    def predicate(self, src_t: str, tgt_t: str) -> str:
        if self.predicates and (src_t, tgt_t) in self.predicates:
            return self.predicates[(src_t, tgt_t)]
        return triples_op.predicate_for(src_t, tgt_t)


def build_triples(
    spark: SparkSession,
    corpus: DataFrame,
    dictionary: list[fixtures.DictEntry],
    embeddings: DataFrame,
    config: PipelineConfig | None = None,
    entities: DataFrame | None = None,
) -> dict[str, DataFrame]:
    """Return all pipeline outputs as lazy DataFrames (the scale path
    materializes its shared detector output eagerly, see module doc).

    ``entities``: optional (entity_id, entity_type, vec_id) dimension;
    by default derived from the fixture vec-index convention."""
    cfg = config or PipelineConfig()
    docs = ingest(corpus, cfg.langs)
    if cfg.repo_partitions:
        docs = docs.repartition(cfg.repo_partitions, F.col("repo"))
    else:
        # The Arrow detector is the widest stage; a single-split small
        # scan would run it as ONE Python worker
        # (functions/parallel.py). No-op on a wide corpus scan.
        from ..functions.parallel import ensure_min_parallelism

        docs = ensure_min_parallelism(docs, "doc_id")

    dict_entries = [(e.surface, e.entity_id, e.entity_type) for e in dictionary]
    if entities is None:
        n_vecs = embeddings.selectExpr("max(vec_id) + 1 AS n").first()["n"]
        entities = fixtures.entities_df(spark, dictionary, int(n_vecs))

    if cfg.articles_cap < 0:
        return _build_scale(
            spark, docs, dict_entries, entities, embeddings, cfg
        )
    return _build_parity(
        spark, docs, dictionary, dict_entries, entities, embeddings, cfg
    )


def _build_parity(
    spark, docs, dictionary, dict_entries, entities, embeddings, cfg
) -> dict[str, DataFrame]:
    mentions = mentions_op.detect_mentions(docs, dict_entries)

    # The trie scan is the most expensive stage (full corpus + Python
    # workers); every downstream consumer reuses ONE materialization.
    # DISK_ONLY, not MEMORY_AND_DISK: MemoryStore block registration
    # serializes under a shared lock at high task concurrency. An eager
    # localCheckpoint, not a persist: the same one detector run, but no
    # CacheManager entry that outlives the returned frames (nothing
    # would unpersist it), and AQE's concurrently materialized stages
    # cannot race an unpopulated cache. The per-relation fan-out runs
    # one action per relation, each compiled against a LogicalRDD
    # instead of re-analyzing the detector lineage (round 6, guide §5).
    mentions = mentions.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    mentions_dedup = (
        mentions.select("doc_id", "entity_id", "entity_type")
        .distinct()
        .localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    )
    triples, all_pairs = _kg_tail(
        spark, mentions_dedup, dict_entries, entities, embeddings, cfg
    )
    return {
        "docs": docs,
        "mentions": mentions,
        "doc2entity": aggregates.doc_to_entities(mentions),
        "entity2doc": aggregates.entity_to_docs(mentions),
        "pairs": all_pairs,
        "triples": triples,
    }


def _kg_tail(
    spark, mentions_dedup, dict_entries, entities, embeddings, cfg
) -> tuple[DataFrame, DataFrame]:
    """String-keyed KG tail shared by ``build_triples``' parity path and
    the checkpointed runner's triples stage (plans/runner.py): distinct
    (doc_id, entity_id, entity_type) rows -> (triples, pairs). The
    caller owns the materialization of ``mentions_dedup``.
    ``articles_cap < 0`` collects no article sets (support_agg's
    map-combined branch)."""
    triple_parts: list[DataFrame] = []
    pair_parts: list[DataFrame] = []
    for src_t, tgt_t in cfg.relations:
        rel_pairs = pairs_op.generate_pairs(
            mentions_dedup,
            src_t,
            tgt_t,
            salt_buckets=cfg.salt_buckets,
            max_entities_per_doc=cfg.max_entities_per_doc,
            already_distinct=True,
        )
        # support rows are distinct on (subj, obj) by construction, so
        # the scoring kernel applies directly — no distinct-pairs
        # subtree, no support<->score join, no extra exchange.
        support = triples_op.support_agg(rel_pairs, cfg.articles_cap)
        scored = scoring.score_pairs(support, entities, embeddings)
        triple_parts.append(
            triples_op.emit_triples(
                scored, src_t, tgt_t, cfg.threshold, pred=cfg.predicate(src_t, tgt_t)
            )
        )
        pair_parts.append(rel_pairs)

    triples = triple_parts[0]
    for t in triple_parts[1:]:
        triples = triples.unionByName(t)
    all_pairs = pair_parts[0]
    for p in pair_parts[1:]:
        all_pairs = all_pairs.unionByName(p)

    if cfg.canonicalize:
        triples = _canonicalize(spark, triples, dict_entries)
    return triples, all_pairs


def _build_scale(
    spark, docs, dict_entries, entities, embeddings, cfg
) -> dict[str, DataFrame]:
    # The entity dim is broadcast-sized and must be collected anyway
    # (the detector's broadcast dict) — enumerate indices driver-side
    # instead of a single-partition row_number window (one fewer job +
    # no WindowExec on the critical path).
    ids = sorted(
        r["entity_id"] for r in entities.select("entity_id").distinct().collect()
    )
    entity_idx = {eid: i + 1 for i, eid in enumerate(ids)}
    idx_dim = spark.createDataFrame(
        [(i, eid) for eid, i in entity_idx.items()], "idx int, entity_id string"
    )
    all_types = sorted({e[2] for e in dict_entries})
    type_codes = {t: i for i, t in enumerate(all_types)}

    spark.conf.set(
        "spark.sql.adaptive.advisoryPartitionSizeInBytes", _ADVISORY_PARTITION_BYTES
    )

    # ONE detector pass emits a ROW PER DOC with the packed entity set
    # (et = entity_idx*256 + type_code, sorted; eid<2^23 asserted).
    # Per-doc arrays make the pair stage shuffle-free (below) and make
    # doc-key collisions structurally impossible on that path — pairs
    # never leave their doc row, so no 64-vs-128-bit key tradeoff
    # exists; the hashed (dk, dk2) pair exists only to key the
    # doc-level OUTPUT tables (doc2entity / evidence edges).
    assert len(entity_idx) < (1 << 23), "entity_idx must fit 23 bits"
    arrs = mentions_op.detect_entity_arrays(
        docs, dict_entries, entity_idx, type_codes, cfg.max_entities_per_doc
    )
    arrs = arrs.select(
        F.xxhash64("doc_id").alias("dk"),
        F.xxhash64("doc_id", F.lit(1)).alias("dk2"),
        "ets",
    )
    # localCheckpoint, not persist+count (round 6, guide §5): one
    # materialization barrier, and the pair-explosion, support and
    # doc2entity consumers compile against a LogicalRDD instead of
    # re-analyzing the Arrow-detector lineage per action.
    arrs = arrs.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)

    rel_code = (F.col("stc") * 256 + F.col("ttc")).alias("rc")
    wanted_codes = [
        type_codes[s] * 256 + type_codes[t] for s, t in cfg.relations
    ]
    pred_by_code = F.create_map(
        *[
            x
            for (s, t) in cfg.relations
            for x in (
                F.lit(type_codes[s] * 256 + type_codes[t]),
                F.lit(cfg.predicate(s, t)),
            )
        ]
    )

    if cfg.salt_buckets and cfg.salt_buckets > 1:
        # JOIN strategy (hub-salted): per-entity rows derived from the
        # same cached arrays; the subj side replicates across salt
        # buckets so a hub doc's pair expansion spreads over
        # salt_buckets reducers instead of one. The dk2 collision guard
        # is an xor POST-join filter, never a second equi-key (Catalyst
        # would extract a plain equality into the join hash: +13%).
        ents = arrs.select("dk", "dk2", F.explode("ets").alias("et"))
        a = ents.select("dk", F.col("dk2").alias("dk2a"), F.col("et").alias("eta"))
        b = ents.select("dk", F.col("dk2").alias("dk2b"), F.col("et").alias("etb"))
        a = a.withColumn(
            "salt", F.pmod(F.xxhash64("eta"), F.lit(cfg.salt_buckets)).cast("int")
        )
        b = b.withColumn(
            "salt", F.explode(F.sequence(F.lit(0), F.lit(cfg.salt_buckets - 1)))
        )
        joined = (
            a.join(b, ["dk", "salt"])
            .drop("salt")
            .where(F.col("dk2a").bitwiseXOR(F.col("dk2b")) == 0)
        )
        raw_pairs = joined.select(
            "dk",
            F.col("dk2a").alias("dk2"),
            F.shiftright("eta", 8).alias("subj"),
            F.shiftright("etb", 8).alias("obj"),
            F.col("eta").bitwiseAND(F.lit(255)).alias("stc"),
            F.col("etb").bitwiseAND(F.lit(255)).alias("ttc"),
        )
    else:
        # ARRAY strategy (default): k^2 pair expansion by double
        # explode in the SAME stage that scans the cached arrays — no
        # shuffle at all before the map-combined support partials
        # (the join strategy shuffles the full entity-row table twice).
        # Measured: the post-detector tail went from 1.64x to ~CPU-bound
        # scaling at 2->8 threads. Hub docs are bounded by
        # max_entities_per_doc (cap^2 rows from one input row); beyond
        # that, salt_buckets>1 switches to the salted join.
        raw_pairs = (
            arrs.select("dk", "dk2", F.explode("ets").alias("eta"), "ets")
            .select(
                "dk",
                "dk2",
                "eta",
                F.explode("ets").alias("etb"),
            )
            .select(
                "dk",
                "dk2",
                F.shiftright("eta", 8).alias("subj"),
                F.shiftright("etb", 8).alias("obj"),
                F.col("eta").bitwiseAND(F.lit(255)).alias("stc"),
                F.col("etb").bitwiseAND(F.lit(255)).alias("ttc"),
            )
        )

    pairs = raw_pairs.select(
        "dk", "dk2", "subj", "obj", rel_code
    ).where(
        F.col("rc").isin(wanted_codes) & (F.col("subj") != F.col("obj"))
    )

    support = pairs.groupBy("rc", "subj", "obj").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    named = (
        support.join(
            F.broadcast(
                idx_dim.select(F.col("idx").alias("subj"), F.col("entity_id").alias("subj_id"))
            ),
            "subj",
        )
        .join(
            F.broadcast(
                idx_dim.select(F.col("idx").alias("obj"), F.col("entity_id").alias("obj_id"))
            ),
            "obj",
        )
        .select(
            F.col("subj_id").alias("subj"),
            F.col("obj_id").alias("obj"),
            pred_by_code[F.col("rc")].alias("pred"),
            "n_docs",
        )
    )
    scored = scoring.score_pairs(named, entities, embeddings)
    triples = (
        scored.where(F.coalesce(F.col("score"), F.lit(0.0)) >= cfg.threshold)
        .withColumn("articles", F.array().cast("array<string>"))
        .select("subj", "pred", "obj", "score", "articles", "n_docs")
    )

    if cfg.canonicalize:
        triples = _canonicalize(spark, triples, dict_entries)

    # Evidence edges (the pair->doc table) keep the hashed doc key
    # pair; operators/pairs.py::evidence_articles joins them back to
    # docs on (xxhash64(doc_id), xxhash64(doc_id, 1)) to recover the
    # parity path's per-triple article sets when lineage is needed.
    return {
        "entity_dim": idx_dim,
        "docs": docs,
        "mentions": arrs,
        "doc2entity": arrs.select(
            "dk",
            "dk2",
            F.transform("ets", lambda x: F.shiftright(x, 8)).alias("entity_ids"),
        ),
        "entity2doc": arrs.select(
            F.explode(F.transform("ets", lambda x: F.shiftright(x, 8))).alias("eid")
        ).groupBy("eid").agg(F.count(F.lit(1)).alias("n_docs")),
        "pairs": pairs.select(
            F.col("dk").alias("doc_id"), F.col("dk2").alias("doc_id2"), "subj", "obj"
        ),
        "triples": triples,
    }


def _canonicalize(spark, triples, dict_entries):
    from ..operators import canonicalize as canon

    dict_df = spark.createDataFrame(
        dict_entries, "surface string, entity_id string, entity_type string"
    )
    mapping = canon.canonical_map(dict_df)
    return canon.canonicalize_triples(triples, mapping)
