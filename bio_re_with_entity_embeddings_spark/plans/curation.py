"""End-to-end LLM-corpus curation plan (VERDICT r4 #1).

``build_triples`` is the KG product; this is the curation product — the
composed, resumable chain a 100 TB pre-training pipeline actually
ships, built from the individually-proven stages:

    signals (quality / lang / PII / fingerprint)
      -> quality gate
      -> exact dedup (fingerprint group, min-doc keeper)
      -> minhash near-dup pairs -> connected-component keeper election
      -> benchmark decontamination
      -> per-group quota sampling

Everything is ONE lazy plan per output except the shared ``signals``
projection and the survivor hubs, which are eagerly materialized via
``localCheckpoint`` (round 6): the barrier prevents AQE racing an
unpopulated cache across independent subtrees, and the truncated
lineage stops every downstream action of this ~30-job chain from
re-analyzing the full upstream plan (measured 12.7-14.0 -> 10.6-10.8 s
at the 50k-doc bench point). The checkpointed runner runs the same
chain in its keep stage, over its materialized signals stage.

Scale shape per stage:

* signals — one codegen'd projection over the corpus scan.
* exact dedup — map-combined ``groupBy(fp).agg(min)`` (never a window:
  a boilerplate doc duplicated 10^6 times would sort-buffer one task)
  + a ``merge`` (sort-merge) join back: the keeper table is
  O(distinct texts), so it must be neither broadcast (grows with the
  corpus) nor hash-built (a shuffled hash join's per-partition
  UnsafeHashedRelation cannot spill — the OOM minhash's verify hit at
  2M docs, BENCH/BASELINE.md round 5).
* near-dup — the measured minhash path (int64 gram-hash verify, capped
  buckets) + ``dedup_keepers`` (CC over capped pairs, quality-ranked
  keeper, sort-merge join back).
* decontamination — benchmark n-grams hashed + broadcast; corpus side
  one scan.
* quota — salted two-stage top-k (exact; see quota_sample).

The whole chain is restated in ANSI SQL for the driver oracle
(``contract_text.curate_corpus``) with md5/string hash modes and every
knob pinned; the xxhash64 production mode is pinned against md5 mode
in tests.

Reference: the reference has no curation layer at all (its dedup is
key-based drop_duplicates, utils/pandas_utils.py:109-120); this plan
is the beyond-reference training-data product of SURVEY.md section 2.8.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel

from ..functions import text as TXT
from ..operators import curation as CUR
from ..operators import dedup as DD
from . import manifest as M


@dataclass
class CurationConfig:
    min_quality: float = 0.55
    langs: list[str] | None = None  # None: keep all langs
    minhash_threshold: float = 0.5
    hash_mode: str = "xxhash64"  # 'md5' = oracle mode (cross-engine)
    decon_n: int = 13  # published decontamination gram size
    decon_hashed: bool = True  # False = string-keyed oracle dataflow
    max_decon_hits: int = 0  # drop docs with MORE than this many hits
    quota_key: str = "lang"
    quota: int = 0  # 0: skip the quota stage
    # quota skew knobs (forwarded to quota_sample; leaving both None
    # runs its plan-time max-group count job — pass the hint at scale)
    quota_skew_salts: int | None = None
    quota_max_group_rows: int | None = None
    # minhash knobs forwarded to minhash_near_duplicates
    minhash_hashes: int = 32
    minhash_bands: int = 8
    max_bucket_size: int = 2000


def curate_corpus(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame | None = None,
    config: CurationConfig | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> dict[str, DataFrame]:
    """Compose the curation chain; returns every intermediate plus the
    final ``corpus`` as lazy DataFrames (signals persisted, see module
    doc). Deterministic end to end — reruns produce identical output,
    and the md5 oracle mode is row-exactly restatable in ANSI SQL.

    Output keys: ``signals`` (doc, lang, text, content_sha, n_tokens,
    quality, fp), ``quality_pass``, ``exact_survivors``,
    ``dedup_pairs``, ``dedup_clusters`` (doc, cluster, keeper, drop),
    ``decon_hits`` (doc, n_hits; empty frame when no benchmark),
    ``corpus`` (doc, lang, quality, n_tokens).
    """
    cfg = config or CurationConfig()
    # Single-split small scans would run the whole signals projection
    # (sha2 + quality + fingerprint per doc) as ONE task and hand the
    # chain a one-partition cache (functions/parallel.py; measured
    # 4-5.5 s of the 18 s sf1.0 chain, round 6). No-op at scale.
    from ..functions.parallel import ensure_min_parallelism

    docs = ensure_min_parallelism(docs, id_col)
    if benchmark is not None:
        # normalize to the chain's internal column name: the decon
        # stage only reads the benchmark's text (operators/curation.py
        # _exploded_grams with id_col=None), and callers hand corpora
        # whose text column matches text_col ('content' for the
        # Iceberg file shape) — without this projection the chain
        # would silently require a literal 'text' column.
        benchmark = benchmark.select(F.col(text_col).alias("text"))

    signals = _with_signals(_doc_rows(docs, id_col, text_col, lang_col))
    # Round 6 (guide §5 — localCheckpoint to cut lineage): the hub was
    # persist(DISK_ONLY) + count. The count job materialized the same
    # bytes, but every downstream ACTION (CC rounds, survivor joins,
    # decon, quota — this chain runs ~30 jobs) re-analyzed the full
    # signals lineage per plan; the checkpoint compiles them against a
    # constant-size LogicalRDD instead. Measured: chain 12.7-14.0 s ->
    # 10.6-10.8 s at the 50k-doc point (same job count, smaller
    # driver gaps). eager=True is exactly the persist+count barrier.
    signals = signals.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)

    parts = _chain(spark, signals, benchmark, cfg)
    final = _quota(parts["clean"], cfg)

    return {
        "signals": signals,
        "quality_pass": parts["quality_pass"],
        "exact_survivors": parts["exact_survivors"],
        "dedup_pairs": parts["pairs"],
        "dedup_clusters": parts["clusters"],
        "near_survivors": parts["near_survivors"],
        "decon_hits": parts["hits"],
        # corpus: the metadata view (the oracle's shape); corpus_full
        # keeps the TEXT — the frame a training pipeline actually
        # consumes (the survivors carry text all the way through the
        # chain; only this select ever drops it)
        "corpus": final.select("doc", "lang", "quality", "n_tokens"),
        "corpus_full": final,
    }


def run_curation_checkpointed(
    spark: SparkSession,
    docs: DataFrame,
    benchmark: DataFrame | None,
    base_dir: str,
    n_buckets: int = 32,
    config: CurationConfig | None = None,
    run_id: str | None = None,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
) -> dict[str, DataFrame]:
    """Checkpointed/resumable curation — the ``plans/runner.py``
    machinery applied to the curation chain:

      signals  bucket-local (bucket = pmod(xxhash64(doc), n)): the
               per-doc projection; a grown corpus recomputes only the
               buckets whose input changed.
      keep     global single-bucket tail (dedup pairs cross buckets by
               definition — same shape as the runner's ``triples``
               stage): quality gate -> exact dedup -> minhash keepers
               -> decontamination; skipped iff the signal table's
               count + content-sha fold is unchanged.
      corpus   global single-bucket quota stage over keep's output —
               a crash between keep and corpus resumes exactly.

    Per-bucket manifests record rows in/out, content-sha xor fold and
    wall; reruns are idempotent per-bucket dynamic overwrites. Only
    signals scans its input for the fingerprint: keep takes its input
    stats from signals' output stats folded into one bucket, corpus
    from keep's (plans/manifest.py::_run_stage).

    CONFIG/BENCHMARK LINEAGE: run_stage's skip test covers only the
    stage INPUT (count + sha fold) — on its own it would silently
    serve a stale 'keep' output after the user changes a config knob
    or swaps the benchmark over the same working dir (the exact
    "silently stale" resume class the reference is criticized for,
    plans/manifest.py module doc). The knobs and the benchmark are
    therefore folded into the stage IDENTITY: 'keep' runs as
    ``keep_<hash(chain knobs + benchmark count/sha-fold)>`` and
    'corpus' as ``corpus_<hash(quota knobs)>`` — a changed config or
    benchmark starts a fresh stage directory (recompute), an unchanged
    one resumes exactly; prior configs' directories remain as orphans
    (rerun the old config and it resumes too). Fingerprinting the
    benchmark costs one map-combined count+fold scan per rerun —
    benchmarks are dimension-sized by definition.

    The keep and corpus stages run ``curate_corpus``' own chain and
    quota step, so both entry points give the same rows."""
    cfg = config or CurationConfig()
    if benchmark is not None:
        # same normalization as curate_corpus (the chain + the
        # fingerprint below both read 'text')
        benchmark = benchmark.select(F.col(text_col).alias("text"))

    signals, signal_stats = M._run_stage(
        spark,
        base_dir,
        "signals",
        M.with_bucket(_doc_rows(docs, id_col, text_col, lang_col), "doc", n_buckets),
        _with_signals,
        run_id=run_id,
    )

    # Stage identity = chain knobs + benchmark fingerprint (see
    # docstring). Skew salts are EXCLUDED from the corpus hash: the
    # salted two-stage quota is exactly equal to the unsalted window,
    # so those knobs cannot change the output.
    keep_knobs = (
        cfg.min_quality, tuple(cfg.langs) if cfg.langs else None,
        cfg.minhash_threshold, cfg.hash_mode, cfg.decon_n,
        cfg.decon_hashed, cfg.max_decon_hits, cfg.minhash_hashes,
        cfg.minhash_bands, cfg.max_bucket_size,
    )
    # duplicate-SENSITIVE fold: the manifest's xor would let a swapped
    # benchmark silently resume the stale keep stage
    bench_fp = None if benchmark is None else M.content_fp(benchmark, "text")
    keep_stage = f"keep_{M.stage_hash((keep_knobs, bench_fp))}"
    corpus_stage = f"corpus_{M.stage_hash((keep_stage, cfg.quota_key, cfg.quota))}"

    def keep_tail(sig: DataFrame) -> DataFrame:
        out = _chain(spark, sig.drop("bucket"), benchmark, cfg)["clean"]
        return out.withColumn("bucket", F.lit(0).cast("int"))

    keep, keep_stats = M._run_stage(
        spark,
        base_dir,
        keep_stage,
        signals.withColumn("bucket", F.lit(0).cast("int")),
        keep_tail,
        run_id=run_id,
        input_stats=M.one_bucket(signal_stats),
    )

    def quota_tail(kept: DataFrame) -> DataFrame:
        final = _quota(kept.drop("bucket"), cfg)
        return final.withColumn("bucket", F.lit(0).cast("int"))

    corpus, _ = M._run_stage(
        spark, base_dir, corpus_stage, keep, quota_tail, run_id=run_id,
        input_stats=keep_stats,
    )
    return {
        "signals": signals,
        "keep": keep.drop("bucket"),
        "corpus": corpus.drop("bucket").select(
            "doc", "lang", "quality", "n_tokens"
        ),
        "corpus_full": corpus.drop("bucket"),
        # resolved stage names (config-hashed, see docstring) so
        # callers/tests can locate the manifest directories
        "_stages": {
            "signals": "signals",
            "keep": keep_stage,
            "corpus": corpus_stage,
        },
    }


def _doc_rows(docs: DataFrame, id_col: str, text_col: str, lang_col: str) -> DataFrame:
    """The chain's input row: (doc, lang, text, content_sha)."""
    return docs.select(
        F.col(id_col).cast("string").alias("doc"),
        F.col(lang_col).alias("lang"),
        F.col(text_col).alias("text"),
        F.sha2(F.col(text_col), 256).alias("content_sha"),
    )


def _with_signals(rows: DataFrame) -> DataFrame:
    """Append the per-doc signals: token count, quality, fingerprint."""
    return rows.select(
        "*",
        TXT.token_count("text").alias("n_tokens"),
        F.round(TXT.quality_score("text"), 6).alias("quality"),
        TXT.fingerprint("text").alias("fp"),
    )


def _quota(clean: DataFrame, cfg: CurationConfig) -> DataFrame:
    """Per-group quota sample of the survivors (``quota`` 0: all)."""
    if cfg.quota <= 0:
        return clean
    return CUR.quota_sample(
        clean,
        cfg.quota_key,
        cfg.quota,
        "doc",
        skew_salts=cfg.quota_skew_salts,
        max_group_rows=cfg.quota_max_group_rows,
    )


def _chain(
    spark: SparkSession,
    signals: DataFrame,
    benchmark: DataFrame | None,
    cfg: CurationConfig,
) -> dict[str, DataFrame]:
    """Quality gate -> exact dedup -> minhash keepers -> decon over a
    materialized signals table — the one chain both entry points
    share. Returns every intermediate; ``clean`` is the decontaminated
    survivor set the quota stage consumes."""
    gate = F.col("quality") >= cfg.min_quality
    if cfg.langs is not None:
        gate = gate & F.col("lang").isin(cfg.langs)
    quality_pass = signals.where(gate)

    # Exact dedup: min-doc keeper per normalized-text fingerprint.
    # groupBy (map-combined), not a window (a boilerplate doc
    # duplicated 10^6 times would buffer one task); join back with
    # merge — the keeper table is O(distinct texts), which grows
    # with the corpus: never broadcast, and never hash-built either (a
    # shuffled hash join's build side cannot spill; measured OOM class,
    # BENCH/BASELINE.md round 5).
    exact_keepers = quality_pass.groupBy("fp").agg(F.min("doc").alias("_keep"))
    exact_survivors = (
        quality_pass.join(exact_keepers.hint("merge"), "fp")
        .where(F.col("doc") == F.col("_keep"))
        .drop("_keep")
    )
    # The hub of the tail: consumed by the minhash signature AND
    # shingle subtrees (evaluated eagerly by CC's localCheckpoint),
    # then again by the survivor joins and the final output —
    # materialize it once (DISK_ONLY for the measured
    # MemoryStore-contention reason of the pipeline's mention cache) so
    # the fp join runs once, not once per consumer (exchange reuse only
    # dedupes byte-identical subtrees WITHIN one action; CC's
    # checkpoint rounds are separate actions). localCheckpoint, not
    # persist+count (round 6): same barrier, but downstream plans
    # compile against a LogicalRDD instead of re-analyzing the
    # exact-dedup lineage per action, and no cache entry outlives the
    # frames that use it.
    exact_survivors = exact_survivors.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)

    pairs = DD.minhash_near_duplicates(
        exact_survivors,
        "doc",
        "text",
        threshold=cfg.minhash_threshold,
        n_hashes=cfg.minhash_hashes,
        bands=cfg.minhash_bands,
        hash_mode=cfg.hash_mode,
        max_bucket_size=cfg.max_bucket_size,
    )
    clusters = DD.dedup_keepers(
        pairs,
        id_a="doc_a",
        id_b="doc_b",
        quality=signals.select("doc", "quality"),
        quality_id="doc",
        quality_col="quality",
    )
    drops = clusters.where(F.col("drop")).select("doc")
    near_survivors = exact_survivors.join(
        drops.hint("merge"), "doc", "left_anti"
    )

    if benchmark is not None:
        # near_survivors is consumed by the decon-hit subtree AND the
        # final anti-join — unpersisted, the keeper-election joins and
        # the drop anti-join would re-execute per consumer (exchange
        # reuse dedupes only byte-identical exchanges within one
        # action).
        near_survivors = near_survivors.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
        decon = CUR.decontaminate if cfg.decon_hashed else CUR.decontaminate_exact
        hits = decon(near_survivors, benchmark, "doc", "text", n=cfg.decon_n)
        contaminated = hits.where(
            F.col("n_hits") > cfg.max_decon_hits
        ).select("doc")
        clean = near_survivors.join(
            contaminated.hint("merge"), "doc", "left_anti"
        )
    else:
        hits = spark.createDataFrame([], "doc string, n_hits long")
        clean = near_survivors

    return {
        "quality_pass": quality_pass,
        "exact_survivors": exact_survivors,
        "pairs": pairs,
        "clusters": clusters,
        "near_survivors": near_survivors,
        "hits": hits,
        "clean": clean,
    }
