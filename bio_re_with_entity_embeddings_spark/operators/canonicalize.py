"""Entity canonicalization (pipeline stage 7): minhash candidate
edges + connected-components -> canonical_id remap.

Reference analog: the set-union merge on key collision when two MeSH
ids map to the same DOID/DrugBank id (``utils/pandas_utils.py:141-146,
178-183``) — generalized to surface-form similarity so near-identical
entities collapse to one canonical node before graph materialization.

Scale shape:
* candidate edges — (a) exact shared-surface STAR to the per-surface
  min entity (linear in the surface-group size; connectivity-
  equivalent to the clique, which is all CC needs), (b) minhash-LSH
  over character 3-gram shingles of DISTINCT surfaces (same banding
  machinery and per-bucket size gate as operators/dedup.py): O(n)
  with bucket joins, never O(n^2).
* connected components — alternating large-star / small-star
  (Kiveris et al., "Connected Components in MapReduce and Beyond"),
  O(log n) rounds, each round two join+groupBy stages; iteration
  state is localCheckpoint'ed to truncate lineage. Convergence is a
  shuffle-free set-signature comparison fused into the checkpoint
  materialization (ONE job per round; see ``_edge_signature``).
* remap — broadcast join of the (entity -> canonical) dimension onto
  the triple stream; no extra shuffle of the fact table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.storagelevel import StorageLevel


def _char_shingles(col, n: int = 3):
    c = F.lower(F.col(col) if isinstance(col, str) else col)
    return F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.length(c) - n, F.lit(0))),
            lambda i: F.substring(c, i + 1, n),
        )
    )


def surface_candidate_edges(
    dict_df: DataFrame,
    n_hashes: int = 16,
    bands: int = 8,
    jaccard_threshold: float = 0.6,
    max_bucket_size: int = 2000,
) -> DataFrame:
    """Undirected candidate edges (a, b) between entity ids whose
    surfaces are identical or near-identical (char-3-gram jaccard).

    The edges exist ONLY to feed ``connected_components``, which lets
    both branches shed their multiplicity-quadratic terms:

    * exact branch — a connectivity-equivalent STAR (every member ->
      the per-surface min entity_id), not the all-pairs clique: a
      10^8-entity dictionary where 10^5 entities share one ambiguous
      surface ("p53") would otherwise detonate into 10^10 pairs from a
      single surface group. Linear in the group size, identical
      component set (same members, same min).
    * near branch — minhash-LSH over DISTINCT surfaces (true
      dictionary cardinality), emitting root-to-root edges. Identical
      surfaces are the exact branch's job; running LSH at surface
      granularity means a surface's multiplicity never reaches the
      bucket join at all (pre-fix, the shared-surface clique sneaked
      back in here: identical surfaces -> identical signatures -> all
      pairs in every band's bucket). Measured at 110k entities with a
      10k-multiplicity hot surface: 50.0M edges / 315 s full map ->
      9,999 edges / 27 s, identical canonical_map (BENCH/BASELINE.md).

    ``max_bucket_size`` gates the LSH branch the same way every
    detector in operators/dedup.py is gated: buckets above the cap are
    skipped (near-miss pairs inside a gated bucket can still fire from
    their other bands; exact duplicates are unaffected)."""
    # (a) exact shared surface (the ambiguous-surface case): star to
    # the per-surface min, not the per-surface clique (see docstring)
    s = dict_df.select(F.lower("surface").alias("s"), "entity_id")
    roots = s.groupBy("s").agg(F.min("entity_id").alias("root"))
    exact = (
        s.join(roots, "s")
        .where(F.col("entity_id") != F.col("root"))
        .select(F.col("root").alias("a"), F.col("entity_id").alias("b"))
        .distinct()
    )

    # (b) minhash-LSH near-identical surfaces over the DISTINCT-surface
    # table; bucket join on surface keys, shingles re-joined for
    # candidate verification, edges emitted between surface roots.
    # Signature shape is explode + codegen min-aggs (see
    # operators/dedup.py perf note).
    rows_per_band = max(n_hashes // bands, 1)
    grams_tbl = roots.select("s", "root", _char_shingles("s").alias("grams"))
    sig = (
        roots.select("s", F.explode(_char_shingles("s")).alias("g"))
        .groupBy("s")
        .agg(
            *[
                F.min(F.xxhash64("g", F.lit(i))).alias(f"h{i}")
                for i in range(n_hashes)
            ]
        )
    )
    banded = sig.select(
        "s",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(b).alias("band"),
                        F.xxhash64(
                            *[
                                F.col(f"h{i}")
                                for i in range(
                                    b * rows_per_band, (b + 1) * rows_per_band
                                )
                            ],
                            F.lit(b),
                        ).alias("bucket"),
                    )
                    for b in range(bands)
                ]
            )
        ).alias("bb"),
    ).select("s", "bb.band", "bb.bucket")
    # Per-bucket size gate (same shape as dedup.py's: one window count
    # over the (band, bucket) partitioning the self-join shuffles on
    # anyway) — candidates <= bands * cap^2 instead of unbounded.
    wb = Window.partitionBy("band", "bucket")
    banded = (
        banded.withColumn("_bsz", F.count(F.lit(1)).over(wb))
        .where(F.col("_bsz") <= max_bucket_size)
        .drop("_bsz")
    )
    cand = (
        banded.alias("x")
        .join(banded.alias("y"), ["band", "bucket"])
        .where(F.col("x.s") < F.col("y.s"))
        .select(F.col("x.s").alias("sa"), F.col("y.s").alias("sb"))
        .distinct()
    )
    jac = F.size(F.array_intersect("ga", "gb")) / F.size(F.array_union("ga", "gb"))
    near = (
        cand.join(
            grams_tbl.withColumnsRenamed(
                {"s": "sa", "root": "ra", "grams": "ga"}
            ),
            "sa",
        )
        .join(
            grams_tbl.withColumnsRenamed(
                {"s": "sb", "root": "rb", "grams": "gb"}
            ),
            "sb",
        )
        .where(jac >= jaccard_threshold)
        # one entity may own both near-identical surfaces: drop a==b
        .select(F.least("ra", "rb").alias("a"), F.greatest("ra", "rb").alias("b"))
        .where(F.col("a") != F.col("b"))
    )
    return exact.unionByName(near).distinct()


def _edge_signature(e: DataFrame) -> tuple:
    """Set signature of a DISTINCT edge set: row count plus two
    independent xxhash64 xor-folds. Equal signatures on distinct sets
    means equal sets up to ~2^-128 collision odds (deterministic, so
    never flaky). One map-combined, shuffle-free scan — the convergence
    test this feeds replaced ``new_e.exceptAll(e).limit(1).count()``,
    which (a) co-group-shuffled the full edge set twice per star round
    (at 10^9 edges x ~10 rounds that is ~20 full-set shuffles spent on
    detection alone) and (b) only saw ADDED edges, declaring a
    shrink-only round converged; signature equality is the true fixed
    point of the deterministic round function."""
    row = e.agg(
        F.count(F.lit(1)).alias("n"),
        F.bit_xor(F.xxhash64("u", "v", F.lit(1))).alias("x1"),
        F.bit_xor(F.xxhash64("u", "v", F.lit(2))).alias("x2"),
    ).collect()[0]
    return (row["n"], row["x1"], row["x2"])


from contextlib import contextmanager


@contextmanager
def _adaptive_off(spark):
    """Scope AQE off around an iterative checkpoint loop (round 6).

    The star/pagerank loops pick every shuffle width explicitly from a
    measured edge count, so adaptive re-planning cannot improve the
    plan — but it fragments each round's checkpoint materialization
    into several query-stage jobs with driver planning gaps between
    them (event-log audit at sf1.0: a 5-round pagerank ran 34 jobs
    whose walls summed to 9 s inside a 13.5 s call). Values are
    unaffected; only job granularity changes. The previous setting is
    restored on exit, and every loop action runs inside the scope."""
    key = "spark.sql.adaptive.enabled"
    prev = spark.conf.get(key, "true")
    spark.conf.set(key, "false")
    try:
        yield
    finally:
        spark.conf.set(key, prev)


def _loop_width(n_edges: int, ceiling: int) -> int:
    """Shuffle width for one CC round, from the directed-edge count
    the convergence signature already measured (a free by-product —
    no extra job). ~250k directed edges (two short string ids, ~6 MB)
    per partition: a toy graph runs single-task rounds, a 10^9-edge
    graph keeps the session's full configured width. AQE cannot do
    this here: each round is materialized through a pinned
    ``localCheckpoint`` plan, and coalescing only merges post-shuffle
    reads — the 64-task map sides and per-stage scheduling overhead
    remain. Measured (sf0.1 curation chain, 191 pairs): dedup_keepers
    construction 5.9 s -> sub-second-class rounds.

    Round 6 (guide §2 — partitioning must adapt to input size AND
    cluster width): the pure bytes-derived width left the machine
    mostly idle in the mid range — a 2M-edge pagerank ran width-8 on a
    32-core local mode (4x under-parallel; every round's join, agg and
    checkpoint serialized onto a quarter of the cores). When the
    bytes-derived width is below the cluster's defaultParallelism,
    raise it up to the cluster width as long as every partition keeps
    >= ~16k edges (tasks below that are scheduling overhead, the toy-
    graph case the 250k rule exists for). At >= cores * 250k edges the
    rule is exactly the old one, so production widths are unchanged."""
    target = -(-n_edges // 250_000)
    try:
        from pyspark.sql import SparkSession

        sess = SparkSession.getActiveSession()
        cores = sess.sparkContext.defaultParallelism if sess else 0
    except Exception:
        cores = 0
    if 0 < target < cores:
        target = min(cores, -(-n_edges // 16_000))
    return max(1, min(ceiling, target))


def connected_components(
    edges: DataFrame, max_iterations: int = 20, stats: dict | None = None
) -> DataFrame:
    """(node, component) with component = min node id in the component.

    Alternating large-star / small-star over an undirected edge set;
    converges in O(log n) rounds. Node ids are strings; min is
    lexicographic (stable, deterministic).

    Every exchange in a round is an EXPLICIT ``repartition(p, keys)``
    whose width adapts to the measured edge count (``_loop_width``):
    the following groupBy/join/dropDuplicates reuse that clustering,
    so the exchange COUNT is unchanged — only the width moves. The
    first construction round runs at the session width (the count is
    not yet known); every later round uses the width its own
    signature measured.

    ``stats`` (optional dict) receives ``{"rounds": n}`` — the number
    of star rounds actually executed before convergence; pinned by the
    adversarial-scale test (chain/star graphs stay O(log n)).
    """
    # every star round's actions run inside this scope (see
    # _adaptive_off: explicit widths, AQE only fragments the rounds
    # into extra jobs); the returned comp aggregate reads the
    # already-materialized final checkpoint. The input is materialized
    # first, under the session's AQE: planned with AQE off, a lazy
    # input (minhash pairs) runs its whole plan statically, and its
    # two uses in the symmetric edge union ran the signature stage
    # twice, once for a broadcast build.
    edges = edges.localCheckpoint(eager=True, storageLevel=StorageLevel.DISK_ONLY)
    with _adaptive_off(edges.sparkSession):
        return _cc_loop(edges, max_iterations, stats)


def _cc_loop(edges: DataFrame, max_iterations: int, stats: dict | None) -> DataFrame:
    spark = edges.sparkSession
    ceiling = int(spark.conf.get("spark.sql.shuffle.partitions", "200"))
    rounds = 0
    e = (
        edges.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionByName(edges.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .where(F.col("u") != F.col("v"))
        .distinct()
        # lazy checkpoint: the signature aggregate right below is the
        # materializing action, so each round runs ONE job (checkpoint
        # + convergence test fused), not an eager-checkpoint job plus a
        # detection job; lineage is truncated all the same.
        .localCheckpoint(eager=False)
    )
    sig = _edge_signature(e)
    for _ in range(max_iterations):
        p = _loop_width(sig[0], ceiling)
        # one explicit exchange on u; mins' groupBy and both star
        # joins reuse the clustering (no further exchange on this key)
        ep = e.repartition(p, "u")
        # large-star: connect v > u to min(N(u) + u)
        mins = ep.groupBy("u").agg(F.min("v").alias("mn"))
        mins = mins.select(
            "u", F.least("mn", F.col("u")).alias("m")
        )
        large = (
            ep.join(mins, "u")
            .where(F.col("v") > F.col("u"))
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .where(F.col("a") != F.col("b"))
        )
        # small-star: connect v <= u (and u) to min(N<=(u) + u)
        le = ep.where(F.col("v") <= F.col("u"))
        smins = le.groupBy("u").agg(F.min("v").alias("mn"))
        smins = smins.select("u", F.least("mn", F.col("u")).alias("m"))
        small_v = (
            le.join(smins, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
        )
        small_u = smins.select(F.col("u").alias("a"), F.col("m").alias("b"))
        small = small_v.unionByName(small_u).where(F.col("a") != F.col("b"))
        # the per-branch distincts folded into the single final one:
        # both branches feed the same (u, v) clustering anyway, and one
        # width-controlled exchange dedups the union in one pass
        new_e = (
            large.unionByName(small)
            .select(F.col("a").alias("u"), F.col("b").alias("v"))
            .unionByName(
                large.unionByName(small).select(
                    F.col("b").alias("u"), F.col("a").alias("v")
                )
            )
            .where(F.col("u") != F.col("v"))
            .repartition(p, "u", "v")
            .dropDuplicates(["u", "v"])
            .localCheckpoint(eager=False)
        )
        new_sig = _edge_signature(new_e)
        e = new_e
        rounds += 1
        if new_sig == sig:
            break
        sig = new_sig
    if stats is not None:
        stats["rounds"] = rounds
    comp = e.groupBy("u").agg(F.min("v").alias("mn"))
    comp = comp.select(
        F.col("u").alias("node"), F.least("mn", F.col("u")).alias("component")
    )
    # isolated nodes never appear in edges; callers union them as
    # self-components (see canonical_map).
    return comp


def canonical_map(dict_df: DataFrame, **kwargs) -> DataFrame:
    """(entity_id, canonical_id): every entity maps somewhere; entities
    in no merge component map to themselves."""
    edges = surface_candidate_edges(dict_df, **kwargs)
    comp = connected_components(edges)
    all_entities = dict_df.select("entity_id").distinct()
    return (
        all_entities.join(
            comp.withColumnsRenamed({"node": "entity_id", "component": "canonical_id"}),
            "entity_id",
            "left",
        )
        .select(
            "entity_id",
            F.coalesce("canonical_id", "entity_id").alias("canonical_id"),
        )
    )


def canonicalize_triples(triples: DataFrame, mapping: DataFrame) -> DataFrame:
    """Remap subj/obj to canonical ids and re-aggregate support.

    ``mapping`` is dimension-sized -> broadcast joins; the only shuffle
    is the final re-aggregation on the (rarely changed) canonical keys.
    """
    m_subj = mapping.withColumnsRenamed(
        {"entity_id": "subj", "canonical_id": "subj_canon"}
    )
    m_obj = mapping.withColumnsRenamed(
        {"entity_id": "obj", "canonical_id": "obj_canon"}
    )
    return (
        triples.join(F.broadcast(m_subj), "subj", "left")
        .join(F.broadcast(m_obj), "obj", "left")
        .select(
            F.coalesce("subj_canon", F.col("subj")).alias("subj"),
            "pred",
            F.coalesce("obj_canon", F.col("obj")).alias("obj"),
            "score",
            "articles",
            "n_docs",
        )
        .groupBy("subj", "pred", "obj")
        .agg(
            F.max("score").alias("score"),
            F.sort_array(F.array_distinct(F.flatten(F.collect_list("articles")))).alias(
                "articles"
            ),
            F.sum("n_docs").alias("_n_sum"),
        )
        # exact distinct support when article sets are present; on the
        # scale path (empty arrays) the summed count is an upper bound
        # (merged pairs may share docs) — documented approximation.
        .withColumn(
            "n_docs",
            F.when(F.size("articles") > 0, F.size("articles").cast("long")).otherwise(
                F.col("_n_sum").cast("long")
            ),
        )
        .drop("_n_sum")
    )
