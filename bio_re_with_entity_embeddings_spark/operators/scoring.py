"""Embedding-based pair scoring kernel (pipeline stage 5).

Reference semantics: each entity (and pair) has a dense doctag vector
(``extract_document_vectors.py:22-37``); relation extraction scores a
candidate (subj, obj) via those embeddings (``README.md:6-11``; cosine
nearest-neighbor form in ``examples/load_entity_embeddings.py:30-34``).
Training (gensim Doc2Vec, ``learn_embeddings.py:36-58``) is off the hot
path by design — the kernel consumes a *pretrained* embedding table.

Spark shape: the embedding table is dimension-sized (vocab of entities,
not corpus-sized), so it is collected once into a float32 NumPy matrix
and broadcast; scoring is an Arrow-batched pandas UDF doing one fancy-
indexed ``einsum`` per batch — no per-row Python, no shuffle (the UDF
is a projection). Entity->row mapping arrives as a broadcast-joined
``(entity_id, vec_id)`` dimension, so the kernel itself never sees
strings.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


def embedding_matrix(embeddings: DataFrame) -> np.ndarray:
    """Collect the (dimension-sized) embedding table into a float32
    matrix with row index == vec_id. Rows absent from the table are
    zero (score 0 -> below any positive threshold).

    Requires a DENSE vec_id space (fixtures, gensim-export row ids):
    allocation is ``max(vec_id)+1`` rows. For sparse/64-bit id spaces
    use ``embedding_index`` (dense remap) — asserted here so a sparse
    table fails loudly instead of OOMing the driver."""
    rows = embeddings.select("vec_id", "embedding").collect()
    n = max(r["vec_id"] for r in rows) + 1
    if n > 4 * len(rows) + 1024:
        raise ValueError(
            f"sparse vec_id space (max id {n - 1} for {len(rows)} rows); "
            "use embedding_index() instead of embedding_matrix()"
        )
    dim = len(rows[0]["embedding"])
    mat = np.zeros((n, dim), dtype=np.float32)
    for r in rows:
        mat[r["vec_id"]] = np.asarray(r["embedding"], dtype=np.float32)
    return mat


def embedding_index(embeddings: DataFrame) -> tuple[np.ndarray, "pd.Series"]:
    """(matrix, vec_id -> row lookup) with a dense row space regardless
    of how sparse the vec_id domain is (a 64-bit id space must not
    allocate max(id)+1 rows on the driver). Row 0 is an all-zero
    sentinel: ids absent from the table (or null) score 0."""
    rows = embeddings.select("vec_id", "embedding").collect()
    dim = len(rows[0]["embedding"]) if rows else 1
    mat = np.zeros((len(rows) + 1, dim), dtype=np.float32)
    ids = np.empty(len(rows), dtype=np.int64)
    for i, r in enumerate(sorted(rows, key=lambda r: r["vec_id"])):
        mat[i + 1] = np.asarray(r["embedding"], dtype=np.float32)
        ids[i] = r["vec_id"]
    lut = pd.Series(np.arange(1, len(rows) + 1, dtype=np.int64), index=ids)
    return mat, lut


def score_vectors(mat: np.ndarray, a_idx: np.ndarray, b_idx: np.ndarray) -> np.ndarray:
    """Cosine similarity between embedding rows a_idx and b_idx.

    Shared by the Spark kernel and the golden-fixture generator so the
    two sides are bit-identical (float32 accumulate, float64 result).
    """
    a = mat[a_idx]
    b = mat[b_idx]
    dots = np.einsum("ij,ij->i", a, b)
    norms = np.linalg.norm(a, axis=1) * np.linalg.norm(b, axis=1)
    out = np.where(norms > 0, dots / np.where(norms == 0, 1, norms), 0.0)
    return out.astype(np.float64)


def score_pairs(
    pairs: DataFrame, entities: DataFrame, embeddings: DataFrame
) -> DataFrame:
    """(subj, obj) -> + score column.

    ``pairs`` must have distinct (subj, obj); ``entities`` is the
    broadcast-sized (entity_id, vec_id) dimension.
    """
    spark = pairs.sparkSession
    mat, lut = embedding_index(embeddings)
    bc = spark.sparkContext.broadcast((mat, lut))

    @F.pandas_udf(T.DoubleType())
    def cosine(a: pd.Series, b: pd.Series) -> pd.Series:
        m, idx = bc.value
        # vec ids arrive coalesced to -1 for entities absent from the
        # dimension; -1 (and any id not in the table) maps to sentinel
        # row 0 (zero vector -> score 0). Spark does not short-circuit
        # UDF args under when(), so the kernel must be total.
        ai = idx.reindex(a.to_numpy(dtype=np.int64)).fillna(0).to_numpy(dtype=np.int64)
        bi = idx.reindex(b.to_numpy(dtype=np.int64)).fillna(0).to_numpy(dtype=np.int64)
        return pd.Series(score_vectors(m, ai, bi))

    # The kernel is pure; nondeterministic only tells the optimizer not
    # to push the threshold filter below this projection, which inlines
    # the UDF into the filter and scores every pair twice.
    cosine = cosine.asNondeterministic()

    vecs = entities.select("entity_id", "vec_id")
    subj_vec = vecs.withColumnsRenamed({"entity_id": "subj", "vec_id": "subj_vec"})
    obj_vec = vecs.withColumnsRenamed({"entity_id": "obj", "vec_id": "obj_vec"})
    return (
        pairs.join(F.broadcast(subj_vec), "subj", "left")
        .join(F.broadcast(obj_vec), "obj", "left")
        .withColumn(
            "score",
            cosine(
                F.coalesce(F.col("subj_vec"), F.lit(-1)),
                F.coalesce(F.col("obj_vec"), F.lit(-1)),
            ),
        )
        .drop("subj_vec", "obj_vec")
    )
