"""Seeded input generator and output oracle for the kgbench workloads.

Inputs are made with NumPy from one integer seed and written to parquet
once per (workload, seed); the Spark program only ever sees the files.
The generator does not reuse ``fixtures.distributed_corpus_df``: its token
stream picks token k of file i from ``xxhash64(i*131 + k)``, so
neighbouring files share all but a few hundred tokens and every file
near-duplicates its neighbours, which floods the curation layers with
unplanted duplicates. Here every token is an independent draw, and the
duplicates the curation layers must find are planted at known counts.

The oracle computes the expected triple table straight from the planted
entity sets (no Spark): a doc mentions exactly the entities whose
surfaces were drawn into it, because filler tokens never equal a surface
and tokens are separated by single spaces. Scores repeat the cosine the
scoring kernel documents (float32 rows, float32 dot and norms, float64
result), so ``floor(score * 1e6 + 0.5)`` matches bit for bit.
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import shutil
from dataclasses import asdict, dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

PKG, FN = "pkg", "fn"
PREDICATES = {(FN, PKG): "uses", (PKG, FN): "provides", (FN, FN): "calls"}
LANGS = ("python", "java", "go")
N_FILLERS = 6000


@dataclass(frozen=True)
class Spec:
    """Shape of one workload's inputs."""

    n_files: int
    tokens: int
    n_pkg: int
    n_fn: int
    surface_every: float  # one surface per this many tokens, on average
    n_vecs: int
    dim: int
    zipf: float = 0.8  # surface popularity exponent (hub entities)
    # curation plants, as counts (0 for the KG workloads)
    exact_clones: int = 0
    near_clones: int = 0
    contaminated: int = 0
    low_quality: int = 0
    holdout_every: int = 0  # 1 base file in N is held out as the benchmark


def _fillers() -> np.ndarray:
    # code-ish identifiers that can never equal a dictionary surface
    # (surfaces start with "lib" or contain "_")
    return np.array([f"v{i:04d}x" for i in range(N_FILLERS)], dtype=object)


def _dictionary(spec: Spec):
    """(surfaces, surface -> entity index, entity ids, entity types).
    Every 10th entity gets a second (synonym) surface."""
    ids, types, surfaces, owner = [], [], [], []
    for i in range(spec.n_pkg):
        ids.append(f"PKG:{i:05d}")
        types.append(PKG)
    for i in range(spec.n_fn):
        ids.append(f"FN:{i:05d}")
        types.append(FN)
    for e, (eid, et) in enumerate(zip(ids, types)):
        n = int(eid.split(":")[1])
        if et == PKG:
            forms = [f"lib{n}pkg"] + ([f"{n}kit_pkg"] if n % 10 == 0 else [])
        else:
            forms = [f"call_{n}fn"] + ([f"do{n}_fn"] if n % 10 == 0 else [])
        for s in forms:
            surfaces.append(s)
            owner.append(e)
    return (
        np.array(surfaces, dtype=object),
        np.array(owner, dtype=np.int64),
        ids,
        np.array([t == PKG for t in types]),
    )


def _draw_tokens(rng, spec: Spec, n_docs: int, n_tok: int, n_surf: int) -> np.ndarray:
    """Token id matrix: [0, N_FILLERS) fillers, N_FILLERS + s surfaces."""
    tok = rng.integers(0, N_FILLERS, size=(n_docs, n_tok), dtype=np.int64)
    is_s = rng.random((n_docs, n_tok)) < 1.0 / spec.surface_every
    w = 1.0 / np.arange(1, n_surf + 1) ** spec.zipf
    # popularity rank -> surface: shuffled, but the same for every seed,
    # so the hub entities (and the triple count) do not vary by seed
    perm = np.random.default_rng(n_surf).permutation(n_surf)
    picks = perm[rng.choice(n_surf, size=int(is_s.sum()), p=w / w.sum())]
    tok[is_s] = N_FILLERS + picks
    return tok


def _texts(tok: np.ndarray, vocab: np.ndarray) -> list[str]:
    return [" ".join(row) for row in vocab[tok]]


def _entity_sets(tok: np.ndarray, owner: np.ndarray, n_ent: int) -> list[np.ndarray]:
    """Sorted distinct entity indices per doc."""
    d, k = np.nonzero(tok >= N_FILLERS)
    ent = owner[tok[d, k] - N_FILLERS]
    keys = np.unique(d * n_ent + ent)
    docs = keys // n_ent
    bounds = np.searchsorted(docs, np.arange(tok.shape[0] + 1))
    ents = keys % n_ent
    return [ents[bounds[i]:bounds[i + 1]] for i in range(tok.shape[0])]


def cosine(mat: np.ndarray, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    """Cosine of float32 embedding rows a and b, as the scoring kernel
    documents it: float32 dot and norms, float64 result."""
    x, y = mat[a], mat[b]
    dots = np.einsum("ij,ij->i", x, y)
    norms = np.linalg.norm(x, axis=1) * np.linalg.norm(y, axis=1)
    out = np.where(norms > 0, dots / np.where(norms == 0, 1, norms), 0.0)
    return out.astype(np.float64)


def row_hash(subj: str, pred: str, obj: str, n_docs: int, score_q: int) -> int:
    """Per-triple hash term; the Spark side computes the same string."""
    h = hashlib.sha256(f"{subj}|{pred}|{obj}|{n_docs}|{score_q}".encode()).hexdigest()
    return int(h[:15], 16)


def expected_triples(sets, ids, is_pkg, vec_of, mat) -> dict:
    """Triple count and order-insensitive hash over (subj, pred, obj,
    n_docs, floor(score * 1e6 + 0.5)) for threshold 0.0 and the three
    default relations (fn->pkg uses, pkg->fn provides, fn->fn calls)."""
    n_ent = len(ids)
    parts = []
    for e in sets:
        if len(e) < 2:
            continue
        a, b = np.meshgrid(e, e, indexing="ij")
        a, b = a.ravel(), b.ravel()
        keep = (a != b) & ~(is_pkg[a] & is_pkg[b])
        parts.append(a[keep] * n_ent + b[keep])
    if not parts:
        return {"triples": 0, "hash": "0", "pairs": 0}
    keys, n_docs = np.unique(np.concatenate(parts), return_counts=True)
    subj, obj = keys // n_ent, keys % n_ent
    score = cosine(mat, vec_of[subj], vec_of[obj])
    keep = score >= 0.0
    total = 0
    for s, o, n, sc in zip(subj[keep], obj[keep], n_docs[keep], score[keep]):
        pred = PREDICATES[(PKG if is_pkg[s] else FN, PKG if is_pkg[o] else FN)]
        total += row_hash(ids[s], pred, ids[o], int(n), math.floor(sc * 1e6 + 0.5))
    return {"triples": int(keep.sum()), "hash": str(total), "pairs": int(len(keys))}


def _corpus_table(texts: list[str], tag: str, seed: int) -> pa.Table:
    n = len(texts)
    return pa.table(
        {
            "repo": [f"org{i % 23:02d}/{tag}-{i // 8:05d}" for i in range(n)],
            "path": [f"src/{tag}/mod_{i:06d}.py" for i in range(n)],
            "commit": [hashlib.sha1(f"{tag}-{seed}-{i}".encode()).hexdigest() for i in range(n)],
            "lang": [LANGS[i % 3] for i in range(n)],
            "content": texts,
        }
    )


def _kg_inputs(rng, spec: Spec, n_docs: int, dict_arrays, vocab, mat, vec_of, seed, tag):
    surfaces, owner, ids, is_pkg = dict_arrays
    tok = _draw_tokens(rng, spec, n_docs, spec.tokens, len(surfaces))
    exp = expected_triples(_entity_sets(tok, owner, len(ids)), ids, is_pkg, vec_of, mat)
    return _corpus_table(_texts(tok, vocab), tag, seed), exp


def _curation_inputs(rng, spec: Spec, n_docs: int, dict_arrays, vocab, mat, vec_of, seed, tag):
    """Base files (1 in ``holdout_every`` held out as the benchmark) plus
    planted exact clones, near clones (one appended filler token),
    contaminated files (a 20-token window of a benchmark file) and
    low-quality files (5 tokens). Survivors of curation are exactly the
    non-held-out base files, up to which copy of a clone pair is kept,
    and clone copies carry the same entity set as their source."""
    surfaces, owner, ids, is_pkg = dict_arrays
    scale = n_docs / spec.n_files
    n_exact = max(1, round(spec.exact_clones * scale))
    n_near = max(1, round(spec.near_clones * scale))
    n_con = max(1, round(spec.contaminated * scale))
    n_low = max(1, round(spec.low_quality * scale))
    tok = _draw_tokens(rng, spec, n_docs, spec.tokens, len(surfaces))
    held = np.arange(n_docs) % spec.holdout_every == spec.holdout_every - 1
    base = np.flatnonzero(~held)
    bench_rows = np.flatnonzero(held)
    texts = _texts(tok, vocab)
    src = rng.choice(base, size=n_exact + n_near, replace=False)
    corpus = [texts[i] for i in base]
    corpus += [texts[i] for i in src[:n_exact]]
    extra = vocab[rng.integers(0, N_FILLERS, size=n_near)]
    corpus += [texts[i] + " " + x for i, x in zip(src[n_exact:], extra)]
    con_tok = _draw_tokens(rng, spec, n_con, spec.tokens, len(surfaces))
    for j in range(n_con):
        b = tok[bench_rows[j % len(bench_rows)]]
        at = int(rng.integers(0, spec.tokens - 20))
        con_tok[j, at:at + 20] = b[at:at + 20]
    corpus += _texts(con_tok, vocab)
    corpus += _texts(_draw_tokens(rng, spec, n_low, 5, len(surfaces)), vocab)
    order = rng.permutation(len(corpus))
    table = _corpus_table([corpus[i] for i in order], tag, seed)
    bench = _corpus_table([texts[i] for i in bench_rows], tag + "-bench", seed)
    sets = _entity_sets(tok[base], owner, len(ids))
    exp = expected_triples(sets, ids, is_pkg, vec_of, mat)
    exp.update(
        planted_exact=n_exact, planted_near=n_near, planted_contaminated=n_con,
        planted_low_quality=n_low, held_out=int(held.sum()), survivors=int(len(base)),
    )
    return table, bench, exp


def generate(spec: Spec, seed: int, out_dir: str, curation: bool) -> dict:
    """Write corpus, warm-up slice, embeddings and entities parquet under
    ``out_dir`` and return the expected outputs (also written as
    ``expected.json``). Idempotent per (spec, seed, generator source): a
    complete directory is reused."""
    marker = os.path.join(out_dir, "expected.json")
    with open(__file__, "rb") as fh:
        version = hashlib.sha256(fh.read()).hexdigest()[:16]
    if os.path.exists(marker):
        with open(marker) as fh:
            exp = json.load(fh)
        if (exp.get("spec"), exp.get("seed"), exp.get("generator")) == (asdict(spec), seed, version):
            return exp
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    rng = np.random.default_rng([seed, spec.n_files, spec.tokens, spec.n_fn])
    dict_arrays = _dictionary(spec)
    surfaces, owner, ids, is_pkg = dict_arrays
    vocab = np.concatenate([_fillers(), surfaces])
    mat = rng.standard_normal((spec.n_vecs, spec.dim)).astype(np.float32)
    vec_of = rng.choice(spec.n_vecs, size=len(ids), replace=len(ids) > spec.n_vecs)

    make = _curation_inputs if curation else _kg_inputs
    exp: dict = {"spec": asdict(spec), "seed": seed, "generator": version}
    for name, n in (("corpus", spec.n_files), ("warmup", max(50, spec.n_files // 10))):
        made = make(rng, spec, n, dict_arrays, vocab, mat, vec_of, seed, name)
        pq.write_table(made[0], os.path.join(out_dir, f"{name}.parquet"))
        if curation:
            pq.write_table(made[1], os.path.join(out_dir, f"{name}_benchmark.parquet"))
        exp[name] = made[-1]

    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(spec.n_vecs), pa.int64()),
                "embedding": pa.array(list(mat), pa.list_(pa.float32())),
                "label": pa.array(np.zeros(spec.n_vecs, dtype=np.int32)),
            }
        ),
        os.path.join(out_dir, "embeddings.parquet"),
    )
    pq.write_table(
        pa.table(
            {
                "entity_id": ids,
                "entity_type": [PKG if p else FN for p in is_pkg],
                "vec_id": pa.array(vec_of, pa.int64()),
            }
        ),
        os.path.join(out_dir, "entities.parquet"),
    )
    exp["dictionary"] = [
        [str(s), ids[o], PKG if is_pkg[o] else FN] for s, o in zip(surfaces, owner)
    ]
    tmp = marker + ".tmp"
    with open(tmp, "w") as fh:
        json.dump(exp, fh)
    os.replace(tmp, marker)
    return exp
