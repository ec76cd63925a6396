"""Mention detection + dictionary entity linking (pipeline stage 2).

Reference semantics being reproduced (not code):

* PubTator annotation extraction — per-document annotation rows with
  char spans (``data/pubtator.py:33-40``, parse loop ``:96-118``),
  parallelized by batch over a process pool (``:357-382``). Here the
  corpus arrives *unannotated*, so a broadcast Aho-Corasick automaton
  finds dictionary surfaces; Spark partitions replace the pool batches
  and Arrow batches replace pickling (SURVEY.md section 2.10 P1).
* Span-validation predicate (``data/pubtator.py:74-84``): keep a
  mention iff ``content[begin:end].lower() == mention.lower()`` and the
  span is in bounds. For trie hits this holds by construction; it is
  asserted anyway for parity.
* 1->n linking (ambiguous surface -> several entity ids) mirrors the
  MeSH->DrugBank explode (``data/pubtator.py:183-187``).

Matching is case-insensitive (the reference's span check lowercases
both sides) and word-boundary-delimited over ``[A-Za-z0-9_]`` so that
``parse_frame`` does not fire inside ``parse_frame_ext``.

Scale notes: the automaton is built ONCE PER PYTHON WORKER from the
broadcast dictionary (lazy module-global memo keyed by broadcast id),
not per Arrow batch; the only data shuffled out of this stage is the
mention rows themselves. No per-row Python crosses the JVM boundary.
Each detector has one kernel per dictionary shape, picked from the
dictionary: ``detect_mentions`` is a ``mapInPandas`` stage (token probe
or trie); ``detect_entity_arrays`` is a ``mapInArrow`` batch kernel for
token-only dictionaries and a ``mapInPandas`` trie stage otherwise.
"""

from __future__ import annotations

from collections import deque
from collections.abc import Iterator, Sequence

import pandas as pd
from pyspark.sql import DataFrame

from .. import schemas

_WORD = set("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789_")


class AhoCorasick:
    """Minimal deterministic Aho-Corasick automaton.

    ``patterns`` maps a lowercase surface to the list of
    ``(entity_id, entity_type)`` it links to. ``find(text)`` yields
    ``(begin, end, surface)`` for every occurrence of every surface
    (including overlaps), case-insensitively.
    """

    def __init__(self, patterns: dict[str, list[tuple[str, str]]]):
        self.links = patterns
        self.goto: list[dict[str, int]] = [{}]
        self.out: list[list[str]] = [[]]
        self.fail: list[int] = [0]
        for surface in sorted(patterns):
            node = 0
            for ch in surface:
                nxt = self.goto[node].get(ch)
                if nxt is None:
                    self.goto.append({})
                    self.out.append([])
                    self.fail.append(0)
                    nxt = len(self.goto) - 1
                    self.goto[node][ch] = nxt
                node = nxt
            self.out[node].append(surface)
        queue = deque()
        for child in self.goto[0].values():
            queue.append(child)
        while queue:
            node = queue.popleft()
            for ch, child in self.goto[node].items():
                queue.append(child)
                f = self.fail[node]
                while f and ch not in self.goto[f]:
                    f = self.fail[f]
                self.fail[child] = self.goto[f].get(ch, 0)
                if self.fail[child] == child:
                    self.fail[child] = 0
                self.out[child] = self.out[child] + self.out[self.fail[child]]

    def find(
        self, text: str, lower: str | None = None
    ) -> Iterator[tuple[int, int, str]]:
        if lower is None:
            lower = text.lower()
        node = 0
        for i, ch in enumerate(lower):
            while node and ch not in self.goto[node]:
                node = self.fail[node]
            node = self.goto[node].get(ch, 0)
            for surface in self.out[node]:
                begin = i - len(surface) + 1
                if begin > 0 and lower[begin - 1] in _WORD:
                    continue
                if i + 1 < len(lower) and lower[i + 1] in _WORD:
                    continue
                yield begin, i + 1, surface


# Per-worker automaton memo: {id(broadcast-value): AhoCorasick}.
# The broadcast ships the (small) pattern dict once per executor; the
# automaton is rebuilt lazily once per Python worker process.
_AUTOMATON_CACHE: dict[int, AhoCorasick] = {}


def _automaton(pats: dict) -> AhoCorasick:
    """This worker's automaton over the surfaces of the broadcast
    ``pats``. The automaton keeps ``pats`` alive (``links``), so its
    ``id`` cannot be reused by another dict while it is cached."""
    key = id(pats)
    auto = _AUTOMATON_CACHE.get(key)
    if auto is None:
        auto = AhoCorasick(pats)
        _AUTOMATON_CACHE.clear()
        _AUTOMATON_CACHE[key] = auto
    return auto


def _all_token_surfaces(patterns: dict) -> bool:
    """True iff every surface is a single ``[A-Za-z0-9_]+`` token, so a
    whole-token dictionary probe finds exactly the boundary-checked
    Aho-Corasick hits."""
    return all(s and all(ch in _WORD for ch in s) for s in patterns)


def _patterns_from_entries(
    entries: Sequence[tuple[str, str, str]],
) -> dict[str, list[tuple[str, str]]]:
    patterns: dict[str, list[tuple[str, str]]] = {}
    for surface, entity_id, entity_type in entries:
        patterns.setdefault(surface.lower(), []).append((entity_id, entity_type))
    for v in patterns.values():
        v.sort()
    return patterns


def detect_mentions(docs: DataFrame, dict_entries: Sequence[tuple[str, str, str]]) -> DataFrame:
    """docs(doc_id, content, ...) -> mentions rows (schemas.MENTIONS).

    ``dict_entries``: (surface, entity_id, entity_type) tuples —
    dimension-sized, broadcast to executors.

    Two per-worker matchers with IDENTICAL semantics:

    * fast path (all surfaces are single ``[A-Za-z0-9_]+`` tokens,
      true for identifier dictionaries): C-speed ``re.finditer`` word
      tokenization + one dict probe per token. A boundary-checked
      Aho-Corasick match of a word-chars-only surface IS a whole-token
      match, so the two are equivalent — and the token path is ~10x
      faster and cache-light (no per-worker automaton graph thrashing
      shared L3 at high worker counts).
    * general path: the Aho-Corasick automaton (multi-token or
      punctuated surfaces).

    Equivalence is pinned by the golden fixtures (an independent
    str.find restatement, tests/test_golden_parity.py).
    """
    spark = docs.sparkSession
    patterns = _patterns_from_entries(dict_entries)
    bc = spark.sparkContext.broadcast(patterns)

    def run_tokens(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import re

        pats = bc.value
        # Tokenize the ONCE-lowered content; spans index the original.
        # str.lower() can change string length (e.g. 'İ' U+0130 lowers
        # to 'i' + combining dot), shifting every lowered-coordinate
        # span after such a char — exactly the case the reference span
        # predicate (data/pubtator.py:74-84) exists to drop. When the
        # lengths match (the overwhelmingly common case) spans are
        # valid by construction and the predicate is skipped.
        token_re = re.compile(r"[a-z0-9_]+")
        cols = ["doc_id", "entity_id", "entity_type", "mention", "begin", "end"]
        get = pats.get
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
                if not content:
                    continue
                low = content.lower()
                safe = len(low) == len(content)
                for m in token_re.finditer(low):
                    links = get(m.group())
                    if links is None:
                        continue
                    begin, end = m.start(), m.end()
                    mention = content[begin:end]
                    # span predicate (golden.py:74 parity): drop hits
                    # whose original-coordinate slice shifted.
                    if not safe and mention.lower() != m.group():
                        continue
                    for entity_id, entity_type in links:
                        out.append((doc_id, entity_id, entity_type, mention, begin, end))
            yield pd.DataFrame(out, columns=cols)

    def run_trie(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pats = bc.value
        auto = _automaton(pats)
        cols = ["doc_id", "entity_id", "entity_type", "mention", "begin", "end"]
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
                if not content:
                    continue
                low = content.lower()
                safe = len(low) == len(content)
                for begin, end, surface in auto.find(content, low):
                    mention = content[begin:end]
                    # Span predicate parity (data/pubtator.py:74-84):
                    # holds by construction when lower() is
                    # length-preserving; otherwise drops shifted spans.
                    if not safe and mention.lower() != surface:
                        continue
                    for entity_id, entity_type in pats[surface]:
                        out.append((doc_id, entity_id, entity_type, mention, begin, end))
            yield pd.DataFrame(out, columns=cols)

    runner = run_tokens if _all_token_surfaces(patterns) else run_trie
    return docs.select("doc_id", "content").mapInPandas(runner, schemas.MENTIONS)


def detect_entity_arrays(
    docs: DataFrame,
    dict_entries: Sequence[tuple[str, str, str]],
    entity_idx: dict[str, int],
    type_codes: dict[str, int] | None = None,
    max_entities_per_doc: int = 0,
) -> DataFrame:
    """Scale-path detector emitting ONE ROW PER DOC:
    (doc_id, ets array<int>) with each element ``entity_idx*256 +
    type_code``, sorted. Feeding pair generation from these arrays
    (double explode) removes the doc-keyed self-join entirely — the
    k^2 pair expansion happens map-side in the same stage that scans
    the cached arrays, so no shuffle precedes the support partials and
    doc-key hash collisions are structurally impossible (pairs never
    leave their doc row).

    ``max_entities_per_doc`` > 0 truncates each doc's (sorted) set —
    the hub-doc bound: one row explodes to at most cap^2 pairs.

    Kernel choice follows the dictionary, as in ``detect_mentions``: a
    ``mapInArrow`` batch token probe when every surface is a single
    word token, else a ``mapInPandas`` Aho-Corasick stage (the only
    kernel that matches multi-token or punctuated surfaces)."""
    spark = docs.sparkSession
    patterns = _patterns_from_entries(dict_entries)
    if type_codes is None:
        type_codes = {
            t: i for i, t in enumerate(sorted({e[2] for e in dict_entries}))
        }
    compact = {
        s: [entity_idx[eid] * 256 + type_codes[et] for eid, et in links]
        for s, links in patterns.items()
    }
    bc = spark.sparkContext.broadcast(compact)
    cap = max_entities_per_doc

    def emit(doc_id, seen: set) -> tuple:
        ets = sorted(seen)
        if cap > 0:
            ets = ets[:cap]
        return (doc_id, ets)

    def run_tokens_arrow(batches):
        import re

        import numpy as np
        import pyarrow as pa
        import pyarrow.compute as pc

        pats = bc.value
        # Round 6 (guide §4.2 — batch-level native kernels, zero
        # per-token AND zero per-doc Python on the hot path): the
        # previous per-doc findall + set.intersection MATERIALIZED
        # every token (and every content string, via the pandas
        # conversion) as a Python object — ~600M token strings at the
        # 500k-file bench.  This is now a ``mapInArrow`` stage: content
        # stays an Arrow buffer end to end; tokenization is a C-level
        # split; the dictionary probe is one ``index_in`` hash lookup
        # per token; link expansion + per-doc sorted distinct sets are
        # NumPy CSR ops + one np.unique.
        #
        # Tokenizer tiering (bit-identical to ``[a-z0-9_]+`` runs):
        #   * CLEAN docs — lowered bytes all in [a-z0-9_ ] (checked by
        #     one 256-entry byte LUT over the data buffer): literal
        #     single-space split == the regex runs (measured ~3x faster
        #     than RE2 split; the entire bench corpus is clean).
        #   * other ASCII docs: RE2 complement split ([^a-z0-9_]+).
        #   * non-ASCII docs (where ascii_lower / str.lower could
        #     diverge, e.g. length-changing lowercasing): the exact
        #     per-doc Python path. Parity pinned by
        #     test_mentions_vectorized_parity.
        token_list = sorted(pats)
        token_arr = pa.array(token_list, type=pa.string())
        link_counts = np.array(
            [len(pats[t]) for t in token_list], dtype=np.int64
        )
        link_starts = np.concatenate(([0], np.cumsum(link_counts)))[:-1]
        link_values = np.fromiter(
            (v for t in token_list for v in pats[t]),
            dtype=np.int64,
            count=int(link_counts.sum()),
        )
        token_re = re.compile(r"[a-z0-9_]+")
        get = pats.get
        intersect = frozenset(pats).intersection
        clean_lut = np.zeros(256, dtype=bool)
        for ch in "abcdefghijklmnopqrstuvwxyz0123456789_ ":
            clean_lut[ord(ch)] = True

        def fallback(doc_id, content, out):
            # exact pre-vectorization per-doc logic (non-ASCII docs)
            low = content.lower()
            if len(low) == len(content):
                seen: set = set()
                for tok in intersect(token_re.findall(low)):
                    seen.update(get(tok))
                if seen:
                    out.append(emit(doc_id, seen))
            else:
                seen = set()
                for m in token_re.finditer(low):
                    links = get(m.group())
                    if links and content[m.start():m.end()].lower() == m.group():
                        seen.update(links)
                if seen:
                    out.append(emit(doc_id, seen))

        def probe(strings, orig_idx):
            """index_in over the tokens of ``strings``; returns
            (orig doc index, dict token index) numpy arrays."""
            if len(strings) == 0:
                return None, None
            toks = (
                pc.split_pattern(strings, " ")
                if orig_idx[2]
                else pc.split_pattern_regex(strings, "[^a-z0-9_]+")
            )
            hit = pc.index_in(pc.list_flatten(toks), token_arr)
            mask = pc.is_valid(hit)
            par = (
                pc.filter(pc.list_parent_indices(toks), mask)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            ci = (
                pc.filter(hit, mask)
                .to_numpy(zero_copy_only=False)
                .astype(np.int64)
            )
            return orig_idx[0][par], ci

        out_schema = pa.schema(
            [("doc_id", pa.string()), ("ets", pa.list_(pa.int32()))]
        )

        # Drain the ENTIRE input stream before computing (round 6):
        # Spark's merged reader/writer feeds input over a non-blocking
        # channel with a busy write loop, so while this worker holds
        # the GIL computing a batch, the JVM task thread SPINS on the
        # full socket buffer — measured ~100-250 CPU-seconds of
        # executor spin per 500k-file pipeline rep (stage cpuT 18 s on
        # reps where workers kept up vs 112-145 s where they didn't).
        # Buffering first (~25 MB/task at bench scale — input is
        # (doc_id, content) only) keeps the reads back-to-back, so the
        # writer always completes and parks in its selector instead.
        batches = list(batches)
        for batch in batches:
            docid_arr = batch.column(0)
            content = batch.column(1)
            if isinstance(content, pa.ChunkedArray):  # defensive
                content = content.combine_chunks()
            ascii_ok = pc.fill_null(
                pc.string_is_ascii(content), False
            ).to_numpy(zero_copy_only=False)
            low = pc.ascii_lower(pc.fill_null(content, ""))
            if pa.types.is_large_string(low.type):
                low = low.cast(pa.string())
            # byte-LUT clean test over the whole lowered buffer; the
            # (rare) unclean chars are mapped back to their doc via one
            # searchsorted against the offsets array.
            off = np.frombuffer(low.buffers()[1], dtype=np.int32)[
                low.offset : low.offset + len(low) + 1
            ]
            data = np.frombuffer(low.buffers()[2], dtype=np.uint8)
            bad = np.flatnonzero(~clean_lut[data[off[0] : off[-1]]])
            clean = np.ones(len(low), dtype=bool)
            if bad.size:
                clean[
                    np.unique(
                        np.searchsorted(off, bad + off[0], side="right") - 1
                    )
                ] = False
            idx_clean = np.flatnonzero(ascii_ok & clean)
            idx_rx = np.flatnonzero(ascii_ok & ~clean)
            pars, cis = [], []
            for idx, literal in ((idx_clean, True), (idx_rx, False)):
                p, c = probe(
                    low.take(pa.array(idx, type=pa.int64()))
                    if idx.size < len(low)
                    else low,
                    (idx, None, literal),
                )
                if p is not None and p.size:
                    pars.append(p)
                    cis.append(c)
            if pars:
                par = np.concatenate(pars)
                ci = np.concatenate(cis)
            else:
                par = np.empty(0, dtype=np.int64)
                ci = par
            if par.size:
                # distinct (doc, token), then CSR-expand links, then
                # distinct (doc, et) — np.unique returns keys sorted,
                # i.e. doc-major with ets ascending per doc: exactly
                # sorted(seen).
                key = np.unique((par << 32) | ci)
                par, ci = key >> 32, key & 0xFFFFFFFF
                c = link_counts[ci]
                total = int(c.sum())
            else:
                total = 0
            if total:
                rep_par = np.repeat(par, c)
                csum = np.cumsum(c)
                pos = np.arange(total, dtype=np.int64) - np.repeat(
                    csum - c, c
                )
                ets = link_values[np.repeat(link_starts[ci], c) + pos]
                key2 = np.unique((rep_par << 32) | ets)
                dpar = (key2 >> 32).astype(np.int64)
                det = (key2 & 0xFFFFFFFF).astype(np.int32)
                docs_u, counts_d = np.unique(dpar, return_counts=True)
                if cap > 0:
                    starts_d = np.cumsum(counts_d) - counts_d
                    rank = np.arange(det.size, dtype=np.int64) - np.repeat(
                        starts_d, counts_d
                    )
                    m2 = rank < cap
                    det = det[m2]
                    counts_d = np.minimum(counts_d, cap)
                offsets = np.concatenate(
                    ([0], np.cumsum(counts_d))
                ).astype(np.int32)
                yield pa.RecordBatch.from_arrays(
                    [
                        docid_arr.take(pa.array(docs_u, type=pa.int64())),
                        pa.ListArray.from_arrays(
                            pa.array(offsets), pa.array(det, type=pa.int32())
                        ),
                    ],
                    schema=out_schema,
                )
            out: list[tuple] = []
            for i in np.flatnonzero(~ascii_ok):
                c_i = content[i].as_py()
                if c_i:
                    fallback(docid_arr[i].as_py(), c_i, out)
            if out:
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array([r[0] for r in out], type=pa.string()),
                        pa.array(
                            [r[1] for r in out], type=pa.list_(pa.int32())
                        ),
                    ],
                    schema=out_schema,
                )

    def run_trie(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        pats = bc.value
        auto = _automaton(pats)
        for pdf in batches:
            out: list[tuple] = []
            for doc_id, content in zip(pdf["doc_id"].values, pdf["content"].values):
                if not content:
                    continue
                seen: set = set()
                low = content.lower()
                safe = len(low) == len(content)
                for b, e, surface in auto.find(content, low):
                    if not safe and content[b:e].lower() != surface:
                        continue
                    seen.update(pats[surface])
                if seen:
                    out.append(emit(doc_id, seen))
            yield pd.DataFrame(out, columns=["doc_id", "ets"])

    src = docs.select("doc_id", "content")
    if _all_token_surfaces(patterns):
        return src.mapInArrow(run_tokens_arrow, "doc_id string, ets array<int>")
    return src.mapInPandas(run_trie, "doc_id string, ets array<int>")
