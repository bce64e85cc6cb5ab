"""Seeded input tables for the benchmark workloads.

Inputs are written with pyarrow, never Spark, so input generation costs
no Spark job and stays out of every timed pass and out of set-up. The
same seed gives byte-identical files; a different seed gives different
token content and text.

Doc lengths are drawn by stratified sampling inside fixed length
classes, with each class total fixed, and dealt over the crc32
quarter-shards of the doc ids, so each shard gets about the same class
mix. Total tokens are then the same at every seed (to rounding), so
run-to-run spread in the timings does not come from input size, and the
quarter shard used for weak scaling holds about a quarter of the work.
"""
from __future__ import annotations

import os
import zlib
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# F1 regime-switching Poisson emissions (apollon_spark.datagen).
REGIME_LAMBDAS = np.array([20.0, 40.0, 80.0, 120.0])
SHARDS = 4


@dataclass(frozen=True)
class DocMix:
    """Doc counts per length class (lo, hi), dealt over the shards."""
    n_short: int
    n_medium: int = 0
    n_whale: int = 0
    short: tuple[int, int] = (2_000, 8_192)
    medium: tuple[int, int] = (8_192, 65_536)
    whale: tuple[int, int] = (262_144, 280_000)


def shard_of(doc_id: str) -> int:
    return zlib.crc32(doc_id.encode("utf-8")) % SHARDS


def _stratified(rng: np.random.Generator, n: int, lo: int, hi: int):
    """One draw from each of ``n`` equal bands of [lo, hi), shifted so
    the draws sum to the class midpoint times ``n`` at every seed."""
    vals = lo + (hi - lo) * (np.arange(n) + rng.random(n)) / max(n, 1)
    vals += (lo + hi) / 2 - vals.mean() if n else 0
    return rng.permutation(np.round(vals).astype(np.int64))


def _regime_tokens(rng: np.random.Generator, n_tok: int,
                   stay: float = 0.995) -> np.ndarray:
    n_states = len(REGIME_LAMBDAS)
    runs = rng.geometric(1.0 - stay, size=n_tok // 50 + 8)
    states = np.empty(len(runs), dtype=np.int64)
    states[0] = rng.integers(n_states)
    steps = rng.integers(1, n_states, size=len(runs))
    for i in range(1, len(runs)):
        states[i] = (states[i - 1] + steps[i]) % n_states
    lam = np.repeat(REGIME_LAMBDAS[states], runs)
    while len(lam) < n_tok:     # geometric runs came up short: extend
        lam = np.concatenate([lam, lam])
    return rng.poisson(lam[:n_tok]).astype(np.int32)


def _ids_by_shard(prefix: str, per_shard: int) -> list[list[str]]:
    """Doc ids ``<prefix>NNNNNNNN`` grouped by crc32 shard, the first
    ``per_shard`` of each shard in id order (seed-independent)."""
    out: list[list[str]] = [[] for _ in range(SHARDS)]
    i = 0
    while min(len(s) for s in out) < per_shard:
        doc_id = f"{prefix}{i:08d}"
        s = out[shard_of(doc_id)]
        if len(s) < per_shard:
            s.append(doc_id)
        i += 1
    return out


def doc_lengths(seed: int, mix: DocMix, prefix: str = "doc"
                ) -> list[tuple[str, int]]:
    """(doc_id, n_tok) rows. Each class is stratified, then dealt in
    sorted order, snaking back and forth over the shards, so shards get
    one draw from each band of the class in turn."""
    rng = np.random.default_rng([seed, 1])
    dealt: list[list[int]] = [[] for _ in range(SHARDS)]
    for n, (lo, hi) in ((mix.n_short, mix.short),
                        (mix.n_medium, mix.medium),
                        (mix.n_whale, mix.whale)):
        vals = np.sort(_stratified(rng, n, lo, hi))
        for i, v in enumerate(vals.tolist()):
            band, k = divmod(i, SHARDS)
            dealt[k if band % 2 == 0 else SHARDS - 1 - k].append(v)
    ids = _ids_by_shard(prefix, max(len(d) for d in dealt))
    rows = []
    for shard_ids, lens in zip(ids, dealt):
        rows.extend(zip(shard_ids, rng.permutation(lens).tolist()))
    return sorted(rows)


def docs_table(seed: int, mix: DocMix, prefix: str = "doc") -> pa.Table:
    """Canonical docs shape (doc_id, tokens, n_tok, source)."""
    ids, toks, ntok, srcs = [], [], [], []
    for doc_id, n in doc_lengths(seed, mix, prefix):
        rng = np.random.default_rng([seed, zlib.crc32(doc_id.encode())])
        ids.append(doc_id)
        toks.append(_regime_tokens(rng, n))
        ntok.append(n)
        srcs.append(f"src{int(doc_id[len(prefix):]) % 8}")
    offsets = np.concatenate([[0], np.cumsum(ntok)]).astype(np.int32)
    return pa.table({
        "doc_id": pa.array(ids, pa.string()),
        "tokens": pa.ListArray.from_arrays(
            pa.array(offsets), pa.array(np.concatenate(toks))),
        "n_tok": pa.array(ntok, pa.int32()),
        "source": pa.array(srcs, pa.string()),
    })


def annotations_table(seed: int, docs: pa.Table, every: int = 2_048
                      ) -> pa.Table:
    """Sparse per-doc label stream (doc_id, position, label): about one
    annotation per ``every`` tokens, the first never at position 0, so
    the frames before it must stay unlabelled after the as-of join."""
    ids, pos, lab = [], [], []
    for doc_id, n in zip(docs["doc_id"].to_pylist(),
                         docs["n_tok"].to_pylist()):
        rng = np.random.default_rng([seed, 2, zlib.crc32(doc_id.encode())])
        k = max(n // every, 1)
        p = np.sort(rng.choice(np.arange(1, n), size=k, replace=False))
        ids.extend([doc_id] * k)
        pos.extend(p.tolist())
        lab.extend(rng.integers(0, 16, size=k).tolist())
    return pa.table({"doc_id": pa.array(ids, pa.string()),
                     "position": pa.array(pos, pa.int32()),
                     "label": pa.array(lab, pa.int32())})


# --- documents table for the curation recipe -------------------------
#
# Set from the test corpus's documents.parquet at scale factor 0.1
# (5,000 docs, 270,704 words), measured once; see README.md:
# - words per doc run 10-100, evenly spread (deciles 10, 19, 28, 37,
#   45, 54, 63, 72, 80, 90, 100);
# - 30 words, each 3.26-3.39% of all words, two of them English
#   stopwords ("the", "a");
# - 250 docs (5%) end in the extra word "dup";
# - no symbols ('#', '...'), one space between words.

REAL_WORDS = (10, 101)      # [lo, hi) words per doc
REAL_VOCAB = np.array(
    "spark window merge table column vector stream value data small "
    "join filter big group hash customer sort order slow line part "
    "fast row the agg key query a scan batch".split())
DUP_MARK = "dup"
DUP_MARK_EVERY = 20         # one doc in 20 ends in DUP_MARK


def documents_table(seed: int, n_base: int, n_sources: int = 3,
                    exact_share: float = 0.1, near_share: float = 0.1
                    ) -> pa.Table:
    """Raw ``documents`` table (doc_id bigint, text, source).

    ``n_base`` seeded texts with the measured shape of the test corpus
    (above) over ``n_sources`` sources, then exact copies of
    ``exact_share`` of them and near-duplicate copies (1 word in 32
    replaced) of another ``near_share``, all under fresh ids. Whether a
    doc passes the quality filter follows from the measured shape alone
    (short docs and docs missing a stopword fail). Which lengths get a
    mark or a copy is fixed, so the word total is the same at every
    seed; content and doc ids change with it.
    """
    rng = np.random.default_rng([seed, 3])
    lens = np.sort(_stratified(rng, n_base, *REAL_WORDS))
    texts, srcs = [], []
    for i in range(n_base):
        words = rng.choice(REAL_VOCAB, size=int(lens[i])).tolist()
        if i % DUP_MARK_EVERY == DUP_MARK_EVERY - 1:
            words[-1] = DUP_MARK
        texts.append(" ".join(words))
        srcs.append(f"src{i % n_sources}")
    n_exact = int(n_base * exact_share)
    n_near = int(n_base * near_share)
    step = n_base // (n_exact + n_near)
    picks = rng.permutation(np.arange(0, n_base, step)[:n_exact + n_near])
    for j, i in enumerate(picks):
        text = texts[i]
        if j >= n_exact:
            words = text.split(" ")
            hit = rng.choice(len(words), size=max(len(words) // 32, 1),
                             replace=False)
            for h in hit:
                words[h] = str(rng.choice(REAL_VOCAB))
            text = " ".join(words)
        texts.append(text)
        srcs.append(srcs[i])
    order = rng.permutation(len(texts))
    return pa.table({
        "doc_id": pa.array(np.arange(len(texts), dtype=np.int64) + 1),
        "text": pa.array([texts[k] for k in order], pa.string()),
        "source": pa.array([srcs[k] for k in order], pa.string()),
    })


def write(table: pa.Table, path: str, n_files: int = 8) -> int:
    """Write ``table`` as ``n_files`` parquet files under directory
    ``path``, so a scan has that many partitions; returns bytes."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // n_files)
    n_bytes = 0
    for k in range(n_files):
        f = os.path.join(path, f"part-{k}.parquet")
        pq.write_table(table.slice(k * step, step), f)
        n_bytes += os.path.getsize(f)
    return n_bytes


def quarter(table: pa.Table, key: str = "doc_id") -> pa.Table:
    """Rows whose crc32(doc_id) shard is 0 — the weak-scaling quarter."""
    keep = [shard_of(str(v)) == 0 for v in table[key].to_pylist()]
    return table.filter(pa.array(keep))
