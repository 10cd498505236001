"""Seeded input generator for the benchmark.

Every input is a pure function of the run's seed. Inputs are written as
parquet under the run's work directory; the engine only ever receives
those files. The generator also keeps the same data in NumPy / Python
form for the oracles in `oracle.py`.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

DIM = 64


def rng_for(seed: int, *stream: int) -> np.random.Generator:
    """Independent, reproducible stream per (seed, purpose, index)."""
    return np.random.default_rng([seed, *stream])


def vec_array(x: np.ndarray) -> pa.Array:
    """(n, d) float32 matrix → Arrow list<float> (Spark: array<float>)."""
    n, d = x.shape
    offsets = pa.array(np.arange(0, n * d + 1, d, dtype=np.int32))
    return pa.ListArray.from_arrays(offsets, pa.array(x.reshape(-1).astype(np.float32)))


def write(table: pa.Table, path: str) -> str:
    """One parquet file: at these sizes a lake table is a single file, and
    every split and file count after that is the engine's own doing."""
    pq.write_table(table, path)
    return path


class Mixture:
    """Gaussian mixture in DIM dimensions: `k` centres, isotropic noise.
    Corpus rows and queries come from the same mixture, so queries are
    in-distribution."""

    def __init__(self, seed: int, k: int = 64, noise: float = 1.2):
        r = rng_for(seed, 1)
        self.centres = r.normal(size=(k, DIM))
        self.noise = noise

    def sample(self, r: np.random.Generator, n: int) -> np.ndarray:
        labels = r.integers(0, len(self.centres), n)
        x = self.centres[labels] + r.normal(scale=self.noise, size=(n, DIM))
        return x.astype(np.float32)


def iglyph_table(ids: list[str], glyph: np.ndarray, ctx: np.ndarray, emb: np.ndarray) -> pa.Table:
    return pa.table(
        {
            "iglyph_id": pa.array(ids, pa.string()),
            "glyph_id": pa.array(glyph.astype(np.int64)),
            "outer_context_id": pa.array(ctx.astype(np.int32)),
            "embedding": vec_array(emb),
            "label": pa.array(["bench"] * len(ids), pa.string()),
        }
    )


def query_table(qids: np.ndarray, q: np.ndarray) -> pa.Table:
    return pa.table({"query_id": pa.array(qids.astype(np.int64)), "query_embedding": vec_array(q)})


# ---------------------------------------------------------------------------
# search_read
# ---------------------------------------------------------------------------


@dataclass
class SearchInputs:
    corpus_path: str
    corpus: np.ndarray  # (N, d) float32, row i has vec_id i
    query_files: list[str]
    queries: list[np.ndarray]  # per batch (Q, d)
    facade_path: str
    facade_ids: list[str]
    facade_ctx: np.ndarray
    facade: np.ndarray


def search_inputs(seed: int, work: str, n: int, q: int, n_batches: int,
                  n_facade: int, n_filtered: int) -> SearchInputs:
    mix = Mixture(seed)
    corpus = mix.sample(rng_for(seed, 2), n)
    corpus_path = write(
        pa.table({"vec_id": pa.array(np.arange(n, dtype=np.int64)),
                  "embedding": vec_array(corpus)}),
        os.path.join(work, "corpus.parquet"),
    )
    rq = rng_for(seed, 3)
    queries, query_files = [], []
    for b in range(n_batches):
        qm = mix.sample(rq, q)
        queries.append(qm)
        query_files.append(
            write(query_table(np.arange(q), qm), os.path.join(work, f"queries-{b:03d}.parquet")))
    rf = rng_for(seed, 4)
    facade = mix.sample(rf, n_facade)
    ctx = rf.integers(0, 10, n_facade)
    ids = [f"f{i:07d}" for i in range(n_facade)]
    facade_path = write(
        iglyph_table(ids, rf.integers(0, 144_000, n_facade), ctx, facade),
        os.path.join(work, "facade.parquet"),
    )
    filtered = [(v, int(c))
                for v, c in zip(mix.sample(rf, n_filtered), rf.integers(0, 10, n_filtered))]
    # the filtered queries reach the engine through a file as well
    write(
        pa.table({"ctx": pa.array([c for _, c in filtered], pa.int32()),
                  "query_embedding": vec_array(np.stack([v for v, _ in filtered]))}),
        os.path.join(work, "filtered.parquet"),
    )
    return SearchInputs(corpus_path, corpus, query_files, queries, facade_path, ids, ctx, facade)


def read_filtered(work: str) -> list[tuple[list[float], int]]:
    """The filtered-search queries as the engine receives them:
    (query vector, outer_context_id) read back from their file."""
    t = pq.read_table(os.path.join(work, "filtered.parquet")).to_pydict()
    return [(list(v), int(c)) for v, c in zip(t["query_embedding"], t["ctx"])]


# ---------------------------------------------------------------------------
# ingest_curate
# ---------------------------------------------------------------------------


@dataclass
class IngestInputs:
    """Base table plus an unbounded sequence of ingest batches. Batch i
    re-sends `dup_frac` of its rows as exact copies of rows already
    committed (retried writes), so its fresh-row count is fixed."""

    seed: int
    work: str
    batch_rows: int
    dup_rows: int
    base_path: str
    ids: list[str] = field(default_factory=list)  # committed order
    vecs: list[np.ndarray] = field(default_factory=list)  # blocks, concatenated lazily
    glyph: list[np.ndarray] = field(default_factory=list)
    ctx: list[np.ndarray] = field(default_factory=list)
    mix: Mixture | None = None

    def matrix(self) -> np.ndarray:
        if len(self.vecs) > 1:
            self.vecs = [np.concatenate(self.vecs)]
            self.glyph = [np.concatenate(self.glyph)]
            self.ctx = [np.concatenate(self.ctx)]
        return self.vecs[0]

    def next_batch(self, i: int) -> tuple[str, str, int]:
        """Write batch i; return (batch_path, delta_path, fresh_rows).

        batch_path holds every row of the batch (fresh and re-sent, in
        shuffled order); delta_path holds only its fresh rows, the part an
        incremental index update routes."""
        r = rng_for(self.seed, 10, i)
        fresh = self.batch_rows - self.dup_rows
        start = len(self.ids)
        new_ids = [f"r{start + j:08d}" for j in range(fresh)]
        new_vec = self.mix.sample(r, fresh)
        new_glyph = r.integers(0, 144_000, fresh)
        new_ctx = r.integers(0, 10, fresh)
        old = self.matrix()
        pick = r.choice(len(self.ids), size=self.dup_rows, replace=False)
        ids = new_ids + [self.ids[j] for j in pick]
        vec = np.concatenate([new_vec, old[pick]])
        glyph = np.concatenate([new_glyph, self.glyph[0][pick]])
        ctx = np.concatenate([new_ctx, self.ctx[0][pick]])
        order = r.permutation(len(ids))
        batch = iglyph_table([ids[j] for j in order], glyph[order], ctx[order], vec[order])
        batch_path = write(batch, os.path.join(self.work, f"batch-{i:04d}.parquet"))
        delta = write(iglyph_table(new_ids, new_glyph, new_ctx, new_vec),
                      os.path.join(self.work, f"delta-{i:04d}.parquet"))
        self.ids.extend(new_ids)
        self.vecs.append(new_vec)
        self.glyph.append(new_glyph)
        self.ctx.append(new_ctx)
        return batch_path, delta, fresh

    def query(self, i: int) -> tuple[str, np.ndarray]:
        """One in-distribution query (Q=1) for cycle i."""
        q = self.mix.sample(rng_for(self.seed, 11, i), 1)
        return write(query_table(np.zeros(1), q), os.path.join(self.work, f"q1-{i:04d}.parquet")), q

    def point(self, i: int) -> tuple[int, int, list[float]]:
        """One single-row write for cycle i, read back from its file."""
        r = rng_for(self.seed, 12, i)
        v = self.mix.sample(r, 1)
        path = write(
            pa.table({"glyph_id": pa.array([int(r.integers(0, 144_000))], pa.int64()),
                      "outer_context_id": pa.array([int(r.integers(0, 10))], pa.int32()),
                      "embedding": vec_array(v)}),
            os.path.join(self.work, f"point-{i:04d}.parquet"),
        )
        row = pq.read_table(path).to_pylist()[0]
        return row["glyph_id"], row["outer_context_id"], row["embedding"]


def ingest_inputs(seed: int, work: str, base_rows: int, batch_rows: int,
                  dup_frac: float) -> IngestInputs:
    mix = Mixture(seed)
    r = rng_for(seed, 9)
    vec = mix.sample(r, base_rows)
    glyph = r.integers(0, 144_000, base_rows)
    ctx = r.integers(0, 10, base_rows)
    ids = [f"r{j:08d}" for j in range(base_rows)]
    base_path = write(iglyph_table(ids, glyph, ctx, vec), os.path.join(work, "base.parquet"))
    return IngestInputs(seed, work, batch_rows, round(batch_rows * dup_frac), base_path,
                        ids, [vec], [glyph], [ctx], mix)


# ---------------------------------------------------------------------------
# documents for the curation step of ingest_curate
# ---------------------------------------------------------------------------

TOKEN_RE = re.compile(r"[^a-z0-9]+")


@dataclass
class DocInputs:
    docs_path: str
    texts: dict[int, str]
    near_pairs: list[tuple[int, int]]  # (original id, 1-token-edit copy id)


def doc_inputs(seed: int, work: str, i: int, n_docs: int, exact_frac: float, near_frac: float,
               min_len: int, max_len: int) -> DocInputs:
    """Document batch i: `n_docs` base documents over a Zipf-weighted
    vocabulary; `exact_frac` of them get one or two byte-identical copies
    and a disjoint `near_frac` get one copy with a single token replaced.
    Document ids are a random permutation, so copies are not adjacent."""
    r = rng_for(seed, 20, i)
    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    vocab = sorted({"".join(r.choice(letters, r.integers(3, 9))) for _ in range(6000)})
    weights = 1.0 / np.arange(1, len(vocab) + 1) ** 0.8
    weights /= weights.sum()
    base = []
    for _ in range(n_docs):
        toks = r.choice(len(vocab), size=r.integers(min_len, max_len + 1), p=weights)
        base.append([vocab[t] for t in toks])
    order = r.permutation(n_docs)
    n_exact = int(n_docs * exact_frac)
    n_near = int(n_docs * near_frac)
    exact_src, near_src = order[:n_exact], order[n_exact:n_exact + n_near]
    texts = [" ".join(t) for t in base]
    near_pairs_idx = []
    for j in exact_src:
        for _ in range(int(r.integers(1, 3))):
            texts.append(texts[j])
    for j in near_src:
        toks = list(base[j])
        pos = int(r.integers(0, len(toks)))
        toks[pos] = next(w for w in r.choice(vocab, 4) if w != toks[pos])
        near_pairs_idx.append((int(j), len(texts)))
        texts.append(" ".join(toks))
    ids = r.permutation(len(texts)).astype(np.int64) + 1
    table = pa.table({"doc_id": pa.array(ids), "text": pa.array(texts, pa.string())})
    path = write(table.take(pa.array(np.argsort(ids))), os.path.join(work, f"docs-{i:04d}.parquet"))
    near = [(int(ids[a]), int(ids[b])) for a, b in near_pairs_idx]
    return DocInputs(path, {int(ids[k]): texts[k] for k in range(len(texts))}, near)
