"""Seeded inputs for the workloads.

Everything here is a pure function of ``(seed, sizes)``: numpy's PCG64
generator seeded per purpose, so the same seed writes byte-identical
files and another seed writes different ones. The program under test
only ever sees the files (and the query lists) these functions return.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

import numpy as np

DIM = 768
#: true mixture components of the clustered corpus
N_CENTERS = 32
#: within-cluster noise (per coordinate) around unit-variance centres;
#: at 1.0 a one-list IVF probe over 16 lists recalls ~0.96 of the top 10
NOISE = 1.0
#: metadata vocabulary for captions and concept-math operands
WORDS = (
    "dog cat ridgeback lion safari bridge berlin london paris tokyo cubism "
    "surrealism painting photo sunset mountain river ocean forest city red "
    "blue green vintage modern abstract portrait landscape macro night winter summer"
).split()
#: the filtered frame-lane predicate; heights are uniform in [64, 2048)
FRAME_MIN_HEIGHT = 512
FRAME_FILTER = f"height >= {FRAME_MIN_HEIGHT}"


def _rng(seed: int, *purpose: int) -> np.random.Generator:
    return np.random.default_rng([seed, *purpose])


@dataclass(frozen=True)
class Corpus:
    """Raw LAION shards on disk plus what the checks need to know."""

    root: str
    n_shards: int
    rows_per_shard: int
    missing_text_shard: int
    centers: np.ndarray  # (N_CENTERS, DIM) float32

    @property
    def rows(self) -> int:
        return self.n_shards * self.rows_per_shard

    def npy(self, kind: str, shard: int) -> str:
        return os.path.join(self.root, f"{kind}_emb", f"{kind}_emb_{shard}.npy")

    def metadata(self, shard: int) -> str:
        return os.path.join(self.root, "metadata", f"metadata_{shard}.parquet")


def centers(seed: int) -> np.ndarray:
    return _rng(seed, 0).standard_normal((N_CENTERS, DIM), dtype=np.float32)


def write_corpus(root: str, seed: int, n_shards: int, rows_per_shard: int) -> Corpus:
    """LAION raw shard layout: ``metadata/metadata_{i}.parquet`` plus
    row-aligned ``img_emb``/``text_emb`` ``.npy`` float32 matrices. Image
    embeddings are a Gaussian mixture (so IVF lists mean something);
    one shard's text matrix is left out to exercise zero-fill."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    c = centers(seed)
    missing = int(_rng(seed, 1).integers(0, n_shards))
    for d in ("metadata", "img_emb", "text_emb"):
        os.makedirs(os.path.join(root, d), exist_ok=True)
    corpus = Corpus(root, n_shards, rows_per_shard, missing, c)
    n = rows_per_shard
    for s in range(n_shards):
        rng = _rng(seed, 2, s)
        base = s * n
        label = rng.integers(0, N_CENTERS, n)
        img = c[label] + np.float32(NOISE) * rng.standard_normal((n, DIM), dtype=np.float32)
        w = rng.integers(0, len(WORDS), (n, 2))
        meta = pa.table(
            {
                "key": [f"k{base + i:09d}" for i in range(n)],
                "url": [f"https://example.com/{base + i}.jpg" for i in range(n)],
                "caption": [
                    f"{WORDS[a]} ’{WORDS[b]}‘ {base + i}" for i, (a, b) in enumerate(w)
                ],
                "similarity": rng.random(n),
                "width": rng.integers(64, 2048, n),
                "height": rng.integers(64, 2048, n),
                "original_width": rng.integers(64, 4096, n),
                "original_height": rng.integers(64, 4096, n),
                "status": ["success"] * n,
                "nsfw": ["UNLIKELY"] * n,
                "exif_json": [json.dumps({"Make": f"cam{a % 5}"}) for a, _ in w],
            }
        )
        pq.write_table(meta, corpus.metadata(s))
        np.save(corpus.npy("img", s), img)
        if s != missing:
            np.save(corpus.npy("text", s), rng.standard_normal((n, DIM), dtype=np.float32))
    return corpus


def corpus_matrix(corpus: Corpus, kind: str = "img") -> np.ndarray:
    """All shards' matrix of ``kind`` stacked in key order (zeros where
    the shard's matrix is missing) — the reference side of every check."""
    mats = []
    for s in range(corpus.n_shards):
        p = corpus.npy(kind, s)
        mats.append(
            np.load(p) if os.path.exists(p)
            else np.zeros((corpus.rows_per_shard, DIM), dtype=np.float32)
        )
    return np.concatenate(mats)


def corpus_heights(corpus: Corpus) -> np.ndarray:
    import pyarrow.parquet as pq

    return np.concatenate(
        [pq.read_table(corpus.metadata(s), columns=["height"]).column(0).to_numpy()
         for s in range(corpus.n_shards)]
    )


def ann_vectors(seed: int, purpose: int, c: np.ndarray, n: int) -> np.ndarray:
    """Query vectors from the corpus distribution (a centre plus the
    corpus's own noise) — recall against out-of-distribution vectors
    says nothing about an IVF index."""
    rng = _rng(seed, 3, purpose)
    label = rng.integers(0, len(c), n)
    return c[label] + np.float32(NOISE) * rng.standard_normal((n, DIM), dtype=np.float32)


#: median wall time (ms) of one measured op of each cheap type, pooled
#: over the calibration runs in perfbench/BASELINE.md (4 cores, 4 GB
#: heap, 8k x 768-d corpus); the round's op counts are derived from it
BASELINE_OP_MS = {"exact_f32": 329, "exact_f16": 335, "exact_i8": 302, "ann": 261,
                  "ann_batch": 852}
#: the lanes that share a round's wall time equally, and the op types of each
LANES = {"scan": ("exact_f32", "exact_f16", "exact_i8"), "probe": ("ann",),
         "join": ("ann_batch",)}
#: wall time each of those lanes gets per round: 3 s gives each scan
#: precision and the join lane at least three samples a run, so one slow
#: call does not set a median; the DataFrame lane takes about 14 s more
LANE_SHARE_MS = 3000
#: the DataFrame lane's ops per round: a filtered ``search_text`` and a
#: ``search_concept``, the fewest that sample both of its variants
FRAME_VARIANTS = ("text", "concept")
ANN_BATCH = 8


def round_counts() -> dict[str, int]:
    """Ops of each type in one round. The scan, probe and join lanes
    get equal wall time (``LANE_SHARE_MS``, split evenly over a lane's
    types at their baseline latency); the DataFrame lane gets one op of
    each variant. The end-to-end figures weigh every op type equally
    (see ``workloads.search_e2e``), so these counts set how many samples
    each type's median rests on, not what the figures measure."""
    counts = {}
    for kinds in LANES.values():
        per_op = sum(BASELINE_OP_MS[k] for k in kinds) / len(kinds)
        n = max(1, round(LANE_SHARE_MS / per_op / len(kinds)))
        counts.update({k: n for k in kinds})
    counts["frame"] = len(FRAME_VARIANTS)
    return counts


#: one round of the search mix, in op-type counts; the order inside a
#: round is shuffled per seed
SEARCH_ROUND = round_counts()


def search_ops(seed: int, c: np.ndarray, n_rounds: int) -> list[dict]:
    """The seeded query stream: ``n_rounds`` rounds of ``SEARCH_ROUND``.
    Exact queries are text (hash-encoded by the program's encoder, as
    the CLI does); ANN queries are vectors; every round holds each frame
    variant once, a filtered text search and a concept-math expression."""
    rng = _rng(seed, 4)
    ops: list[dict] = []
    for r in range(n_rounds):
        kinds = [k for k, m in SEARCH_ROUND.items() for _ in range(m)]
        rng.shuffle(kinds)
        variants = list(FRAME_VARIANTS)
        rng.shuffle(variants)
        for j, kind in enumerate(kinds):
            a, b, d = (WORDS[int(x)] for x in rng.integers(0, len(WORDS), 3))
            op: dict = {"kind": kind, "id": f"{kind}#{r}.{j}"}
            if kind.startswith("exact"):
                op["text"] = f"a photo of a {a} near the {b}"
            elif kind == "ann":
                op["vec"] = ann_vectors(seed, 1000 * r + j, c, 1)[0]
            elif kind == "ann_batch":
                op["vecs"] = ann_vectors(seed, 1000 * r + j, c, ANN_BATCH)
            else:
                variant = variants.pop()
                op["id"] = f"frame.{variant}#{r}.{j}"
                if variant == "text":
                    op["text"] = f"{a} {b} at night"
                else:
                    op["concept"] = f"({a} + {b}) / 2 - {d} / 4"
                    op["words"] = (a, b, d)
            ops.append(op)
    return ops


@dataclass(frozen=True)
class Docs:
    path: str
    n: int
    n_base: int

    def planted(self) -> set[tuple[int, int]]:
        """(base, variant) id pairs: doc ``i`` and ``i + n_base`` for
        every base ``i``."""
        return {(i, i + self.n_base) for i in range(self.n_base)}


def write_docs(path: str, seed: int, n: int, vocab: int = 5000, length: int = 40) -> Docs:
    """Dedup corpus with planted near-duplicates (the bench.py
    ``ensure_docs`` recipe): ids ``[0, n/5)`` are base texts of
    ``length`` tokens, ids ``[n/5, 2n/5)`` are their variants (one
    appended token, Jaccard ~0.95, containment of the base = 1), the
    rest are unique texts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = _rng(seed, 5)
    n_base = n // 5
    toks = rng.integers(0, vocab, (n, length))
    toks[n_base : 2 * n_base] = toks[:n_base]
    texts = [" ".join(f"w{t}" for t in row) for row in toks]
    for i in range(n_base, 2 * n_base):
        texts[i] += f" x{int(rng.integers(0, 97))}"
    pq.write_table(
        pa.table({"doc_id": np.arange(n, dtype=np.int64), "text": texts}),
        path,
        row_group_size=max(1, n // 8),
    )
    return Docs(path, n, n_base)
