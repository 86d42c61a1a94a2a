"""The workloads, search and dedup. Each runs in a worker process of
its own, so it gets a fresh JVM; ``run.py`` starts it as::

    python3 -m perfbench.workloads --workload search --seed 1 --seconds 5 \
        --trace 0 --root <scratch dir> --out <result.json>

A workload builds its seeded inputs, sets up (session, fixtures,
warm-up), then runs ops in a closed loop — each op waits for the
previous result, as a CLI or notebook user does — until ``--seconds``
have passed, and finally checks every answer against a numpy
reference. The program is driven only through ``laion_spark``'s public
functions and timed from outside.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import sys
import time
import traceback

import numpy as np

from perfbench import host, inputs, spec
from perfbench.trace import Tracer, fold_event_log, median, read_event_log, tail_percentile

K = 10
#: untimed IVF queries that recall@10 is measured on
RECALL_QUERIES = 128
VCOLS = ("image_embedding", "text_embedding")
SELECT = ("key", "url", "caption")

SIZES = {
    "full": {
        "search": {"n_shards": 4, "rows_per_shard": 2048, "n_clusters": 16, "nprobe": 1},
        "dedup": {"n_docs": 10_000},
    },
    # smoke-test scale: same code paths, seconds instead of minutes
    "toy": {
        "search": {"n_shards": 2, "rows_per_shard": 256, "n_clusters": 4, "nprobe": 1},
        "dedup": {"n_docs": 500},
    },
}
#: bytes of scratch disk per input row / document a workload may need
#: at peak (raw inputs plus every table written), checked up front
DISK_PER_ROW = {"search": 40_000, "dedup": 4_000}


class Run:
    """State of one workload run: the session, the tracer, and the ops'
    outcome ledger."""

    def __init__(self, spark, tracer: Tracer, seed: int, seconds: float, root: str, sizes: dict):
        self.spark = spark
        self.tracer = tracer
        self.seed = seed
        self.seconds = seconds
        self.root = root
        self.sizes = sizes
        self.failures: list[tuple[str, str]] = []
        self.extra: dict = {}

    def call(self, kind: str, op_id: str, fn, group: bool = False):
        """Run one op; an exception counts as a failed op, by name."""
        with self.tracer.op(kind, op_id, group=group) as rec:
            try:
                rec["out"] = fn()
            except Exception as e:  # noqa: BLE001 — the ledger boundary: record and go on
                traceback.print_exc(file=sys.stderr)
                rec["out"] = None
                rec["error"] = f"{type(e).__name__}: {e}".splitlines()[0][:300]
        if "error" in rec:
            self.failures.append((op_id, rec["error"]))
        return rec

    def check(self, op_id: str, err: str | None) -> None:
        if err:
            self.failures.append((op_id, err))

    def measured(self) -> list[dict]:
        return [o for o in self.tracer.ops if o["phase"] == "measure"]


# -- reference checks -------------------------------------------------------


def l2(mat64: np.ndarray, sq: np.ndarray, q) -> np.ndarray:
    """Float64 L2 distances from every row of ``mat64`` to ``q``."""
    q = np.asarray(q, dtype=np.float64)
    return np.sqrt(np.maximum(sq - 2.0 * (mat64 @ q) + q @ q, 0.0))


def topk_error(dist: np.ndarray, ids, scores, k: int = K, rtol: float = 1e-5,
               atol: float = 1e-5) -> str | None:
    """None when (ids, scores) is a valid top-k of ``dist`` (``inf`` marks
    rows outside the candidate set): the right count, no repeats, each
    score the reference distance of its row, ascending, and no row left
    out that is nearer than one returned (ties allowed)."""
    finite = np.isfinite(dist)
    want = min(k, int(finite.sum()))
    if len(ids) != want:
        return f"{len(ids)} rows, expected {want}"
    if len(set(ids)) != len(ids):
        return "duplicate rows"
    ids = np.asarray(ids, dtype=np.int64)
    if ids.min() < 0 or ids.max() >= len(dist):
        return "row id outside the corpus"
    got = np.asarray(scores, dtype=np.float64)
    ref = dist[ids]
    if not np.isfinite(ref).all():
        return "row outside the candidate set"
    if not np.allclose(got, ref, rtol=rtol, atol=atol):
        return f"scores differ from reference (max {np.abs(got - ref).max():.3g})"
    if np.any(np.diff(got) < -atol):
        return "scores not ascending"
    kth = np.partition(dist[finite], want - 1)[want - 1]
    if ref.max() > kth * (1 + rtol) + atol:
        return "a nearer row was left out"
    return None


def row_of(key: str) -> int:
    return int(key[1:])


def sq8(mat: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """Symmetric per-vector int8 quantization: codes and scales."""
    maxabs = np.abs(mat).max(axis=1)
    scale = np.where(maxabs > 0, maxabs / 127.0, 1.0).astype(np.float32)
    codes = np.clip(np.rint(mat / scale[:, None]), -127, 127).astype(np.int8)
    return codes, scale


def du(path: str) -> int:
    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(dirpath, f))
    return total


def assign(mat64: np.ndarray, centroids) -> np.ndarray:
    c = np.asarray(centroids, dtype=np.float64)
    return np.argmin(np.einsum("ij,ij->i", c, c)[None, :] - 2.0 * (mat64 @ c.T), axis=1)


def probes(centroids, q, nprobe: int) -> np.ndarray:
    c = np.asarray(centroids, dtype=np.float64)
    d = ((c - np.asarray(q, dtype=np.float64)) ** 2).sum(axis=1)
    return np.argsort(d, kind="stable")[:nprobe]


# -- the LAION build (ingest, and search's set-up) -------------------------


class Tables:
    """One build's four stored tables, its IVF index, and the (path,
    rows) rows each writer returned."""

    def __init__(self, out: str):
        self.f32 = f"{out}/f32"
        self.f16 = f"{out}/f16"
        self.i8 = f"{out}/i8"
        self.ivf = f"{out}/ivf"
        self.index = None
        self.written: dict[str, list] = {}


def build_tables(run: Run, raw: str, out: str, n_clusters: int, nprobe: int) -> Tables:
    """One pass of the LAION build: shard ETL, the f16 and int8 twins,
    IVF fit and write — each a public call under its own span."""
    from laion_spark.operators.similarity import IVFIndex
    from laion_spark.sources.halfvec import write_half_table, write_int8_table
    from laion_spark.sources.npy import etl_shards_to_parquet

    spark, tr = run.spark, run.tracer
    t = Tables(out)
    with tr.span("npy.etl", group="etl"):
        t.written["etl"] = etl_shards_to_parquet(spark, raw, t.f32).collect()
    with tr.span("halfvec.half", group="half"):
        t.written["half"] = write_half_table(spark, t.f32, t.f16, vector_cols=VCOLS).collect()
    with tr.span("halfvec.int8", group="int8"):
        t.written["int8"] = write_int8_table(spark, t.f32, t.i8, vector_cols=VCOLS).collect()
    df = spark.read.parquet(t.f32)
    t.index = IVFIndex(inputs.DIM, n_clusters=n_clusters, nprobe=nprobe)
    with tr.span("ivf.fit", group="ivf_fit"):
        t.index.fit(df, id_col="key", vector_col="image_embedding")
    with tr.span("ivf.write", group="ivf_write"):
        t.index.write_index(df, t.ivf, vector_col="image_embedding")
    return t


def check_tables(corpus: inputs.Corpus, t: Tables, img: np.ndarray, txt: np.ndarray,
                 rng: np.random.Generator, n_sample: int = 64) -> tuple[str | None, float]:
    """Row counts, the zero-filled shard, and a read-back of sampled
    embeddings from every stored table against the ``.npy`` source.
    Returns (error, fidelity): fidelity is the lower of the f16 and int8
    twins' mean cosine similarity to the source on the sample."""
    import pyarrow.dataset as ds
    import pyarrow.parquet as pq

    n, per = corpus.rows, corpus.rows_per_shard
    etl = t.written["etl"]
    if len(etl) != corpus.n_shards or any(r["rows"] != per for r in etl):
        return f"etl wrote {[r['rows'] for r in etl]} rows per shard, expected {per}", 0.0
    for name in ("half", "int8"):
        got = sum(r["rows"] for r in t.written[name])
        if got != n:
            return f"{name} wrote {got} rows, expected {n}", 0.0
    f32 = pq.read_table(t.f32, columns=["key", *VCOLS])
    if f32.num_rows != n:
        return f"f32 table holds {f32.num_rows} rows, expected {n}", 0.0
    rows = np.array([row_of(k) for k in f32.column("key").to_pylist()])
    if sorted(rows.tolist()) != list(range(n)):
        return "f32 table keys are not the source rows", 0.0
    miss = np.flatnonzero((rows // per) == corpus.missing_text_shard)
    zero_txt = f32.column("text_embedding").take(miss).combine_chunks().flatten()
    if np.any(zero_txt.to_numpy()):
        return "missing text matrix was not zero-filled", 0.0
    pick = rng.choice(n, size=min(n_sample, n), replace=False)
    pos = {r: i for i, r in enumerate(rows)}
    take = [pos[r] for r in pick]
    for col, src in (("image_embedding", img), ("text_embedding", txt)):
        got = np.stack(f32.column(col).take(take).to_numpy(zero_copy_only=False))
        if not np.array_equal(got.astype(np.float32), src[pick]):
            return f"f32 {col} differs from the .npy source", 0.0

    def packed(path: str, col: str, dtype, extra: tuple = ()) -> tuple[np.ndarray, list]:
        tab = pq.read_table(path, columns=["key", col, *extra])
        keys = [row_of(k) for k in tab.column("key").to_pylist()]
        p = {r: i for i, r in enumerate(keys)}
        idx = [p[r] for r in pick]
        raw = tab.column(col).take(idx).combine_chunks()
        mat = np.frombuffer(raw.buffers()[1], dtype=dtype).reshape(len(idx), -1)
        rest = [tab.column(c).take(idx).to_numpy() for c in extra]
        return mat, rest

    def cosine(a: np.ndarray, b: np.ndarray) -> float:
        a, b = a.astype(np.float64), b.astype(np.float64)
        return float(np.mean((a * b).sum(1) / np.linalg.norm(a, axis=1) / np.linalg.norm(b, axis=1)))

    h, _ = packed(t.f16, "image_embedding", np.float16)
    if not np.array_equal(h, img[pick].astype(np.float16)):
        return "f16 twin differs from the source cast to float16", 0.0
    codes, (scale,) = packed(t.i8, "image_embedding", np.int8, ("image_embedding_scale",))
    deq = codes.astype(np.float32) * scale[:, None]
    if np.any(np.abs(deq - img[pick]) > 0.5001 * scale[:, None] + 1e-6):
        return "int8 twin decodes further than half a step from the source", 0.0
    fidelity = min(cosine(h, img[pick]), cosine(deq, img[pick]))
    ivf = ds.dataset(t.ivf, format="parquet", partitioning="hive").to_table(
        columns=["key", "ivf_cluster"])
    if ivf.num_rows != n:
        return f"IVF table holds {ivf.num_rows} rows, expected {n}", 0.0
    cl = dict(zip((row_of(k) for k in ivf.column("key").to_pylist()),
                  ivf.column("ivf_cluster").to_pylist()))
    want = assign(img[pick].astype(np.float64), t.index.centroids)
    if [cl[r] for r in pick] != want.tolist():
        return "IVF rows sit in a list other than their nearest centroid's", 0.0
    return None, fidelity


def table_bytes(t: Tables) -> dict[str, int]:
    return {name: du(getattr(t, name)) for name in ("f32", "f16", "i8", "ivf")}


# -- search ------------------------------------------------------------------


def run_search(run: Run) -> dict:
    from laion_spark.functions.encoder import HashEncoder
    from laion_spark.operators.knn import knn_search_parquet
    from laion_spark.operators.search import collect_result, search_concept, search_text

    sz, tr, spark = run.sizes, run.tracer, run.spark
    corpus = inputs.write_corpus(f"{run.root}/raw", run.seed, sz["n_shards"], sz["rows_per_shard"])
    enc = HashEncoder(inputs.DIM)

    # set-up builds the corpus with the LAION ingest pipeline, cold, as a
    # fresh deployment would; the build is an op of its own and is checked
    t0 = time.perf_counter()
    build = run.call("ingest", "ingest#0", lambda: build_tables(
        run, corpus.root, f"{run.root}/tables", sz["n_clusters"], sz["nprobe"]))
    if build["out"] is None:
        raise RuntimeError(f"corpus build failed: {build['error']}")
    t = build["out"]
    df = spark.read.parquet(t.f32)
    build_s = time.perf_counter() - t0

    img = inputs.corpus_matrix(corpus, "img")
    err, fidelity = check_tables(corpus, t, img, inputs.corpus_matrix(corpus, "text"),
                                 np.random.default_rng([run.seed, 99]))
    run.check(build["id"], err)
    ref = {
        "f32": img.astype(np.float64),
        "f16": img.astype(np.float16).astype(np.float64),
    }
    codes, scale = sq8(img)
    ref["i8"] = (codes.astype(np.float32) * scale[:, None]).astype(np.float64)
    sq = {name: np.einsum("ij,ij->i", m, m) for name, m in ref.items()}
    tall = inputs.corpus_heights(corpus) >= inputs.FRAME_MIN_HEIGHT
    cluster = assign(ref["f32"], t.index.centroids)
    paths = {"f32": (t.f32, None), "f16": (t.f16, None), "i8": (t.i8, "image_embedding_scale")}

    def ann_error(q: np.ndarray, ids, scores) -> str | None:
        """An IVF answer must be the exact top-k of the lists it probes."""
        dist = l2(ref["f32"], sq["f32"], q)
        probed = np.isin(cluster, probes(t.index.centroids, q, sz["nprobe"]))
        return topk_error(np.where(probed, dist, np.inf), ids, scores)

    def exact(op, lane):
        path, scale_col = paths[lane]
        qvec = enc.encode(op["text"])
        with tr.span("knn.plan"):
            plan = knn_search_parquet(spark, path, qvec, k=K, vector_col="image_embedding",
                                      select=list(SELECT), scale_col=scale_col)
        with tr.span("knn.exec"):
            res = collect_result(plan, 0.0, K, "image_embedding")
        return qvec, [(r["key"], r["score"]) for r in res.rows]

    def ann(op):
        q = [float(x) for x in op["vec"]]
        with tr.span("ivf.plan"):
            plan = t.index.search_parquet(spark, t.ivf, q, k=K, vector_col="image_embedding",
                                          select=["key"])
        with tr.span("ivf.exec"):
            rows = plan.collect()
        return [(r["key"], r["score"]) for r in rows]

    def ann_batch(op):
        qdf = spark.createDataFrame([(i, v.tolist()) for i, v in enumerate(op["vecs"])],
                                    "qid long, embedding array<float>")
        with tr.span("ivf.join_plan"):
            plan = t.index.knn_join_parquet(spark, t.ivf, qdf, k=K, query_id="qid",
                                            query_vec="embedding", corpus_id="key",
                                            vector_col="image_embedding")
        with tr.span("ivf.join_exec"):
            rows = plan.collect()
        return [(r["qid_q"], r["key_c"], r["score"]) for r in rows]

    def frame(op):
        kw = {"k": K, "select": SELECT, "vector_col": "image_embedding", "tiebreak": ("key",)}
        if "text" in op:
            res = search_text(df, op["text"], enc, filter=inputs.FRAME_FILTER, **kw)
        else:
            res = search_concept(df, op["concept"], enc, **kw)
        return res.generation_time, res.query_time, [(r["key"], r["score"]) for r in res.rows]

    traced, seen = tr.enabled, {}

    def execute(op):
        kind = op["kind"]
        if kind.startswith("exact_"):
            fn = lambda: exact(op, kind[len("exact_"):])  # noqa: E731
        else:
            fn = {"ann": lambda: ann(op), "ann_batch": lambda: ann_batch(op),
                  "frame": lambda: frame(op)}[kind]
        if traced and tr.phase == "measure":
            # a traced run measures every other op of each kind with the
            # tracer off, for the tracing overhead (see ab_overhead_pct)
            seen[kind] = seen.get(kind, 0) + 1
            tr.enabled = seen[kind] % 2 == 1
        try:
            return run.call(kind, op["id"], fn, group=True)
        finally:
            tr.enabled = traced

    per_round = sum(inputs.SEARCH_ROUND.values())
    stream = inputs.search_ops(run.seed, corpus.centers, n_rounds=200)
    # warm-up: the first op of each kind in round 0, so every lane's
    # workers, imports and JIT are hot before the clock starts. The first
    # call of a kind took a median 1.2-1.6x that kind's measured median,
    # the second 1.03-1.15x; a longer warm-up would not fit the run budget
    tr.phase = "warmup"
    t0 = time.perf_counter()
    done = []
    for kind in inputs.SEARCH_ROUND:
        op = next(o for o in stream[:per_round] if o["kind"] == kind)
        done.append((op, execute(op)))
    setup_s = build_s + time.perf_counter() - t0

    tr.phase = "measure"
    t0 = time.perf_counter()
    r = 1
    while True:
        done += [(op, execute(op)) for op in stream[r * per_round:(r + 1) * per_round]]
        r += 1
        if time.perf_counter() - t0 >= run.seconds:
            break
    # recall is a property of the index, so it is read off one untimed
    # batch of RECALL_QUERIES answers rather than the few timed probes
    tr.phase = "check"
    rq = {"kind": "ann_batch", "id": "recall",
          "vecs": inputs.ann_vectors(run.seed, 10**6, corpus.centers, RECALL_QUERIES)}
    done.append((rq, execute(rq)))

    # checks (after the clock stops)
    recalls, frame_split = [], []
    for op, rec in done:
        out, kind = rec["out"], op["kind"]
        if out is None:
            continue
        if kind.startswith("exact_"):
            lane = kind[len("exact_"):]
            qvec, rows = out
            dist = l2(ref[lane], sq[lane], qvec)
            run.check(op["id"], topk_error(dist, [row_of(k) for k, _ in rows], [s for _, s in rows]))
        elif kind == "ann":
            q = op["vec"].astype(np.float64)
            run.check(op["id"], ann_error(q, [row_of(k) for k, _ in out], [s for _, s in out]))
        elif kind == "ann_batch":
            for qi, v in enumerate(op["vecs"]):
                q = v.astype(np.float64)
                got = sorted((s, row_of(kk)) for qq, kk, s in out if qq == qi)
                ids = [i for _, i in got]
                err = ann_error(q, ids, [s for s, _ in got])
                if err:
                    run.check(op["id"], f"query {qi}: {err}")
                    break
                if op is rq:
                    truth = np.argsort(l2(ref["f32"], sq["f32"], q), kind="stable")[:K]
                    recalls.append(len(set(truth.tolist()) & set(ids)) / K)
        else:
            gen_s, query_s, rows = out
            if "text" in op:
                q = np.asarray(enc.encode(op["text"]), dtype=np.float64)
                dist = np.where(tall, l2(ref["f32"], sq["f32"], q), np.inf)
            else:
                a, b, d = (np.asarray(enc.encode(w), dtype=np.float64) for w in op["words"])
                dist = l2(ref["f32"], sq["f32"], (a + b) / 2 - d / 4)
            run.check(op["id"], topk_error(dist, [row_of(k) for k, _ in rows], [s for _, s in rows]))
            if rec["phase"] == "measure":
                frame_split.append((gen_s, query_s, rec["wall_s"]))

    stored = table_bytes(t)
    raw_bytes = du(corpus.root)
    meas = run.measured()
    ops_by = {k: [o["wall_s"] * 1000 for o in meas if o["kind"] == k] for k in inputs.SEARCH_ROUND}
    medians = {k: median(v) for k, v in ops_by.items() if v}
    tail = tail_percentile(ops_by["ann"])
    if tail and tail[1] < 50:
        tail = None  # a percentile below the median is no tail
    per_layer = {f"op.{k}_p50_ms": v for k, v in medians.items()}
    per_layer.update({
        "op.ann_tail_ms": tail[0] if tail else max(ops_by["ann"]),
        "op.ann_tail_pct": tail[1] if tail else 100,
        "op.recall_at_10": float(np.mean(recalls)) if recalls else 0.0,
        "store.bytes_per_input_byte": sum(stored.values()) / raw_bytes,
        "npy.bytes_written": stored["f32"],
        "halfvec.bytes_written": stored["f16"] + stored["i8"],
        "ingest.fidelity": fidelity,
        "ivf.cluster_skew": cluster_skew(cluster, sz["n_clusters"]),
        "ivf.bytes_frac": ivf_bytes_frac(t, done, sz["nprobe"]),
    })
    if frame_split:
        per_layer["search.generation_ms"] = median([g * 1000 for g, _, _ in frame_split])
        per_layer["search.query_ms"] = median([q * 1000 for _, q, _ in frame_split])
        per_layer["search.plan_ms"] = median([(w - g - q) * 1000 for g, q, w in frame_split])
    for lane, (path, scale_col) in paths.items():
        per_layer[f"store.scan_bytes.{lane}"] = column_bytes(
            path, ["key", "url", "caption", "image_embedding"] + ([scale_col] if scale_col else []))
    if traced:
        per_layer["trace.overhead_pct"] = ab_overhead_pct(meas)
    run.extra["samples"] = {k: len(v) for k, v in ops_by.items()}
    return {
        "setup_s": setup_s,
        "op_geomean_ms": search_e2e(medians),
        # the ingest pipeline's rows per second: the workload's batch side
        "items_per_s": corpus.rows / build["wall_s"],
        "quality": per_layer["op.recall_at_10"],
        "per_layer": per_layer,
        "corpus_rows": corpus.rows,
    }


def search_e2e(medians: dict[str, float]) -> float:
    """op_geomean_ms from each op type's median wall time (ms), with every
    type weighed equally whatever its count in a round: the geometric
    mean of the medians, as TPC-H's power metric weighs each query."""
    if set(medians) != set(inputs.SEARCH_ROUND):
        raise RuntimeError(f"no measured op of type {sorted(set(inputs.SEARCH_ROUND) - set(medians))}")
    vals = list(medians.values())
    return math.exp(sum(math.log(v) for v in vals) / len(vals))


def ab_overhead_pct(ops: list[dict]) -> float:
    """Tracing overhead within one run, in percent: for each op kind, the
    median wall time of its traced ops over that of its untraced ones,
    combined over kinds by geometric mean. Both halves run interleaved in
    the same session, so the run's host speed cancels out; Spark's event
    log is on for both, so its own cost is not in the figure."""
    ratios = []
    for kind in {o["kind"] for o in ops}:
        on = [o["wall_s"] for o in ops if o["kind"] == kind and o["traced"]]
        off = [o["wall_s"] for o in ops if o["kind"] == kind and not o["traced"]]
        if on and off:
            ratios.append(median(on) / median(off))
    if not ratios:
        raise RuntimeError("no op kind was measured both traced and untraced")
    return (math.exp(sum(math.log(r) for r in ratios) / len(ratios)) - 1.0) * 100.0


def cluster_skew(cluster: np.ndarray, n_clusters: int) -> float:
    counts = np.bincount(cluster, minlength=n_clusters)
    return float(counts.max() / counts.mean())


def ivf_bytes_frac(t: Tables, done, nprobe: int) -> float:
    """Median share of the index table's bytes a single probe reads."""
    total = du(t.ivf)
    sizes = {c: du(f"{t.ivf}/ivf_cluster={c}") for c in range(t.index.n_clusters)}
    fr = [sum(sizes[c] for c in probes(t.index.centroids, op["vec"], nprobe)) / total
          for op, _ in done if op["kind"] == "ann"]
    return median(fr) if fr else 0.0


def column_bytes(path: str, columns: list[str]) -> int:
    """Compressed bytes of the column chunks of ``columns`` in the
    table, from the parquet footers: what a full scan of those columns
    covers. A property of the stored layout, not a count of bytes read."""
    import pyarrow.parquet as pq

    total = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
            for g in range(md.num_row_groups):
                rg = md.row_group(g)
                for c in range(rg.num_columns):
                    col = rg.column(c)
                    if col.path_in_schema.split(".")[0] in columns:
                        total += col.total_compressed_size
    return total


# -- dedup -------------------------------------------------------------------


def run_dedup(run: Run) -> dict:
    from laion_spark.operators.dedup import (
        connected_components,
        containment_pairs,
        minhash_lsh_pairs,
        shared_window_pairs,
    )

    spark, tr = run.spark, run.tracer
    docs = inputs.write_docs(f"{run.root}/docs.parquet", run.seed, run.sizes["n_docs"])
    planted = docs.planted()
    t0 = time.perf_counter()
    df = spark.read.parquet(docs.path)
    setup_s = time.perf_counter() - t0

    def pipeline() -> dict:
        out = {}
        with tr.span("dedup.minhash", group="minhash"):
            mh = minhash_lsh_pairs(df, "doc_id", "text", num_hashes=32, bands=8, threshold=0.8)
            out["minhash"] = [(r["da"], r["db"]) for r in mh.collect()]
        with tr.span("dedup.components", group="components"):
            pairs = spark.createDataFrame(out["minhash"], "da long, db long")
            out["components"] = [(r["id"], r["comp"]) for r in connected_components(pairs).collect()]
        with tr.span("dedup.containment", group="containment"):
            cp = containment_pairs(df, "doc_id", "text", ngram=3, threshold=0.999, max_df=8,
                                   hash_shingles=True, expand_buckets=True)
            out["containment"] = [(r["da"], r["db"]) for r in cp.collect()]
        with tr.span("dedup.winnow", group="winnow"):
            wp = shared_window_pairs(df, "doc_id", "text", window=5, min_shared=30, max_df=8)
            out["winnow"] = [(r["da"], r["db"]) for r in wp.collect()]
        return out

    def check(rec) -> None:
        out = rec["out"]
        if out is None:
            return
        rec["recall"] = {}
        for det in ("minhash", "containment", "winnow"):
            found = {(min(a, b), max(a, b)) for a, b in out[det]}
            if det == "containment" and any(a >= b for a, b in out[det]):
                run.check(rec["id"], "containment reported the containing side first")
            stray = found - planted
            if stray:
                run.check(rec["id"], f"{det} reported {len(stray)} unplanted pair(s)")
            rec["recall"][det] = len(found & planted) / len(planted)
            rec[f"pairs.{det}"] = len(out[det])
        comp = dict(out["components"])
        found = {(min(a, b), max(a, b)) for a, b in out["minhash"]}
        if any(comp.get(a) != a or comp.get(b) != a for a, b in found):
            run.check(rec["id"], "a found pair is not one component labelled by its base id")

    # a dedup pass is a batch job: the cold start is part of what users
    # wait for, so the first pass is measured
    tr.phase = "measure"
    recs, busy, i = [], 0.0, 0
    while busy < run.seconds:
        recs.append(run.call("dedup", f"dedup#{i}", pipeline))
        check(recs[-1])
        busy += recs[-1]["wall_s"]
        i += 1
    for r in recs:
        r.pop("out", None)
    ok = [r for r in recs if "recall" in r]
    walls = [r["wall_s"] for r in recs]
    per_layer = {f"dedup.{k}": median([r[k] for r in ok])
                 for k in ("pairs.minhash", "pairs.containment", "pairs.winnow") if ok}
    return {
        "setup_s": setup_s,
        # one op type, so the geometric mean is that type's median
        "op_geomean_ms": median(walls) * 1000,
        "items_per_s": docs.n * len(recs) / sum(walls),
        "quality": min((min(r["recall"].values()) for r in ok), default=0.0),
        "per_layer": per_layer,
        "planted_pairs": len(planted),
    }


WORKLOADS = {"search": run_search, "dedup": run_dedup}

#: span name -> (per-layer metric, scale from seconds)
SPAN_METRICS = {
    "npy.etl": ("npy.etl_s", 1.0),
    "halfvec.half": ("halfvec.half_s", 1.0),
    "halfvec.int8": ("halfvec.int8_s", 1.0),
    "ivf.fit": ("ivf.fit_s", 1.0),
    "ivf.write": ("ivf.write_s", 1.0),
    "ivf.plan": ("ivf.plan_ms", 1000.0),
    "ivf.exec": ("ivf.exec_ms", 1000.0),
    "ivf.join_plan": ("ivf.join_plan_ms", 1000.0),
    "ivf.join_exec": ("ivf.join_exec_ms", 1000.0),
    "knn.plan": ("knn.plan_ms", 1000.0),
    "dedup.minhash": ("dedup.minhash_s", 1.0),
    "dedup.components": ("dedup.components_s", 1.0),
    "dedup.containment": ("dedup.containment_s", 1.0),
    "dedup.winnow": ("dedup.winnow_s", 1.0),
}


def layer_metrics(run: Run, res: dict, session_s: float, events_dir: str | None) -> dict:
    """Every per-layer metric of ``spec`` but ``trace.overhead_pct``,
    which ``run.py`` supplies unless the workload measured it; a layer
    this workload never calls reads 0."""
    tr = run.tracer
    vals = {name: 0.0 for name, *_ in spec.per_layer() if name != "trace.overhead_pct"}
    vals["session.start_s"] = session_s
    for span, (metric, scale) in SPAN_METRICS.items():
        d = tr.durations(span)
        if d:
            vals[metric] = median(d) * scale
    # knn exec per lane: the knn.exec spans of each exact_* op kind
    by_op = {o["id"]: o["kind"] for o in tr.ops}
    rows = res.get("corpus_rows", 0)
    for lane in ("f32", "f16", "i8"):
        d = [s["end"] - s["start"] for s in tr.spans
             if s["name"] == "knn.exec" and s["phase"] == "measure"
             and by_op.get(s["op"]) == f"exact_{lane}"]
        if d:
            vals[f"knn.exec_ms.{lane}"] = median(d) * 1000
            vals[f"knn.rows_per_s.{lane}"] = rows / median(d)
    vals.update(res.get("per_layer", {}))
    if events_dir is not None:
        table = fold_event_log(read_event_log(events_dir), tr.group_walls())
        run.extra["stage_table"] = {k: v for k, v in table.items() if k != "_calls"}
        run.extra["stage_calls"] = len(table["_calls"])
        for op, fields in run.extra["stage_table"].items():
            for field, v in fields.items():
                name = f"spark.{op}.{field}"
                if name in vals:
                    vals[name] = v
        run.extra["self_ms"] = {k: v * 1000 for k, v in tr.self_times().items()}
    return vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SIZES), default="full")
    ap.add_argument("--root", required=True, help="scratch directory for this run")
    ap.add_argument("--out", required=True, help="where to write the result JSON")
    args = ap.parse_args(argv)

    sizes = SIZES[args.scale][args.workload]
    units = sizes.get("n_docs") or sizes["n_shards"] * sizes["rows_per_shard"]
    need_mb = units * DISK_PER_ROW[args.workload] // (1024 * 1024) + 64
    have_mb = host.free_disk_mb(args.root)
    if have_mb < need_mb:
        print(f"perfbench: insufficient free disk for {args.workload}: need {need_mb} MB, "
              f"have {have_mb} MB", file=sys.stderr)
        return 3

    t0 = time.perf_counter()
    from laion_spark.session import get_session

    spark = get_session("perfbench")
    session_s = time.perf_counter() - t0
    spark.sparkContext.setLogLevel("ERROR")
    run = Run(spark, Tracer(spark.sparkContext, enabled=bool(args.trace)), args.seed,
              args.seconds, args.root, sizes)
    try:
        res = WORKLOADS[args.workload](run)
        res["setup_s"] += session_s
        res["peak_rss_mb"] = host.peak_rss_mb(exclude=os.getpid())
    finally:
        spark.stop()
    events = os.environ.get("PERFBENCH_EVENT_DIR") if args.trace else None
    result = {
        "workload": args.workload,
        "seed": args.seed,
        "scale": args.scale,
        "sizes": sizes,
        "attempted": len(run.tracer.ops),
        "failed": len({op_id for op_id, _ in run.failures}),
        "failures": run.failures[:20],
        "e2e": {name: res[name] for name, *_ in spec.END_TO_END},
        "samples": {"ops": len(run.measured()), "by_kind": run.extra.get("samples")},
        "ops": [[o["id"], o["phase"], o["wall_s"] * 1000] for o in run.tracer.ops],
        "per_layer": layer_metrics(run, res, session_s, events) if args.trace else {},
        "extra": {k: v for k, v in run.extra.items() if k != "samples"},
    }
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1, default=float)
    return 0


if __name__ == "__main__":
    sys.exit(main())
