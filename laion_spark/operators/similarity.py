"""Similarity search over embedding columns (north star Q25/V9).

Three access paths, in increasing scale-awareness:

  - ``knn_search`` (operators.knn) — single-query brute force; the
    exact baseline.
  - ``knn_join`` — many queries x huge corpus: queries are collected
    (they are the SMALL side by contract) and broadcast inside an
    Arrow scorer that computes a per-batch distance matrix with BLAS
    and emits only each query's per-batch top-k; a final window takes
    the global top-k. Corpus never shuffles; traffic is
    O(n_queries * k * n_partitions) candidate rows.
  - ``RandomHyperplaneIndex`` — LSH-bucketed approximate search
    (the engine's answer to the reference's Annoy table,
    images/results_ridgeback_annoy_100m.png): sign-bit signatures on R
    random hyperplanes; queries probe their own bucket plus
    ``multiprobe`` single-bit flips, exact-rescoring only candidates.
    Recall-tested (>= 0.9 @ 10 on fixtures), never claimed exact
    (SURVEY.md hard part #4).

At 100 TB: bucket ids are computed at ingest and the table is
written partitioned/bucketed by signature band, so a probe reads only
matching partitions (partition pruning does the Annoy tree's job).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, Window as W, functions as F

from laion_spark.functions.vector import vec_lit
from laion_spark.operators.knn import flat_matrix, knn_search  # noqa: F401  (re-export)


def knn_join(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 10,
    corpus_vec: str = "embedding",
    query_vec: str = "embedding",
    corpus_id: str = "id",
    query_id: str = "id",
    metric: str = "l2",
    max_queries: int = 100_000,
    chunk_queries: bool = False,
) -> DataFrame:
    """Exact k nearest corpus rows for EACH query row.

    Output: (query_id, corpus_id, score) — ``k`` rows per query,
    total-ordered by (query_id, score, corpus_id).

    Queries are the SMALL side by contract — they are collected to the
    driver and closed over. ``max_queries`` enforces that contract
    (the guard itself only ever collects ``max_queries + 1`` rows, so
    an oversized query side fails fast instead of OOMing the driver).

    ``chunk_queries=True`` lifts the hard cap for serving-scale batches
    (VERDICT r9 #5): the query side is pulled through the driver via
    ``toLocalIterator`` in blocks of ``max_queries``, each block gets
    its own Arrow scorer pass, and the per-block top-k results are
    unioned — exact, because each query's k neighbors are computed
    entirely within its own block (qid sets are disjoint across
    blocks). The corpus still never shuffles; it is scanned once per
    block. What chunking bounds is PER-TASK CLOSURE bytes (one block's
    query matrix per scorer, never the whole batch) and Row overhead
    (each block's Rows are condensed to a float matrix before the next
    block is pulled); it does NOT bound driver-resident query bytes —
    the returned lazy union necessarily closes over every block's
    matrix (~dim x 8 B per query), so a batch beyond driver memory
    must run as separate jobs that persist each block's result before
    pulling the next (ADVICE r10).
    """
    if metric not in ("l2", "cosine"):
        raise ValueError("metric must be l2|cosine")
    from laion_spark.session import _ship_package

    _ship_package(corpus.sparkSession)  # scorer closure imports laion_spark on workers
    qid_t = queries.schema[query_id].dataType.simpleString()
    if chunk_queries:
        # build each block's plan as soon as its rows arrive: the plan
        # keeps only the condensed (ids, float-matrix) closure, so raw
        # Rows (several x the matrix bytes) never accumulate
        parts: list[DataFrame] = []
        buf: list = []
        for r in queries.select(query_id, query_vec).toLocalIterator():
            buf.append(r)
            if len(buf) >= max_queries:
                parts.append(_knn_join_block(
                    corpus, buf, k, corpus_vec, corpus_id, query_id, qid_t, metric
                ))
                buf = []
        if buf:
            parts.append(_knn_join_block(
                corpus, buf, k, corpus_vec, corpus_id, query_id, qid_t, metric
            ))
        if not parts:
            raise ValueError("queries DataFrame is empty")
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(query_id + "_q", "score", corpus_id + "_c")
    q_rows = queries.select(query_id, query_vec).limit(max_queries + 1).collect()
    if len(q_rows) > max_queries:
        raise ValueError(
            f"queries side exceeds max_queries={max_queries}; knn_join collects "
            "queries driver-side by contract — pre-aggregate or batch the query "
            "set (chunk_queries=True), or raise max_queries deliberately"
        )
    if not q_rows:
        raise ValueError("queries DataFrame is empty")
    return _knn_join_block(
        corpus, q_rows, k, corpus_vec, corpus_id, query_id, qid_t, metric
    ).orderBy(query_id + "_q", "score", corpus_id + "_c")


def _knn_join_block(
    corpus: DataFrame,
    q_rows: list,
    k: int,
    corpus_vec: str,
    corpus_id: str,
    query_id: str,
    qid_t: str,
    metric: str,
) -> DataFrame:
    """One ``knn_join`` query block: Arrow scorer over the corpus +
    per-query window top-k, WITHOUT the final global order (the caller
    orders once, over one block or a union of blocks)."""
    q_ids = [r[0] for r in q_rows]
    q_mat = [list(map(float, r[1])) for r in q_rows]
    dim = len(q_mat[0])

    pruned = corpus.select(corpus_id, corpus_vec)

    def score(batches):
        import numpy as np
        import pyarrow as pa

        Q = np.asarray(q_mat, dtype=np.float64)  # (m, dim)
        qn = np.linalg.norm(Q, axis=1)
        m = Q.shape[0]
        kk = k
        for rb in batches:
            vcol = rb.column(1)
            n = len(vcol)
            if n == 0:
                continue
            X = flat_matrix(vcol, dim)
            if metric == "l2":
                # (n, m) squared distances via ||x||^2 - 2XQ^T + ||q||^2
                d2 = (
                    np.einsum("ij,ij->i", X, X)[:, None]
                    - 2.0 * (X @ Q.T)
                    + np.einsum("ij,ij->i", Q, Q)[None, :]
                )
                np.maximum(d2, 0.0, out=d2)
                scores = np.sqrt(d2)
                order_best_first = True
            else:
                xn = np.linalg.norm(X, axis=1)
                denom = np.outer(xn, qn)
                with np.errstate(divide="ignore", invalid="ignore"):
                    scores = np.where(denom > 0, (X @ Q.T) / denom, -np.inf)
                order_best_first = False
            top = min(kk, n)
            ids = rb.column(0)
            out_q, out_c, out_s = [], [], []
            for j in range(m):
                col = scores[:, j]
                idx = (
                    np.argpartition(col, top - 1)[:top]
                    if order_best_first
                    else np.argpartition(-col, top - 1)[:top]
                )
                out_q.extend([q_ids[j]] * top)
                out_c.extend(ids.take(pa.array(idx)).to_pylist())
                out_s.extend(col[idx].tolist())
            yield pa.RecordBatch.from_arrays(
                [pa.array(out_q), pa.array(out_c), pa.array(out_s, type=pa.float64())],
                ["qid", "cid", "score"],
            )

    cid_t = corpus.schema[corpus_id].dataType.simpleString()
    partial = pruned.mapInArrow(score, f"qid {qid_t}, cid {cid_t}, score double")
    asc = metric == "l2"
    w = W.partitionBy("qid").orderBy(
        F.col("score").asc_nulls_last() if asc else F.col("score").desc_nulls_last(),
        F.col("cid").asc(),
    )
    return (
        partial.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") <= k)
        .select(
            F.col("qid").alias(query_id + "_q"),
            F.col("cid").alias(corpus_id + "_c"),
            F.round("score", 6).alias("score"),
        )
    )


class RandomHyperplaneIndex:
    """Multi-table sign-LSH index (OR-construction): table t assigns
    bucket_t = packed sign bits of <v, plane_{t,r}>; a query's
    candidates are the union over tables of its own bucket (plus
    optional single-bit multiprobe flips). More tables -> higher
    recall; more planes per table -> harder pruning. The standard
    angular-LSH trade (AND within a table, OR across tables).

    ``build`` adds one int column per table from deterministic seeded
    planes; ``search`` prunes with an OR-of-IN filter (pushdown-able;
    at scale, partition by ``lsh_b0`` so table 0's probe prunes
    partitions) and exact-rescoring only the candidates.
    """

    def __init__(self, dim: int, n_planes: int = 8, n_tables: int = 8, seed: int = 42):
        import numpy as np

        if not 0 < n_planes <= 30:
            raise ValueError("n_planes must be in 1..30")
        self.dim = dim
        self.n_planes = n_planes
        self.n_tables = n_tables
        rng = np.random.default_rng(seed)
        self.planes = rng.standard_normal((n_tables, n_planes, dim))

    def bucket_col(self, vector_col: str, table: int) -> F.Column:
        """Bucket id for one table as a Catalyst expression (JVM-side)."""
        from laion_spark.functions.vector import dot

        out = None
        for r in range(self.n_planes):
            d = dot(F.col(vector_col), vec_lit([float(x) for x in self.planes[table, r]]))
            bit = F.when(d >= 0, F.lit(1 << r)).otherwise(F.lit(0))
            out = bit if out is None else out + bit
        return out.cast("int")

    def build(self, df: DataFrame, vector_col: str = "embedding", prefix: str = "lsh_b") -> DataFrame:
        for t in range(self.n_tables):
            df = df.withColumn(f"{prefix}{t}", self.bucket_col(vector_col, t))
        return df

    def query_buckets(self, qvec: Sequence[float], table: int, multiprobe: int = 0) -> list[int]:
        import numpy as np

        q = np.asarray(list(qvec), dtype=np.float64)
        base = 0
        for r in range(self.n_planes):
            if float(self.planes[table, r] @ q) >= 0:
                base |= 1 << r
        buckets = [base]
        if multiprobe >= 1:
            buckets += [base ^ (1 << r) for r in range(self.n_planes)]
        return buckets

    def candidate_filter(self, qvec: Sequence[float], multiprobe: int = 0, prefix: str = "lsh_b"):
        cond = None
        for t in range(self.n_tables):
            c = F.col(f"{prefix}{t}").isin(self.query_buckets(qvec, t, multiprobe))
            cond = c if cond is None else cond | c
        return cond

    def search(
        self,
        indexed: DataFrame,
        qvec: Sequence[float],
        k: int = 10,
        vector_col: str = "embedding",
        select: Sequence[str] | None = None,
        multiprobe: int = 0,
        tiebreak: Sequence[str] = (),
        metric: str = "l2",
        prefix: str = "lsh_b",
    ) -> DataFrame:
        """Approximate top-k: prune to candidate buckets, exact-rescore."""
        cands = indexed.filter(self.candidate_filter(qvec, multiprobe, prefix))
        return knn_search(
            cands, list(qvec), k=k, vector_col=vector_col, select=select, metric=metric, tiebreak=tiebreak
        )


def recall_at_k(approx: DataFrame, exact: DataFrame, id_col: str) -> float:
    """|approx ∩ exact| / |exact| on the id column (driver-side; both
    inputs are k-row results)."""
    a = {r[0] for r in approx.select(id_col).collect()}
    e = {r[0] for r in exact.select(id_col).collect()}
    return len(a & e) / max(len(e), 1)


def embedding_near_dup_pairs(
    df: DataFrame,
    id_col: str = "id",
    vector_col: str = "embedding",
    threshold: float = 0.9,
    index: RandomHyperplaneIndex | None = None,
    dim: int | None = None,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (north star Q25): LSH
    bucket join for candidates, exact cosine verify.

    Plan: build per-table buckets -> explode to (table, bucket) ->
    self equi-join on (table, bucket) -> distinct candidate pairs ->
    exact cosine >= threshold. Only bucket collisions ever meet, so the
    pair stage is far from quadratic; at cos >= 0.9 the per-table
    collision probability is high (OR across tables catches the rest).
    Output: (ida, idb, cosine), ida < idb, ordered by cosine desc.

    The candidate stage is ID-ONLY: vectors never ride the (t, b)
    exchange or the candidate distinct (at 768-d float64 that would be
    ~6 KB x n_tables per row where 16 bytes of id suffice — VERDICT r4
    #1). The two vector columns are re-joined only for the exact-cosine
    verify, after the distinct has collapsed the n_tables-way fan-out.

    Contract: ``id_col`` must be unique. A duplicated id would fan each
    of its pairs back out through the vector re-join (the pre-r5 plan
    picked one of the duplicate vectors arbitrarily instead — neither
    behavior is meaningful; dedup ids first).
    """
    import numpy as np  # noqa: F401  (index construction)

    if index is None:
        if dim is None:
            raise ValueError("pass either index or dim")
        index = RandomHyperplaneIndex(dim=dim, n_planes=6, n_tables=6)
    built = index.build(df.select(id_col, vector_col), vector_col)
    bucket_cols = [f"lsh_b{t}" for t in range(index.n_tables)]
    banded = built.select(
        F.col(id_col).alias("_id"),
        F.explode(
            F.array(*[F.struct(F.lit(t).alias("t"), F.col(b).alias("b")) for t, b in enumerate(bucket_cols)])
        ).alias("tb"),
    ).select("_id", "tb.t", "tb.b")
    a = banded.select(F.col("_id").alias("ida"), "t", "b")
    bb = banded.select(F.col("_id").alias("idb"), "t", "b")
    cands = (
        a.join(bb, ["t", "b"])
        .filter(F.col("ida") < F.col("idb"))
        .select("ida", "idb")
        .dropDuplicates(["ida", "idb"])
    )
    vecs = df.select(F.col(id_col).alias("_vid"), F.col(vector_col).alias("_vv"))
    cands = (
        cands.join(vecs.select(F.col("_vid").alias("ida"), F.col("_vv").alias("_va")), "ida")
        .join(vecs.select(F.col("_vid").alias("idb"), F.col("_vv").alias("_vb")), "idb")
    )
    from laion_spark.functions.vector import cosine_similarity

    cos = cosine_similarity(F.col("_va"), F.col("_vb"))
    return (
        cands.select("ida", "idb", F.round(cos, 6).alias("cosine"))
        .filter(F.col("cosine") >= threshold)
        .orderBy(F.col("cosine").desc(), "ida", "idb")
    )


class IVFIndex:
    """Coarse-quantizer ANN (IVF-flat) — the partition-pruning access
    path (SURVEY.md §4.2's "k-means IVF buckets" candidate, the engine's
    second answer to the reference's Annoy table alongside
    ``RandomHyperplaneIndex``).

    ``fit`` learns ``n_clusters`` centroids with deterministic Lloyd
    iterations over a bounded sample (default 100k rows via plain
    ``limit`` — no global sort, no shuffle; init = the sample's first
    ``n_clusters`` rows; means via a posexplode group-by — numerically
    order-independent enough for assignment, which only compares
    distances). ``build`` stamps each
    row with its nearest-centroid id via the same Arrow batch scorer
    the kNN path uses (one (n x dim) @ (dim x C) GEMM per batch, no
    shuffle). ``search`` prunes to the ``nprobe`` centroids nearest the
    query and exact-rescoring only those rows.

    At 100 TB: fit on a bounded sample, ``build`` at ingest, write the
    table via ``write_index`` (``partitionBy("ivf_cluster")``) — a probe
    then reads ~nprobe/n_clusters of the bytes via partition pruning,
    which is exactly what the reference's ANN table does server-side
    (images/results_ridgeback_annoy_100m.png: 8.5x at 100 M rows).

    Layout matters twice over:

    * **Row-group size is the probe's parallelism grain** — the scan
      scorer (``knn_search_parquet``) splits per (file, row_group), so
      default ~128 MB groups leave sub-second straggler tasks on a
      skewed probe; ``write_index`` defaults to 32 MB groups (measured:
      1.8 s -> 1.1 s per probe at 4M x 768).
    * **Cluster sizes are skewed** (k-means merges dense regions), so
      the nominal nprobe/n_clusters byte fraction understates what an
      in-distribution probe reads — measure with the actual partition
      dir sizes, as bench.py does.

    Queries should come from the corpus distribution: recall against an
    out-of-distribution vector says nothing about the index (its true
    neighbors are lucky-noise points spread uniformly over clusters).
    """

    def __init__(self, dim: int, n_clusters: int = 16, n_iters: int = 2, nprobe: int = 3):
        self.dim = dim
        self.n_clusters = n_clusters
        self.n_iters = n_iters
        self.nprobe = nprobe
        self.centroids: list[list[float]] | None = None

    # -- fit ------------------------------------------------------------

    @staticmethod
    def _fit_sample(df: DataFrame, id_col: str, vector_col: str, fit_rows: int | None) -> DataFrame:
        """Bounded fit input with NO global sort/shuffle: a plain limit
        is LocalLimit + CollectLimit over the scan's stable partition
        order — at 100 TB the fit reads ~fit_rows rows, not the table.
        (The previous full-table ``orderBy(id)`` init was a
        scale-killer — VERDICT r1.)"""
        sample = df.select(id_col, vector_col)
        if fit_rows is not None:
            sample = sample.limit(fit_rows)
        return sample

    def fit(
        self,
        df: DataFrame,
        id_col: str = "id",
        vector_col: str = "embedding",
        fit_rows: int | None = 100_000,
    ) -> "IVFIndex":
        import numpy as np
        import pyarrow as pa

        from laion_spark.session import _ship_package

        _ship_package(df.sparkSession)
        sample = self._fit_sample(df, id_col, vector_col, fit_rows).cache()
        init = sample.limit(self.n_clusters).collect()
        if len(init) < self.n_clusters:
            raise ValueError(f"need >= {self.n_clusters} rows to fit, got {len(init)}")
        cents = [list(map(float, r[1])) for r in init]
        dim, n_c = self.dim, self.n_clusters
        for _ in range(self.n_iters):
            # Lloyd mean step as ONE partial-sum pass: each task assigns
            # its batches (GEMM) and accumulates per-cluster (count,
            # vector-sum) locally, emitting n_clusters tiny rows — the
            # previous posexplode->groupBy form pushed rows x dim
            # exploded records through a hash aggregate (~40 s/iter at
            # a 200k x 768 sample; this is ~2 s). Partials combine
            # driver-side sorted by partition id, so the float
            # summation order is fixed and the fit deterministic.
            cur = cents

            def partials(batches):
                from pyspark import TaskContext

                C = np.asarray(cur, dtype=np.float64)
                cc = np.einsum("ij,ij->i", C, C)
                counts = np.zeros(n_c, dtype=np.int64)
                sums = np.zeros((n_c, dim), dtype=np.float64)
                for rb in batches:
                    vcol = rb.column(rb.schema.get_field_index(vector_col))
                    if len(vcol) == 0:
                        continue
                    mat = flat_matrix(vcol, dim)
                    cid = np.argmin(cc[None, :] - 2.0 * (mat @ C.T), axis=1)
                    # segment-sum via stable sort + reduceat (r14):
                    # np.add.at is an unbuffered per-element scatter,
                    # ~50x slower than a vectorized pass at this shape
                    # (it dominated the ~90 s 200k-row fit). The stable
                    # sort preserves row order within each cluster, so
                    # each cluster's per-batch addend order is unchanged;
                    # only the batch -> accumulator grouping rounds
                    # differently (~1e-16 on the means — the fit is a
                    # clustering heuristic, nothing hash-matched depends
                    # on centroid bits).
                    counts += np.bincount(cid, minlength=n_c)
                    order = np.argsort(cid, kind="stable")
                    scid = cid[order]
                    starts = np.concatenate(
                        ([0], np.flatnonzero(np.diff(scid)) + 1)
                    )
                    sums[scid[starts]] += np.add.reduceat(mat[order], starts, axis=0)
                pid = TaskContext.get().partitionId()
                present = np.flatnonzero(counts)
                if len(present) == 0:
                    return
                offsets = pa.array(
                    np.arange(0, (len(present) + 1) * dim, dim, dtype=np.int32)
                )
                yield pa.RecordBatch.from_arrays(
                    [
                        pa.array(np.full(len(present), pid, dtype=np.int32)),
                        pa.array(present.astype(np.int32)),
                        pa.array(counts[present]),
                        pa.ListArray.from_arrays(offsets, pa.array(sums[present].ravel())),
                    ],
                    ["pid", "cluster", "n", "s"],
                )

            rows = sample.mapInArrow(
                partials, "pid int, cluster int, n long, s array<double>"
            ).collect()
            counts = np.zeros(n_c, dtype=np.int64)
            sums = np.zeros((n_c, dim), dtype=np.float64)
            for r in sorted(rows, key=lambda r: (r.pid, r.cluster)):
                counts[r.cluster] += r.n
                sums[r.cluster] += np.asarray(r.s)
            new = [list(c) for c in cents]  # empty clusters keep old center
            for cid in np.flatnonzero(counts):
                new[cid] = (sums[cid] / counts[cid]).tolist()
            cents = new
        sample.unpersist()
        self.centroids = cents
        return self

    # -- assignment (Arrow batch GEMM, partition-local) ------------------

    def _assign(self, df: DataFrame, vector_col: str, cents: list[list[float]]) -> DataFrame:
        import pyarrow as pa

        from laion_spark.session import _ship_package

        _ship_package(df.sparkSession)

        fields = ", ".join(f"`{f.name}` {f.dataType.simpleString()}" for f in df.schema.fields)
        out_schema = fields + ", ivf_cluster int"
        dim = self.dim
        names = [f.name for f in df.schema.fields]

        def assign(batches):
            import numpy as np

            C = np.asarray(cents, dtype=np.float64)  # (C, dim)
            cc = np.einsum("ij,ij->i", C, C)  # ||c||^2
            for rb in batches:
                vcol = rb.column(rb.schema.get_field_index(vector_col))
                n = len(vcol)
                if n == 0:
                    continue
                mat = flat_matrix(vcol, dim)
                # argmin_c ||x-c||^2 = argmin_c (||c||^2 - 2 x.c)
                cid = np.argmin(cc[None, :] - 2.0 * (mat @ C.T), axis=1).astype(np.int32)
                arrays = [rb.column(i) for i in range(rb.num_columns)]
                arrays.append(pa.array(cid, type=pa.int32()))
                yield pa.RecordBatch.from_arrays(arrays, names + ["ivf_cluster"])

        return df.mapInArrow(assign, out_schema)

    def build(self, df: DataFrame, vector_col: str = "embedding") -> DataFrame:
        if self.centroids is None:
            raise ValueError("call fit() first")
        return self._assign(df, vector_col, self.centroids)

    def write_index(
        self,
        df: DataFrame,
        path: str,
        vector_col: str = "embedding",
        row_group_bytes: int = 32 * 1024 * 1024,
        mode: str = "overwrite",
    ) -> None:
        """Stamp cluster ids and write the partition-pruned table: one
        parquet dir per cluster, ``row_group_bytes`` row groups (the
        probe's split granularity — see class docstring).

        ``mode="append"`` adds this df's rows to an existing layout
        (each cluster dir gains one more file) — the incremental-ingest
        shape, and how a build whose transient footprint (cluster
        shuffle + sort spill + output, ~3x the raw bytes) exceeds free
        disk runs as bounded slices: N passes over disjoint id ranges
        keep the in-flight bytes at ~3x raw/N while the table grows to
        its final size."""
        (
            self.build(df, vector_col)
            .repartition(self.n_clusters, F.col("ivf_cluster"))
            .write.mode(mode)
            .option("parquet.block.size", int(row_group_bytes))
            .partitionBy("ivf_cluster")
            .parquet(path)
        )
        self._scan_cache = None  # table changed — probes must re-list

    def probe_dirs(self, path: str, qvec: Sequence[float], nprobe: int | None = None) -> list[str]:
        """Partition dirs a probe should read for ``qvec`` — feed to
        ``knn_search_parquet`` (missing dirs = empty clusters are
        skipped by its listing)."""
        return [f"{path}/ivf_cluster={p}" for p in self.probe_clusters(qvec, nprobe)]

    def scan_plans(self, path: str, refresh: bool = False):
        """Per-cluster (file, row_group) task lists for a ``write_index``
        table, listed and footer-enumerated ONCE and cached on the index
        object. A probe's fixed driver cost then drops to assembling its
        nprobe task lists (list concatenation) — the serving-loop
        amortization the reference's resident Annoy index gets for free
        by mmapping once per process. ``write_index`` invalidates the
        cache; call with ``refresh=True`` after rewriting the table
        out-of-band."""
        import pyarrow.parquet as pq

        from laion_spark.operators.knn import _list_parquet_files

        cache = getattr(self, "_scan_cache", None)
        if not refresh and cache is not None and cache[0] == path:
            return cache[1]
        fs, files, remote = _list_parquet_files([path])

        def cluster_of(f: str) -> int:
            parts = [s for s in f.split("/") if s.startswith("ivf_cluster=")]
            return int(parts[-1].split("=", 1)[1]) if parts else -1

        by_c: dict[int, list[tuple[str, int]]] = {}
        if len(files) <= 4096:  # one-time cost, so a larger bound than per-probe
            for f in files:
                c = cluster_of(f)
                try:
                    n_rg = pq.ParquetFile(fs.open_input_file(f)).metadata.num_row_groups
                    by_c.setdefault(c, []).extend((f, g) for g in range(n_rg))
                except OSError:
                    by_c.setdefault(c, []).append((f, -1))
        else:
            for f in files:
                by_c.setdefault(cluster_of(f), []).append((f, -1))
        arrow_schema = pq.ParquetFile(fs.open_input_file(files[0])).schema_arrow
        info = {"fs": fs, "remote": remote, "by_cluster": by_c, "schema": arrow_schema}
        self._scan_cache = (path, info)
        return info

    def tune_nprobe(
        self,
        spark,
        path: str,
        query_vecs: Sequence[Sequence[float]],
        k: int = 10,
        target_recall: float = 0.95,
        widths: Sequence[int] = (1, 2, 3, 4, 6, 8),
        exact_path: str | None = None,
        vector_col: str = "embedding",
        id_col: str = "id",
    ) -> tuple[int, float]:
        """Recall-targeted probe-width selection — how ANN indexes are
        tuned in practice: ground truth comes from exact scans of the
        sample queries (a one-time tuning cost), then the smallest
        ``nprobe`` whose recall@k over the sample meets
        ``target_recall`` wins. Returns (nprobe, measured recall); if
        no width reaches the target the widest is returned with its
        recall — callers decide whether that is acceptable.
        ``exact_path`` defaults to the index table itself (same rows);
        pass the unpartitioned source table to avoid reading the
        Hive-partition layout for the brute-force pass."""
        from laion_spark.operators.knn import knn_search_parquet

        if not query_vecs:
            raise ValueError("tune_nprobe needs at least one sample query vector")
        truth = [
            {r[0] for r in knn_search_parquet(
                spark, exact_path or path, list(v), k=k,
                vector_col=vector_col, select=[id_col],
            ).collect()}
            for v in query_vecs
        ]
        recall = 0.0
        for w in widths:
            hits = sum(
                len(t & {r[0] for r in self.search_parquet(
                    spark, path, list(v), k=k, vector_col=vector_col,
                    select=[id_col], nprobe=w,
                ).collect()})
                for v, t in zip(query_vecs, truth)
            )
            recall = hits / (k * len(truth))
            if recall >= target_recall:
                return w, recall
        return widths[-1], recall

    def search_parquet(
        self,
        spark,
        path: str,
        qvec: Sequence[float],
        k: int = 10,
        vector_col: str = "embedding",
        select: Sequence[str] | None = None,
        metric: str = "l2",
        nprobe: int | None = None,
        scale_col: str | None = None,
    ):
        """Single-probe ANN over a ``write_index`` table with the cached
        scan plan: prunes to the nprobe nearest clusters' (file,
        row_group) splits and exact-rescoring only those — same results
        as ``knn_search_parquet(probe_dirs(...))``, minus the per-probe
        listing/footer cost (the fixed ~0.1-0.2 s that capped measured
        single-probe speedup at 4M rows)."""
        from laion_spark.operators.knn import ScanPlan, knn_search_parquet

        info = self.scan_plans(path)
        probes = self.probe_clusters(qvec, nprobe)
        tasks = [t for c in probes for t in info["by_cluster"].get(c, [])]
        if not tasks:
            raise FileNotFoundError(
                f"no parquet files in probed clusters {probes} under {path}"
            )
        files = sorted({f for f, _g in tasks})
        plan = ScanPlan(info["fs"], files, info["remote"], tasks, info["schema"])
        return knn_search_parquet(
            spark, path, qvec, k=k, vector_col=vector_col, select=select,
            metric=metric, plan=plan, scale_col=scale_col,
        )

    def knn_join_parquet(
        self,
        spark,
        path: str,
        queries: DataFrame,
        k: int = 10,
        query_id: str = "id",
        query_vec: str = "embedding",
        corpus_id: str = "id",
        vector_col: str = "embedding",
        metric: str = "l2",
        nprobe: int | None = None,
        max_queries: int = 4096,
        scale_col: str | None = None,
        chunk_queries: bool = False,
    ) -> DataFrame:
        """Batched ANN join: approximate k nearest corpus rows for EACH
        query row, over a ``write_index``-layout table — the asymmetric
        many-queries x huge-corpus case (e.g. linking a 1M-item batch
        against a 100M-row corpus).

        ``chunk_queries=True`` lifts the ``max_queries`` cap the same
        way ``knn_join`` does (r10): the query side is split into blocks
        of ``max_queries``, each block runs its own routed join (bytes
        still bounded by that block's probed clusters), and the
        per-block top-k results are unioned — exact relative to the
        unchunked join because every query's neighbors are computed
        entirely within its own block. Chunking bounds per-task closure
        bytes, not driver-resident query bytes: the query side is
        collected once as Arrow, and the lazy union closes over every
        block's matrix, so batches beyond driver memory must persist
        per-block results as separate jobs (ADVICE r10).

        Routing happens driver-side: each query probes its ``nprobe``
        nearest clusters, inverting to cluster -> query set. Each
        (file, row_group) split of an involved cluster is then scanned
        ONCE, scoring all of that cluster's queries in one GEMM — total
        bytes read are bounded by the union of probed clusters
        regardless of query count, vs ``knn_join``'s full-corpus scan.
        Only O(splits x queries_per_cluster x k) partial rows reach the
        final per-query top-k; the corpus never shuffles.

        Output matches ``knn_join``: (query_id+"_q", corpus_id+"_c",
        score), k rows per query, total-ordered — so exact-vs-ANN
        recall is a direct set comparison. Approximate by construction:
        recall-tested, never hash-matched (SURVEY §5.2).
        """
        if metric not in ("l2", "cosine"):
            raise ValueError("metric must be l2|cosine")
        if self.centroids is None:
            raise ValueError("call fit() first")
        from laion_spark.session import _ship_package

        _ship_package(spark)
        # one job: toArrow runs the limit as a single shuffle-to-one
        # stage, where collect() of a limit (CollectLimit) scans one
        # partition first and then the rest as a second job
        src = queries.select(query_id, query_vec)
        q_tbl = (src if chunk_queries else src.limit(max_queries + 1)).toArrow()
        if q_tbl.num_rows > max_queries and not chunk_queries:
            raise ValueError(
                f"queries side exceeds max_queries={max_queries}; batch the query "
                "set (chunk_queries=True) or raise max_queries deliberately"
            )
        if not q_tbl.num_rows:
            raise ValueError("queries DataFrame is empty")
        from laion_spark.operators.knn import flat_matrix

        q_ids = q_tbl.column(0).to_pylist()
        # float64 (n, dim); raises on a NULL or wrong-length query vector
        q_mat = flat_matrix(q_tbl.column(1).combine_chunks(), self.dim)
        qid_t = queries.schema[query_id].dataType.simpleString()
        parts = [
            self._knn_join_parquet_block(
                spark, path, q_ids[i:i + max_queries], q_mat[i:i + max_queries], qid_t,
                k=k, query_id=query_id, corpus_id=corpus_id, vector_col=vector_col,
                metric=metric, nprobe=nprobe, scale_col=scale_col,
            )
            for i in range(0, len(q_ids), max_queries)
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out.orderBy(query_id + "_q", "score", corpus_id + "_c")

    def _knn_join_parquet_block(
        self,
        spark,
        path: str,
        q_ids: list,
        q_mat,
        qid_t: str,
        k: int = 10,
        query_id: str = "id",
        corpus_id: str = "id",
        vector_col: str = "embedding",
        metric: str = "l2",
        nprobe: int | None = None,
        scale_col: str | None = None,
    ) -> DataFrame:
        """One ``knn_join_parquet`` block: the per-query top-k of the
        queries ``q_ids`` / ``q_mat`` (float64, one row per id), unsorted
        — the caller unions the blocks and sorts once. ``q_mat`` rides
        the task closure as one compact buffer."""
        import numpy as np

        # driver-side routing: cluster -> query indices. Vectorized (r14):
        # one (queries x centroids) distance matrix via the dot identity
        # replaces a per-query probe_clusters call (each of which
        # allocated its own C - q temporary); the identity's rounding
        # differs from the direct form only at ~1e-12 relative, so a
        # routing flip needs a near-exact centroid-distance tie
        C = np.asarray(self.centroids, dtype=np.float64)
        n_probe_eff = self.nprobe if nprobe is None else nprobe
        d_qc = (
            np.einsum("ij,ij->i", C, C)[None, :]
            - 2.0 * (q_mat @ C.T)
            + np.einsum("ij,ij->i", q_mat, q_mat)[:, None]
        )
        probe_order = np.argsort(d_qc, axis=1, kind="stable")[:, :n_probe_eff]
        by_cluster: dict[int, list[int]] = {}
        for qi in range(q_mat.shape[0]):
            for c in probe_order[qi]:
                by_cluster.setdefault(int(c), []).append(qi)

        # cluster -> task lists come from the CACHED one-time listing
        # (scan_plans); missing cluster = empty, skipped
        info = self.scan_plans(path)
        fs = info["fs"]
        tasks: list[tuple[str, int, int]] = [
            (f, g, c)
            for c in sorted(by_cluster)
            for (f, g) in info["by_cluster"].get(c, [])
        ]
        if not tasks:
            raise FileNotFoundError(
                f"no parquet files in probed clusters {sorted(by_cluster)} under {path}"
            )
        arrow_schema = info["schema"]
        import pyarrow as pa

        vtype = arrow_schema.field(vector_col).type
        if (
            scale_col is None
            and pa.types.is_fixed_size_binary(vtype)
            and vtype.byte_width == self.dim
        ):
            # same guard as knn_search_parquet: SQ8 codes scored without
            # their scale would silently rank raw int8 — wrong neighbors,
            # no crash (ADVICE r9)
            raise ValueError(
                f"{vector_col!r} is fixed_size_binary({vtype.byte_width}) = packed "
                f"int8 codes for dim={self.dim}; pass scale_col "
                f"(write_int8_table stores it as '{vector_col}_scale')"
            )
        from laion_spark.operators.knn import _arrow_to_ddl

        cid_t = _arrow_to_ddl(arrow_schema.field(corpus_id).type)
        dim = self.dim
        kk = k
        batch_rows = max(256, 196_608 // dim)  # cache-blocked, as in knn_search_parquet

        def score_split(batches):
            import numpy as np
            import pyarrow as pa
            import pyarrow.parquet as pq  # noqa: F811

            from laion_spark.operators.knn import flat_matrix

            # Two-stage scorer (r14, guide §4.2): float32 GEMM SELECTION
            # over the whole (batch x cluster-queries) score matrix, then
            # an exact float64 rescore of only the selected candidates in
            # the direct sum((a-q)^2) form the exact paths use. Replaces
            # a per-query Python loop (argpartition + Arrow take +
            # to_pylist PER QUERY PER BATCH — ~500k interpreter
            # iterations for a 2048-query join over 8M rows) with a few
            # vectorized calls per batch. The candidate set provably
            # contains each query's true per-batch top-k: every row whose
            # f32 d^2 is within the forward-error margin of the f32 k-th
            # is kept (same eps bound as knn_search_parquet).
            Qfull = np.asarray(q_mat, dtype=np.float64)
            Qfull32 = Qfull.astype(np.float32)
            u32 = 6.0e-8
            for rb in batches:
                # range-leaf dispatch (see knn_search_parquet): the
                # batch holds group id(s); tasks ride the closure.
                # task_groups=None = task-table mode for huge listings
                if task_groups is not None:
                    assigned = [
                        t for gid in rb.column(0).to_pylist() for t in task_groups[gid]
                    ]
                else:
                    assigned = list(zip(
                        rb.column(0).to_pylist(), rb.column(1).to_pylist(), rb.column(2).to_pylist()
                    ))
                for fpath, rg, cl in assigned:
                    qidx = by_cluster.get(cl)
                    if not qidx:
                        continue
                    Q = Qfull[qidx]  # (m_c, dim)
                    Q32 = Qfull32[qidx]
                    qq = np.einsum("ij,ij->i", Q, Q)
                    qq32 = qq.astype(np.float32)
                    qn = np.sqrt(qq)
                    qid_arr = np.asarray([q_ids[qi] for qi in qidx])
                    pf = pq.ParquetFile(fs.open_input_file(fpath))
                    rgs = [rg] if rg >= 0 else range(pf.metadata.num_row_groups)
                    out_q: list = []
                    out_c: list = []
                    out_s: list = []
                    read_cols = [corpus_id, vector_col] + (
                        [scale_col] if scale_col is not None else []
                    )
                    for b in pf.iter_batches(
                        batch_size=batch_rows, row_groups=rgs,
                        columns=read_cols, use_threads=False,
                    ):
                        vcol = b.column(b.schema.get_field_index(vector_col))
                        n = len(vcol)
                        if n == 0:
                            continue
                        raw32 = flat_matrix(vcol, dim, np.float32)
                        if scale_col is not None:  # SQ8 dequantize
                            scales = (
                                b.column(b.schema.get_field_index(scale_col))
                                .to_numpy(zero_copy_only=False)
                                .astype(np.float64, copy=False)
                            )
                            X32 = raw32 * scales[:, None].astype(np.float32)
                        else:
                            scales = None
                            X32 = raw32
                        top = min(kk, n)
                        nrm32 = np.einsum("ij,ij->i", X32, X32, dtype=np.float32)
                        if metric == "l2":
                            d2 = nrm32[:, None] - 2.0 * (X32 @ Q32.T) + qq32[None, :]
                            finite = np.isfinite(d2)
                            if not finite.all():
                                d2 = np.where(finite, d2, np.float32(np.inf))
                            kth = np.partition(d2, top - 1, axis=0)[top - 1]  # (m_c,)
                            fin = np.isfinite(nrm32)
                            max_nrm = float(nrm32[fin].max()) if fin.any() else 0.0
                            eps = dim * u32 * (np.sqrt(max_nrm) + qn) ** 2
                            rows, qs = np.nonzero(d2 <= kth[None, :] + 4.0 * eps[None, :])
                        else:
                            xn32 = np.sqrt(nrm32)
                            denom = np.outer(xn32, qn.astype(np.float32))
                            with np.errstate(divide="ignore", invalid="ignore"):
                                sim = np.where(denom > 0, (X32 @ Q32.T) / denom, -np.inf)
                            if np.isnan(sim).any():
                                sim = np.where(np.isnan(sim), -np.inf, sim)
                            kth = -np.partition(-sim, top - 1, axis=0)[top - 1]
                            # |cos| <= 1: a constant forward-error margin
                            # covers the normalized f32 dot
                            rows, qs = np.nonzero(sim >= kth[None, :] - 4.0 * dim * u32)
                        # exact float64 rescore of the candidates only
                        if scales is not None:
                            Xc = raw32[rows].astype(np.float64) * scales[rows, None]
                        else:
                            Xc = raw32[rows].astype(np.float64)
                        Qc = Q[qs]
                        if metric == "l2":
                            d = Xc - Qc
                            s = np.sqrt(np.einsum("ij,ij->i", d, d))
                        else:
                            # zero-norm rows score -inf (rank last under
                            # desc), matching the selection-stage guard
                            dnm = np.linalg.norm(Xc, axis=1) * qn[qs]
                            with np.errstate(divide="ignore", invalid="ignore"):
                                s = np.where(
                                    dnm > 0,
                                    np.einsum("ij,ij->i", Xc, Qc) / dnm,
                                    -np.inf,
                                )
                        ids_np = (
                            b.column(b.schema.get_field_index(corpus_id))
                            .to_numpy(zero_copy_only=False)
                        )
                        out_q.append(qs)
                        out_c.append(ids_np[rows])
                        out_s.append(s)
                    if out_q:
                        qs_all = np.concatenate(out_q)
                        yield pa.RecordBatch.from_arrays(
                            [
                                pa.array(qid_arr[qs_all]),
                                pa.array(np.concatenate(out_c)),
                                pa.array(np.concatenate(out_s), type=pa.float64()),
                            ],
                            ["qid", "cid", "score"],
                        )

        # shuffle-free range leaf, one row per partition; round-robin
        # interleaves each cluster's row groups across the wave. Huge
        # listings fall back to the task-table shuffle so the closure
        # stays small (see knn_search_parquet)
        from laion_spark.operators.knn import _TASKS_INLINE_MAX

        n_parts = max(1, min(len(tasks), spark.sparkContext.defaultParallelism))
        if len(tasks) <= _TASKS_INLINE_MAX:
            task_groups = [tasks[i::n_parts] for i in range(n_parts)]
            base = spark.range(0, n_parts, 1, n_parts)
        else:
            task_groups = None
            base = spark.createDataFrame(tasks, "path string, row_group int, cluster int")
            if n_parts > 1:
                base = base.repartition(n_parts)
        partial = base.mapInArrow(score_split, f"qid {qid_t}, cid {cid_t}, score double")
        asc = metric == "l2"
        w = W.partitionBy("qid").orderBy(
            F.col("score").asc_nulls_last() if asc else F.col("score").desc_nulls_last(),
            F.col("cid").asc(),
        )
        # the partials are O(splits x queries x k) rows: gather them into
        # one partition, which satisfies both the window's clustering and
        # the caller's orderBy — no hash exchange, no range-partition
        # sampling job
        return (
            partial.repartition(1)
            .withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") <= k)
            .select(
                F.col("qid").alias(query_id + "_q"),
                F.col("cid").alias(corpus_id + "_c"),
                F.round("score", 6).alias("score"),
            )
        )

    # -- search ----------------------------------------------------------

    def probe_clusters(self, qvec: Sequence[float], nprobe: int | None = None) -> list[int]:
        """Driver-side: ids of the nprobe centroids nearest the query."""
        import numpy as np

        if self.centroids is None:
            raise ValueError("call fit() first")
        C = np.asarray(self.centroids, dtype=np.float64)
        q = np.asarray(list(qvec), dtype=np.float64)
        d = np.einsum("ij,ij->i", C - q, C - q)
        n = self.nprobe if nprobe is None else nprobe
        return [int(i) for i in np.argsort(d, kind="stable")[:n]]

    def search(
        self,
        indexed: DataFrame,
        qvec: Sequence[float],
        k: int = 10,
        vector_col: str = "embedding",
        select: Sequence[str] | None = None,
        metric: str = "l2",
        nprobe: int | None = None,
        tiebreak: Sequence[str] = (),
    ) -> DataFrame:
        probes = self.probe_clusters(qvec, nprobe)
        cands = indexed.filter(F.col("ivf_cluster").isin(probes))
        if select is not None:
            cands = cands.select(*select, vector_col)
        return knn_search(
            cands, list(qvec), k=k, vector_col=vector_col, select=select, metric=metric, tiebreak=tiebreak
        )
