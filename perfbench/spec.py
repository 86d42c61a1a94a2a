"""Every metric the benchmark reports: name, unit, direction, and for
each per-layer metric the layer it times and the end-to-end metric it
should move. ``BENCHMARK.json`` is generated from this module::

    python3 -m perfbench.spec > BENCHMARK.json
"""

from __future__ import annotations

import json

COMMAND = ["python3", "perfbench/run.py"]
PATHS = ["perfbench"]
RUN_SECONDS = 5

WORKLOADS = [
    ("search", "product use: a warm session serves exact f32/f16/int8 scans, IVF probes and joins, and "
               "DataFrame-lane queries over 8k x 768-d rows that set-up ingests from raw shards"),
    ("dedup", "shuffle-bound, no vector kernel: one cold batch of MinHash LSH, components, "
              "containment and winnowing over 10k docs with 2k planted near-duplicate pairs"),
]

#: (name, unit, better, bound) — each workload reports every one; the
#: op, item and quality of each workload are defined in perfbench/README.md
END_TO_END = [
    ("setup_s", "s", "lower", 0.25),
    ("op_geomean_ms", "ms", "lower", 0.25),
    ("items_per_s", "1/s", "higher", 0.25),
    ("quality", "ratio", "higher", 0.075),
    ("peak_rss_mb", "MB", "lower", 0.2),
]

#: (name, unit, better, layer, end-to-end metric it should move)
LAYER = [
    ("session.start_s", "s", "lower", "session", "setup_s"),
    ("npy.etl_s", "s", "lower", "sources.npy", "items_per_s, setup_s (search)"),
    ("npy.bytes_written", "B", "lower", "sources.npy", "store.bytes_per_input_byte"),
    ("halfvec.half_s", "s", "lower", "sources.halfvec", "items_per_s, setup_s (search)"),
    ("halfvec.int8_s", "s", "lower", "sources.halfvec", "items_per_s, setup_s (search)"),
    ("halfvec.bytes_written", "B", "lower", "sources.halfvec", "store.bytes_per_input_byte"),
    ("ivf.fit_s", "s", "lower", "operators.similarity", "items_per_s, setup_s (search)"),
    ("ivf.write_s", "s", "lower", "operators.similarity", "items_per_s, setup_s (search)"),
    ("ivf.cluster_skew", "ratio", "lower", "operators.similarity", "op.ann_tail_ms, op.recall_at_10"),
    ("ivf.plan_ms", "ms", "lower", "operators.similarity", "op.ann_p50_ms"),
    ("ivf.exec_ms", "ms", "lower", "operators.similarity", "op.ann_p50_ms"),
    ("ivf.bytes_frac", "ratio", "lower", "operators.similarity", "op.ann_p50_ms vs op.recall_at_10"),
    ("ivf.join_plan_ms", "ms", "lower", "operators.similarity", "op.ann_batch_p50_ms"),
    ("ivf.join_exec_ms", "ms", "lower", "operators.similarity", "op.ann_batch_p50_ms"),
    ("knn.plan_ms", "ms", "lower", "operators.knn", "op.exact_*_p50_ms"),
    *[
        row
        for t in ("f32", "f16", "i8")
        for row in (
            (f"knn.exec_ms.{t}", "ms", "lower", "operators.knn", f"op.exact_{t}_p50_ms"),
            (f"knn.rows_per_s.{t}", "1/s", "higher", "operators.knn", f"op.exact_{t}_p50_ms"),
            (f"store.scan_bytes.{t}", "B", "lower", "stored layout",
             "store.bytes_per_input_byte"),
        )
    ],
    ("search.generation_ms", "ms", "lower", "operators.search/plans.concept", "op.frame_p50_ms"),
    ("search.query_ms", "ms", "lower", "operators.search", "op.frame_p50_ms"),
    ("search.plan_ms", "ms", "lower", "operators.search", "op.frame_p50_ms"),
    ("dedup.minhash_s", "s", "lower", "operators.dedup", "items_per_s (dedup)"),
    ("dedup.components_s", "s", "lower", "operators.dedup", "items_per_s (dedup)"),
    ("dedup.containment_s", "s", "lower", "operators.dedup", "items_per_s (dedup)"),
    ("dedup.winnow_s", "s", "lower", "operators.dedup", "items_per_s (dedup)"),
    ("dedup.pairs.minhash", "count", "higher", "operators.dedup", "quality (dedup)"),
    ("dedup.pairs.containment", "count", "higher", "operators.dedup", "quality (dedup)"),
    ("dedup.pairs.winnow", "count", "higher", "operators.dedup", "quality (dedup)"),
    # the search mix split by op type
    ("op.exact_f32_p50_ms", "ms", "lower", "search mix", "op_geomean_ms (search)"),
    ("op.exact_f16_p50_ms", "ms", "lower", "search mix", "op_geomean_ms (search)"),
    ("op.exact_i8_p50_ms", "ms", "lower", "search mix", "op_geomean_ms (search)"),
    ("op.ann_p50_ms", "ms", "lower", "search mix", "op_geomean_ms (search)"),
    ("op.ann_tail_ms", "ms", "lower", "search mix", "op.ann_p50_ms"),
    ("op.ann_tail_pct", "%", "higher", "search mix", "op.ann_tail_ms (the percentile it reads)"),
    ("op.ann_batch_p50_ms", "ms", "lower", "search mix", "op_geomean_ms (search)"),
    ("op.frame_p50_ms", "ms", "lower", "search mix", "op_geomean_ms (search)"),
    ("op.recall_at_10", "ratio", "higher", "search mix", "quality (search)"),
    ("store.bytes_per_input_byte", "B/B", "lower", "all writers", "setup_s (search)"),
    ("ingest.fidelity", "ratio", "higher", "sources.halfvec", "op.exact_f16/i8 answers"),
    ("trace.overhead_pct", "%", "lower", "benchmark", "none: traced against untraced op wall time"),
]

#: Spark job groups (one per public call) -> the metric each should move
SPARK_OPS = {
    "exact_f32": "op.exact_f32_p50_ms",
    "exact_f16": "op.exact_f16_p50_ms",
    "exact_i8": "op.exact_i8_p50_ms",
    "ann": "op.ann_p50_ms",
    "ann_batch": "op.ann_batch_p50_ms",
    "frame": "op.frame_p50_ms",
    "etl": "npy.etl_s",
    "half": "halfvec.half_s",
    "int8": "halfvec.int8_s",
    "ivf_fit": "ivf.fit_s",
    "ivf_write": "ivf.write_s",
    "minhash": "dedup.minhash_s",
    "components": "dedup.components_s",
    "containment": "dedup.containment_s",
    "winnow": "dedup.winnow_s",
}
SPARK_UNITS = {
    "tasks": ("count", "lower"),
    "cpu_frac": ("ratio", "higher"),
    "gc_ms": ("ms", "lower"),
    "overhead_ms": ("ms", "lower"),
    "shuffle_bytes": ("B", "lower"),
    "spill_bytes": ("B", "lower"),
}
#: fields that read zero on every run on the reference host — nothing
#: spills at these sizes, and the scan-lane and DataFrame-lane queries
#: plan no exchange — left out so the list stays within 128 metrics
SPARK_ZERO = {(op, "spill_bytes") for op in SPARK_OPS} | {
    (op, "shuffle_bytes") for op in ("exact_f32", "exact_f16", "exact_i8", "ann", "frame")
}


def spark_metrics() -> list[tuple[str, str, str, str, str]]:
    return [
        (f"spark.{op}.{field}", unit, better, "spark engine", moves)
        for op, moves in SPARK_OPS.items()
        for field, (unit, better) in SPARK_UNITS.items()
        if (op, field) not in SPARK_ZERO
    ]


def per_layer() -> list[tuple[str, str, str, str, str]]:
    return LAYER + spark_metrics()


def benchmark_json() -> dict:
    return {
        "command": COMMAND,
        "paths": PATHS,
        "run_seconds": RUN_SECONDS,
        "workloads": [{"name": n, "why": w} for n, w in WORKLOADS],
        "end_to_end": [
            {"name": n, "unit": u, "better": b, "bound": bound} for n, u, b, bound in END_TO_END
        ],
        "per_layer": [{"name": n, "unit": u, "better": b} for n, u, b, _l, _m in per_layer()],
    }


if __name__ == "__main__":
    print(json.dumps(benchmark_json(), indent=2))
