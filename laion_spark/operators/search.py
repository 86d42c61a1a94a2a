"""Search API — the reference's three entry points rebuilt Spark-first
(SURVEY.md §3.1-§3.2, search.py:38-57, 107-114).

Cross-modal routing (V8): text queries score against
``image_embedding``, image queries against ``text_embedding``, concept
math against ``image_embedding`` (search.py:44, 55, 112) — text and
image embeddings live in one joint space, so the two vector columns are
interchangeable operands of the same distance.

Lifecycle per query (replaces the reference's SQL f-string codegen,
search.py:20-26):
    encode (driver, once; concept math folds to one literal vector) ->
    a fixed-size plan: parquet scan (pruned columns, pushed filter) ->
    one ``mapInArrow`` numpy scorer holding the query vector ->
    TakeOrderedAndProject(k) -> collect k rows.
The plan does not grow with dim, so a new query vector costs no
Catalyst/Janino recompile (knn.py module docstring has the numbers).
Stats mirror the reference's ``query_time``/``generation_time``
(results.html:176-188, search.py:35,43-45).
"""

from __future__ import annotations

import time
from collections.abc import Sequence
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Row

from laion_spark.operators.knn import knn_search
from laion_spark.plans.concept import eval_concept


@dataclass
class SearchResult:
    rows: list[Row]
    generation_time: float  # encoder seconds (search.py:43-45)
    query_time: float  # engine seconds (search.py:35)
    k: int
    scored_column: str

    def to_dicts(self, round_score: int = 3) -> list[dict]:
        """Row dicts with the reference's display rounding
        (search.py:31 rounds score to 3)."""
        out = []
        for r in self.rows:
            d = r.asDict()
            if "score" in d and d["score"] is not None:
                d["score"] = round(d["score"], round_score)
            out.append(d)
        return out


def collect_result(plan: DataFrame, gen_time: float, k: int, vector_col: str) -> SearchResult:
    """Execute a prepared top-k plan and wrap rows + the reference's
    stat-box timings (search.py:35,43-45). Shared by the df-based
    search functions and the CLI's scan-path lane."""
    t0 = time.perf_counter()
    rows = plan.collect()
    return SearchResult(
        rows=rows,
        generation_time=round(gen_time, 3),
        query_time=round(time.perf_counter() - t0, 3),
        k=k,
        scored_column=vector_col,
    )


def _run(
    df: DataFrame,
    qvec: Sequence[float],
    vector_col: str,
    k: int,
    filter: str | None,
    select: Sequence[str] | None,
    gen_time: float,
    tiebreak: Sequence[str],
) -> SearchResult:
    plan = knn_search(
        df, qvec, k=k, vector_col=vector_col, filter=filter, select=select, tiebreak=tiebreak
    )
    return collect_result(plan, gen_time, k, vector_col)


def search_text(
    df: DataFrame,
    text: str,
    encoder,
    k: int = 10,
    filter: str | None = None,
    select: Sequence[str] = ("url", "caption"),
    vector_col: str = "image_embedding",
    tiebreak: Sequence[str] = (),
) -> SearchResult:
    """Text query -> encode -> top-k against the IMAGE embeddings
    (cross-modal, search.py:44)."""
    t0 = time.perf_counter()
    qvec = encoder.encode(text)
    return _run(df, qvec, vector_col, k, filter, list(select), time.perf_counter() - t0, tiebreak)


def search_image(
    df: DataFrame,
    image_ref: str,
    encoder,
    k: int = 10,
    filter: str | None = None,
    select: Sequence[str] = ("url", "caption"),
    vector_col: str = "text_embedding",
    tiebreak: Sequence[str] = (),
) -> SearchResult:
    """Image query -> encode -> top-k against the TEXT embeddings
    (search.py:55). ``encoder`` must expose ``encode_image`` (CLIP) or
    plain ``encode`` (test encoders hash the reference string)."""
    t0 = time.perf_counter()
    enc = getattr(encoder, "encode_image", encoder.encode)
    qvec = enc(image_ref)
    return _run(df, qvec, vector_col, k, filter, list(select), time.perf_counter() - t0, tiebreak)


def search_concept(
    df: DataFrame,
    expression: str,
    encoder,
    k: int = 10,
    filter: str | None = None,
    select: Sequence[str] = ("url", "caption"),
    vector_col: str = "image_embedding",
    tiebreak: Sequence[str] = (),
) -> SearchResult:
    """Concept-math query (search.py:107-114): parse + constant-fold the
    expression driver-side, then one ordinary kNN — the vector enters
    the plan as a single literal, never per-row evaluation."""
    t0 = time.perf_counter()
    qvec = eval_concept(expression, encoder)
    return _run(df, qvec, vector_col, k, filter, list(select), time.perf_counter() - t0, tiebreak)


def render_results_html(result: SearchResult, table: str = "", query: str = "") -> str:
    """S8 result sink: the reference renders top-k rows plus the stat
    box (table / generation_time / query_time, results.html:176-188)
    to an HTML file opened in a browser (search.py:193-208). App-layer
    port — driver-side over collected rows, no template dependency."""
    import html as _html

    def esc(x) -> str:
        return _html.escape(str(x if x is not None else ""))

    cells = []
    for d in result.to_dicts():
        img = f'<img src="{esc(d["url"])}" loading="lazy">' if d.get("url") else ""
        cap = esc(d.get("caption", ""))
        score = esc(d.get("score", ""))
        cells.append(
            f'<div class="cell">{img}<p>{cap}</p><p class="score">score: {score}</p></div>'
        )
    stats = (
        f'<div class="stats"><span>table: {esc(table)}</span>'
        f"<span>query: {esc(query)}</span>"
        f"<span>generation_time: {result.generation_time:.3f} s</span>"
        f"<span>query_time: {result.query_time:.3f} s</span></div>"
    )
    return (
        "<!DOCTYPE html><html><head><meta charset=\"utf-8\"><style>"
        ".grid{display:flex;flex-wrap:wrap;gap:8px}.cell{width:220px}"
        ".cell img{max-width:100%}.score{color:#666}.stats span{margin-right:16px}"
        "</style></head><body>" + stats + '<div class="grid">' + "".join(cells) + "</div></body></html>"
    )


def write_results_html(result: SearchResult, path: str, table: str = "", query: str = "") -> str:
    with open(path, "w") as f:
        f.write(render_results_html(result, table=table, query=query))
    return path


def embed_lines(spark, in_path: str, out_path: str, kind: str = "hash", dim: int = 8) -> int:
    """§3.4 generate.py --file parity (S9): one input line -> one output
    line holding the embedding as a Python-style list literal
    (generate.py:32-41 writes `output.txt` this way). Distributed:
    read.text -> vectorized encoder pandas_udf -> concat_ws text sink.
    Returns the line count (the reference prints `{c} embeddings`)."""
    from pyspark.sql import functions as F

    from laion_spark.functions.encoder import embed_text_udf
    from laion_spark.session import _ship_package

    _ship_package(spark)  # the UDF closure imports laion_spark on workers
    lines = spark.read.text(in_path)
    emb = embed_text_udf(kind, dim)
    out = lines.select(
        F.concat(
            F.lit("["),
            F.concat_ws(", ", F.transform(emb("value"), lambda x: x.cast("string"))),
            F.lit("]"),
        ).alias("value")
    )
    out.coalesce(1).write.mode("overwrite").text(out_path)
    return lines.count()
