"""Q1-Q5 — the query surface implied by the reference's index DDL
(``create_index(dimension=384, metric='cosine')``,
`streamlit_app.py:49`): cosine top-k, batch kNN similarity join,
metadata-filtered search, ANN, point fetch/delete.

Physical shapes (what .explain should show):

- Q1 single-query top-k: scan -> project(score) -> TakeOrderedAndProject.
  No shuffle of the corpus; the query vector is a folded literal.
- Q2 batch kNN: corpus JOIN broadcast(queries) -> score -> window
  row_number per query <= k. The corpus never shuffles; only the small
  query side broadcasts. (A cross join that broadcasts the *corpus*
  would be wrong at 100 TB.)
- Q4 filtered search: plain .filter() BEFORE scoring — Catalyst pushes
  it into the parquet scan (PushedFilters) and prunes partitions when
  the table is partitioned by the metadata column.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.vector import cosine


def query_vector_lit(vec: Sequence[float]) -> Column:
    """A query vector as a literal array<double>, built with one JVM
    call instead of one ``F.lit`` per component (~385 py4j round trips
    for a 384-d query): the components travel as one comma-joined
    string of ``repr`` values that ``split`` + ``cast`` turn back into
    doubles. ``repr`` is the shortest round-trip form and the cast
    parses with ``Double.parseDouble`` (correctly rounded; it accepts
    ``nan``/``inf``/``-inf``), so every component, ``-0.0`` and
    subnormals included, is bit-identical to ``F.lit(float(x))``.
    Catalyst folds the expression into one array ``Literal``, so no
    row evaluates the split or the cast (both pinned in
    tests/test_vector.py). The empty vector stays ``array()``:
    splitting "" gives one empty string, which an ANSI cast rejects."""
    if not len(vec):
        return F.array()
    text = ",".join(repr(float(x)) for x in vec)
    return F.split(F.lit(text), ",").cast("array<double>")


def topk_cosine(
    corpus: DataFrame,
    query_vec: Sequence[float],
    k: int = 10,
    vec_col: str = "embedding",
    predicate: Column | None = None,
    score_col: str = "score",
) -> DataFrame:
    """Q1 — cosine top-k for one query vector, with optional metadata
    predicate (Q4). Scan -> (pushed) filter -> score -> top-k; the
    orderBy+limit lowers to TakeOrderedAndProject (no full sort).
    """
    if predicate is not None:
        corpus = corpus.filter(predicate)
    q = query_vector_lit(query_vec)
    scored = corpus.withColumn(score_col, cosine(F.col(vec_col), q))
    return scored.orderBy(F.desc(score_col), *_tiebreak(corpus)).limit(k)


def _tiebreak(df: DataFrame) -> list[Column]:
    """Deterministic tiebreak for equal scores: first id-ish column."""
    for c in ("vec_id", "id", "doc_id"):
        if c in df.columns:
            return [F.col(c)]
    return []


def partial_topk_per_partition(
    scored: DataFrame,
    k: int,
    query_id: str = "query_id",
    corpus_id: str = "vec_id",
    score_col: str = "score",
) -> DataFrame:
    """Per-partition partial top-k BEFORE the exchange: keep only the k
    best rows per query within each corpus partition, so the top-k
    window's shuffle carries O(k * partitions * |queries|) rows instead
    of |corpus| * |queries| — the reduction that makes batch kNN
    survive a 100 TB corpus.

    Pure SELECTION, no arithmetic: scores are computed JVM-side
    upstream and pass through Arrow unchanged, so the final result is
    bit-identical to the unreduced window. The local order (score desc,
    id asc) is the same strict total order as the final window's, so
    every global top-k row survives its partition's cut. Bounded
    memory: the running keep-set is compacted to <= k rows per query
    after every Arrow batch.
    """
    import pandas as pd

    out_schema = scored.schema

    def reduce_partition(batches):
        keep: pd.DataFrame | None = None
        for pdf in batches:
            cur = pd.concat([keep, pdf]) if keep is not None else pdf
            cur = cur.sort_values(
                [query_id, score_col, corpus_id],
                ascending=[True, False, True],
                kind="mergesort",
            )
            keep = cur.groupby(query_id, sort=False).head(k)
        if keep is not None and len(keep):
            yield keep

    return scored.mapInPandas(reduce_partition, out_schema)


def knn_join(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 10,
    query_id: str = "query_id",
    query_vec: str = "query_embedding",
    corpus_id: str = "vec_id",
    corpus_vec: str = "embedding",
    score_col: str = "score",
) -> DataFrame:
    """Q2 — exact batch kNN: top-k corpus rows per query row.

    The query side is broadcast (it is the small side by construction:
    a batch of search requests vs a 100 TB corpus); scoring streams
    over corpus partitions. Before the per-query top-k window, a
    per-partition partial top-k (:func:`partial_topk_per_partition`)
    truncates each partition to k rows per query, so the only shuffle
    carries O(k * partitions * |queries|) narrow rows — never the
    |corpus| x |queries| scored stream.
    """
    joined = corpus.crossJoin(F.broadcast(queries))
    scored = joined.withColumn(
        score_col, cosine(F.col(corpus_vec), F.col(query_vec))
    ).select(query_id, corpus_id, score_col)
    reduced = partial_topk_per_partition(
        scored, k, query_id=query_id, corpus_id=corpus_id, score_col=score_col
    )
    w = Window.partitionBy(query_id).orderBy(F.desc(score_col), F.col(corpus_id))
    return (
        reduced.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(query_id, corpus_id, score_col, "rank")
    )


def filtered_topk(
    corpus: DataFrame,
    query_vec: Sequence[float],
    predicate: Column,
    k: int = 10,
    vec_col: str = "embedding",
) -> DataFrame:
    """Q4 — metadata-filtered search = Q1 with a pushed-down predicate."""
    return topk_cosine(corpus, query_vec, k=k, vec_col=vec_col, predicate=predicate)


def rrf_fuse(
    legs: Sequence[tuple[str, DataFrame]],
    id_col: str = "doc_id",
    k_const: int = 60,
    topk: int = 10,
) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009, the standard hybrid
    keyword+vector merge): each leg contributes 1/(k_const + rank) for
    the ids it ranked; missing legs contribute 0. Returns the fused
    top-``topk`` with per-leg ranks and a dense ``fused_rank``.

    Each leg DataFrame carries (id_col, rank) for its OWN top-k only,
    so the fuse operates on a candidate set bounded by
    sum(leg sizes) — the full-outer join and the final window run on
    at most a few dozen rows regardless of corpus size (the corpus-
    scale work happened upstream in the legs)."""
    fused: DataFrame | None = None
    for name, leg in legs:
        sel = leg.select(F.col(id_col), F.col("rank").alias(f"{name}_rank"))
        fused = sel if fused is None else fused.join(sel, id_col, "full_outer")
    score: Column | None = None
    for name, _ in legs:
        c = F.when(
            F.col(f"{name}_rank").isNotNull(),
            F.lit(1.0) / (F.lit(float(k_const)) + F.col(f"{name}_rank")),
        ).otherwise(F.lit(0.0))
        score = c if score is None else score + c
    w = Window.orderBy(F.desc("rrf_score"), F.col(id_col))
    return (
        fused.withColumn("rrf_score", F.round(score, 6))
        .withColumn("fused_rank", F.row_number().over(w))
        .filter(F.col("fused_rank") <= topk)
    )


def ranked_topk(
    scored: DataFrame, score_col: str, id_col: str, k: int
) -> DataFrame:
    """Top-``k`` rows by (score desc, id asc) with a 1-based ``rank``
    column. The cut lowers to TakeOrderedAndProject (no full sort);
    the rank window then runs on the k-row result only — never on the
    corpus — so this is safe as a leg-builder at any corpus size."""
    top = scored.orderBy(F.desc(score_col), F.col(id_col)).limit(k)
    w = Window.orderBy(F.desc(score_col), F.col(id_col))
    return top.withColumn("rank", F.row_number().over(w))


def fetch_by_ids(corpus: DataFrame, ids: Sequence, id_col: str = "vec_id") -> DataFrame:
    """Q5 fetch — point lookup; isin pushes to the scan."""
    return corpus.filter(F.col(id_col).isin(list(ids)))


def delete_by_ids(corpus: DataFrame, ids: Sequence, id_col: str = "vec_id") -> DataFrame:
    """Q5 delete — anti-join rewrite (no Delta in this container); at
    cluster scale this is `MERGE ... WHEN MATCHED DELETE` on Delta."""
    return corpus.filter(~F.col(id_col).isin(list(ids)))


def mmr_select(
    cand: DataFrame,
    k: int,
    lam: float = 0.7,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    simq_col: str = "simq",
    carry_cols: tuple[str, ...] = (),
) -> list[tuple]:
    """Maximal Marginal Relevance re-ranking over a candidate pool:
    greedily pick k items maximizing
    ``lam * sim(query, d) - (1 - lam) * max_{s in selected} sim(d, s)``
    — the standard diversity-aware retrieval pass that runs AFTER a
    distributed top-N candidate scan (the pool is result-scale by
    construction; the corpus work already happened upstream).

    Determinism contract shared with the DuckDB oracle: both the
    query-similarity and all pairwise similarities are rounded to 9 dp
    BEFORE any comparison, the MMR score is re-rounded to 9 dp, and
    argmax ties break on the id — so K greedy rounds are bit-stable
    cross-engine (same discipline as pagerank's rounded power
    iteration).

    Execution shape: ALL vector arithmetic (the pairwise cosines) is
    one distributed self-join over the bounded pool, collected once
    together with the pool rows — pool-scale data, the same class as
    the IVF centroid collect. The K greedy rounds then run
    driver-side over those already-Spark-computed 9 dp values: per
    round the only arithmetic is lam*simq - (1-lam)*pen (identical
    IEEE doubles in Python) re-rounded via Decimal(repr(x)) HALF_UP,
    which matches Spark's BigDecimal.valueOf(double) round. Parity
    caveat: BigDecimal.valueOf goes through Double.toString, which is
    guaranteed shortest-round-trip (= Python's repr) only on JDK >= 19
    (JDK-4511638); on older JDKs a longer digit string could in theory
    flip a HALF_UP boundary at the 10th digit.
    tests/test_search.py::test_round9_matches_spark_round pins the
    equivalence executable on whatever JDK is present, over adversarial
    .5-at-1e-9 boundary doubles. (The previous version ran
    each round as its own Spark job: K jobs of pure scheduling
    overhead over a <=pool-size table, ~0.5 s/round at local scale,
    for arithmetic identical to this.)

    Returns [(rank, id, simq, *carry), ...] — driver-side,
    pool-scale. ``carry_cols`` (r12): extra pool columns returned per
    selected row, riding the SAME pool collect — a caller needing
    result metadata (the RAG capstone's doc_id/chunk_index/source) avoids
    a whole extra Spark join action on the 10-row output (~1s of pure
    scheduling overhead at local scale; at serving scale it is one
    fewer cluster round-trip on the query path).
    """
    from decimal import ROUND_HALF_UP, Decimal

    from ..caching import persist_tracked
    from ..functions.vector import cosine as _cos

    # the pool is referenced three times (both self-join sides + the
    # pool collect); persist it so the upstream candidate scan — at
    # serving scale the expensive part — executes once
    cand = persist_tracked(cand)
    a = cand.alias("a")
    b = cand.alias("b")
    va = F.transform(f"a.{vec_col}", lambda x: x.cast("double"))
    vb = F.transform(f"b.{vec_col}", lambda x: x.cast("double"))
    pair_rows = (
        a.join(b, F.col(f"a.{id_col}") != F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("ia"),
            F.col(f"b.{id_col}").alias("ib"),
            F.round(_cos(va, vb), 9).alias("sim"),
        )
        .collect()
    )
    pool_rows = cand.select(id_col, simq_col, *carry_cols).collect()
    pool = [(r[id_col], r[simq_col]) for r in pool_rows]
    carry = {r[id_col]: tuple(r[c] for c in carry_cols) for r in pool_rows}
    # unique-id precondition (ADVICE r12): duplicate pool ids would
    # silently keep the LAST row's carry metadata (and collapse the
    # greedy `remaining` dict) while pair similarities keyed (ia, ib)
    # conflate the duplicates — refuse rather than misattribute
    if len(carry) != len(pool_rows):
        raise ValueError(
            f"mmr_select: candidate pool ids must be unique "
            f"({len(pool_rows)} rows, {len(carry)} distinct {id_col})"
        )
    sim = {(r["ia"], r["ib"]): r["sim"] for r in pair_rows}
    q9 = Decimal("0.000000001")

    def round9(x: float) -> float:
        return float(Decimal(repr(x)).quantize(q9, rounding=ROUND_HALF_UP))

    one_m = 1.0 - lam
    selected: list[tuple] = []
    remaining = dict(pool)
    for rank in range(1, k + 1):
        if not remaining:
            break
        best = None
        for cid, simq in remaining.items():
            # Undefined similarity makes the candidate unselectable —
            # DETERMINISTICALLY (r14 wave 8): a zero-norm vector now
            # yields NULL cosine (functions/vector.cosine try_divide),
            # which reaches this loop as None — the old
            # ``max(gen, default=0.0)`` fold crashed on None and was
            # order-dependent on NaN (Python's max keeps the first
            # maximal element, so a NaN could be masked by a later
            # finite value). The explicit scan gives NaN/None one
            # fate: skip in THIS and every later round — matching
            # "never preferred over any finite score" (Spark sorts
            # NULL/NaN last under descending order).
            if simq is None or simq != simq:
                continue
            # pen = max over selected (may be NEGATIVE — the 0.0
            # default applies only to an empty selection, exactly the
            # old max(..., default=0.0) semantics the oracle replays)
            pen = None
            undefined = False
            for s in selected:
                v = sim.get((cid, s[1]), 0.0)
                if v is None or v != v:
                    undefined = True
                    break
                if pen is None or v > pen:
                    pen = v
            if undefined:
                continue
            mmr = round9(lam * simq - one_m * (0.0 if pen is None else pen))
            key = (-mmr, cid)
            if best is None or key < best[0]:
                best = (key, cid, simq)
        if best is None:
            break
        selected.append((rank, best[1], best[2], *carry[best[1]]))
        del remaining[best[1]]
    return selected
