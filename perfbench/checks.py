"""Correctness checks on engine outputs against ground truth computed
here in numpy / plain Python. Each returns a list of failure messages;
an empty list means the output is correct."""

from __future__ import annotations

import numpy as np

TOL = 1e-9


def exact_topk(
    x: np.ndarray, ids: np.ndarray, q: np.ndarray, k: int, mask: np.ndarray | None = None
) -> tuple[np.ndarray, np.ndarray]:
    """Brute-force cosine top-k (ids, scores), ties to the smaller id.
    Rows of ``x`` and ``q`` are unit vectors, so cosine is the dot."""
    scores = x @ q
    cand = np.arange(len(ids)) if mask is None else np.flatnonzero(mask)
    order = np.lexsort((ids[cand], -scores[cand]))[:k]
    return ids[cand][order], scores[cand][order]


def check_topk(
    got_ids: list, got_scores: list, x: np.ndarray, ids: np.ndarray, q: np.ndarray,
    k: int, what: str, mask: np.ndarray | None = None,
) -> list[str]:
    """Engine top-k equals the brute force: the same scores rank by
    rank, and the same ids except for one whose exact score ties the
    k-th within TOL (the tie may break either way in floating point)."""
    exp_ids, exp_scores = exact_topk(x, ids, q, k, mask)
    if len(got_ids) != len(exp_ids):
        return [f"{what}: {len(got_ids)} results, expected {len(exp_ids)}"]
    if np.max(np.abs(np.asarray(got_scores) - exp_scores), initial=0.0) > TOL:
        return [f"{what}: scores differ from brute force"]
    row = {int(i): r for r, i in enumerate(ids.tolist())}
    kth, expected = exp_scores[-1], set(exp_ids.tolist())
    for i in got_ids:
        r = row.get(int(i))
        allowed = r is not None and (mask is None or mask[r])
        if i not in expected and not (allowed and abs(float(x[r] @ q) - kth) <= TOL):
            return [f"{what}: id {i} is not in the brute-force top-k"]
    if len(set(got_ids)) != len(got_ids):
        return [f"{what}: duplicate ids"]
    return []


def check_scores_exact(
    got_ids: list, got_scores: list, vec_of: dict, q: np.ndarray, what: str, tol: float = TOL
) -> list[str]:
    """Every returned score equals the exact cosine of its vector."""
    for i, s in zip(got_ids, got_scores):
        if i not in vec_of:
            return [f"{what}: unknown id {i}"]
        if abs(float(vec_of[i] @ q) - s) > tol:
            return [f"{what}: score of id {i} is {s}, exact {float(vec_of[i] @ q)}"]
    return []


def check_rank1(got_ids: list, want_id, what: str) -> list[str]:
    if not got_ids or got_ids[0] != want_id:
        return [f"{what}: rank 1 is {got_ids[:1]}, expected {want_id}"]
    return []


def recall(got_ids: list, exp_ids: np.ndarray) -> float:
    return len(set(got_ids) & set(exp_ids.tolist())) / max(1, len(exp_ids))


def check_ingest_store(
    rows: int, distinct_ids: int, max_norm_dev: float, expected_rows: int
) -> list[str]:
    errs = []
    if rows != expected_rows:
        errs.append(f"ingest: {rows} stored rows, expected {expected_rows} chunks")
    if distinct_ids != rows:
        errs.append(f"ingest: {rows - distinct_ids} duplicate ids")
    if not max_norm_dev <= TOL:
        errs.append(f"ingest: embedding norm off by {max_norm_dev}")
    return errs


def check_upsert(
    rows_before: int, rows_after: int, distinct_after: int, n_new: int, expected_new: int
) -> list[str]:
    errs = []
    if rows_after != rows_before or distinct_after != rows_after:
        errs.append(
            f"upsert: {rows_after} rows ({distinct_after} ids) after, {rows_before} before"
        )
    if n_new != expected_new:
        errs.append(f"upsert: {n_new} rows carry the new version, expected {expected_new}")
    return errs


def check_knn(
    got: dict, x: np.ndarray, ids: np.ndarray, queries: np.ndarray, k: int
) -> list[str]:
    """``got`` maps query index to its [(id, score)] in rank order."""
    errs = []
    for qi, q in enumerate(queries):
        rows = got.get(qi, [])
        errs += check_topk(
            [r[0] for r in rows], [r[1] for r in rows], x, ids, q, k, f"knn_join q{qi}"
        )
    if set(got) - set(range(len(queries))):
        errs.append("knn_join: results for unknown queries")
    return errs


def check_groups(rep_of: dict, pairs: list[tuple[int, int]]) -> list[str]:
    """Every injected near-duplicate pair shares a group."""
    missed = [(a, b) for a, b in pairs if rep_of.get(a) is None or rep_of.get(a) != rep_of.get(b)]
    if missed:
        return [f"dedup: {len(missed)} of {len(pairs)} injected pairs split, e.g. {missed[0]}"]
    return []
