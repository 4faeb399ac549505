"""Tests for the benchmark's own helpers: statistics, generators and
correctness checks. No Spark session is started.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import os
import sys

import numpy as np
import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))))

from perfbench import checks, gen  # noqa: E402
from perfbench.stats import nearest_rank, prefix_self_times, tail_percentile  # noqa: E402

# ------------------------------------------------------------ statistics


def test_tail_percentile_needs_ten_samples_beyond():
    xs = list(range(1, 101))
    assert tail_percentile(xs) == {"pct": 90, "value": 90, "n": 100}
    r = tail_percentile(list(range(1, 21)))
    assert r == {"pct": 50, "value": 10, "n": 20}
    assert sum(x > r["value"] for x in range(1, 21)) >= 10
    assert tail_percentile(list(range(10)))["pct"] is None
    assert tail_percentile(list(range(1000)), cap=99)["pct"] == 99


def test_nearest_rank():
    assert nearest_rank([5, 1, 3, 2, 4], 50) == 3
    assert nearest_rank([5, 1, 3, 2, 4], 100) == 5
    assert nearest_rank([7], 1) == 7
    with pytest.raises(ValueError):
        nearest_rank([], 50)


def test_prefix_self_times_subtracts_and_keeps_negatives():
    got = prefix_self_times([("a", 1.0), ("b", 1.5), ("c", 1.4)])
    assert got == pytest.approx({"a": 1.0, "b": 0.5, "c": -0.1})
    assert sum(got.values()) == pytest.approx(1.4)


# ------------------------------------------------------------ generators


def _tree(path):
    out = {}
    for r, _d, fs in os.walk(path):
        for f in fs:
            with open(os.path.join(r, f), "rb") as fh:
                out[os.path.relpath(os.path.join(r, f), path)] = fh.read()
    return out


def test_generators_are_deterministic(tmp_path):
    for seed in (3, 3, 4):
        d = tmp_path / f"s{seed}_{len(list(tmp_path.iterdir()))}"
        gen.write_pdf_landing(str(d / "pdf"), gen.pdf_documents(seed, 5))
        ids, labels, x = gen.clustered_vectors(seed, 50)
        gen.write_vector_parquet(str(d / "vec"), ids, labels, x)
        dids, texts, _pairs = gen.neardup_documents(seed, 20, 5)
        gen.write_documents_parquet(str(d / "docs"), dids, texts)
    a, b, c = (_tree(str(p)) for p in sorted(tmp_path.iterdir()))
    assert a == b
    assert a != c


def test_stride_chunk_count_matches_window_enumeration():
    for n in (0, 1, 1999, 2000, 2001, 3900, 3901, 5800, 10_000):
        starts = range(0, max(n, 1), gen.CHUNK_SIZE - gen.CHUNK_OVERLAP)
        windows = [s for s in starts if s == 0 or s + gen.CHUNK_OVERLAP < n]
        assert gen.stride_chunk_count(n) == len(windows), n


def test_pdf_text_round_trips_through_the_text_layer():
    from pdf_using_hugging_face_and_vector_database_spark.sources.pdf_text import (
        extract_pdf_pages_text,
        make_pdf,
    )

    for pages in gen.pdf_documents(7, 4):
        assert extract_pdf_pages_text(make_pdf(pages, compress=True)) == pages


def test_neardup_pairs_are_truncations():
    ids, texts, pairs = gen.neardup_documents(5, 30, 6)
    by_id = dict(zip(ids, texts))
    assert len(pairs) == 6 and len(set(ids)) == len(ids)
    for a, b in pairs:
        assert by_id[a].startswith(by_id[b]) and len(by_id[b]) < len(by_id[a])


def test_clustered_vectors_are_unit_and_labelled():
    ids, labels, x = gen.clustered_vectors(1, 100, n_labels=4)
    assert np.allclose(np.linalg.norm(x, axis=1), 1.0)
    assert set(labels) <= {"L0", "L1", "L2", "L3"} and len(ids) == 100


# ---------------------------------------------------------------- checks


@pytest.fixture
def corpus():
    ids, _labels, x = gen.clustered_vectors(2, 60)
    q = gen.near_queries(np.random.default_rng(0), x, 1)[0]
    return ids, x, q


def test_check_topk_accepts_brute_force_and_rejects_wrong(corpus):
    ids, x, q = corpus
    e_ids, e_sc = checks.exact_topk(x, ids, q, 5)
    ok = e_ids.tolist(), e_sc.tolist()
    assert checks.check_topk(*ok, x, ids, q, 5, "t") == []
    wrong = e_ids.tolist()
    wrong[-1] = int(next(i for i in ids if i not in set(e_ids.tolist())))
    assert checks.check_topk(wrong, e_sc.tolist(), x, ids, q, 5, "t")
    assert checks.check_topk(e_ids.tolist(), (e_sc + 1e-6).tolist(), x, ids, q, 5, "t")
    assert checks.check_topk(e_ids.tolist()[:4], e_sc.tolist()[:4], x, ids, q, 5, "t")
    dup = e_ids.tolist()[:4] + [e_ids.tolist()[3]]
    assert checks.check_topk(dup, e_sc.tolist(), x, ids, q, 5, "t")


def test_check_topk_allows_a_tie_at_the_kth_score(corpus):
    ids, x, q = corpus
    x = x.copy()
    e_ids, e_sc = checks.exact_topk(x, ids, q, 5)
    outside = int(next(i for i in ids if i not in set(e_ids.tolist())))
    x[outside] = x[e_ids[-1]]  # exact tie with the k-th row
    got = e_ids.tolist()[:4] + [outside]
    assert checks.check_topk(got, e_sc.tolist(), x, ids, q, 5, "t") == []


def test_check_topk_with_mask_rejects_filtered_rows(corpus):
    ids, x, q = corpus
    mask = ids % 2 == 0
    e_ids, e_sc = checks.exact_topk(x, ids, q, 5, mask)
    assert all(i % 2 == 0 for i in e_ids)
    assert checks.check_topk(e_ids.tolist(), e_sc.tolist(), x, ids, q, 5, "t", mask) == []
    u_ids, u_sc = checks.exact_topk(x, ids, q, 5)
    if set(u_ids.tolist()) != set(e_ids.tolist()):
        assert checks.check_topk(u_ids.tolist(), u_sc.tolist(), x, ids, q, 5, "t", mask)


def test_check_scores_exact_rejects_a_wrong_score(corpus):
    ids, x, q = corpus
    vec_of = dict(zip(ids.tolist(), x))
    good = [(int(i), float(x[i] @ q)) for i in ids[:3]]
    assert checks.check_scores_exact(*zip(*good), vec_of, q, "s") == []
    bad = good[:2] + [(good[2][0], good[2][1] + 1e-6)]
    assert checks.check_scores_exact(*zip(*bad), vec_of, q, "s")


def test_check_rank1():
    assert checks.check_rank1([4, 2], 4, "r") == []
    assert checks.check_rank1([2, 4], 4, "r")
    assert checks.check_rank1([], 4, "r")


def test_check_ingest_store():
    assert checks.check_ingest_store(10, 10, 1e-12, 10) == []
    assert checks.check_ingest_store(9, 9, 0.0, 10)
    assert checks.check_ingest_store(10, 9, 0.0, 10)
    assert checks.check_ingest_store(10, 10, 1e-3, 10)
    assert checks.check_ingest_store(10, 10, float("nan"), 10)


def test_check_upsert():
    assert checks.check_upsert(10, 10, 10, 3, 3) == []
    assert checks.check_upsert(10, 13, 13, 3, 3)
    assert checks.check_upsert(10, 10, 9, 3, 3)
    assert checks.check_upsert(10, 10, 10, 0, 3)


def test_check_knn(corpus):
    ids, x, _q = corpus
    qs = gen.near_queries(np.random.default_rng(1), x, 3)
    got = {}
    for qi, q in enumerate(qs):
        e_ids, e_sc = checks.exact_topk(x, ids, q, 4)
        got[qi] = list(zip(e_ids.tolist(), e_sc.tolist()))
    assert checks.check_knn(got, x, ids, qs, 4) == []
    got[1] = got[1][::-1]
    assert checks.check_knn(got, x, ids, qs, 4)


def test_check_groups():
    pairs = [(1, 2), (3, 4)]
    assert checks.check_groups({1: 1, 2: 1, 3: 3, 4: 3}, pairs) == []
    assert checks.check_groups({1: 1, 2: 2, 3: 3, 4: 3}, pairs)
    assert checks.check_groups({1: 1, 2: 1, 3: 3}, pairs)


def test_recall():
    assert checks.recall([1, 2, 3], np.array([1, 2, 4])) == pytest.approx(2 / 3)
