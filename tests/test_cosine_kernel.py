"""Spark-free checks of the shared exact-cosine kernel in operators/similarity.py.

``_cosine`` (block form), ``_cosine_pairs`` (row-pair form) and ``_topk``
(the (cosine desc, id asc) selector) are compared against a pure-Python
sequential-fold reference on small-integer vectors, where every dot product
and squared norm is exact, so the two sides must agree to the last bit.
"""

import math
import random

import numpy as np
import pytest

from e_commerce_knowledge_graph_and_graph_database_ml_recommandation_system_spark.operators import similarity as sim


def _ref_cos(a, b):
    dot = 0.0
    for x, y in zip(a, b):
        dot += x * y
    na = math.sqrt(sum(x * x for x in a)) or 1.0
    nb = math.sqrt(sum(y * y for y in b)) or 1.0
    return round(dot / (na * nb), 6)


def _ref_topk(qids, q, ids, x, k):
    rows = []
    for qid, qv in zip(qids, q):
        cands = sorted(
            ((_ref_cos(qv, xv), int(xid)) for xid, xv in zip(ids, x) if xid != qid),
            key=lambda t: (-t[0], t[1]),
        )
        rows += [(int(qid), r, nid, c) for r, (c, nid) in enumerate(cands[:k], 1)]
    return rows


@pytest.fixture(scope="module")
def corpus():
    """60 index rows (shuffled ids, three duplicates of one row, a zero
    vector) and 1,100 query rows — more than two COSINE_CHUNKs — that
    contain every index row under its own id plus a zero query."""
    rng = random.Random(7)
    dim = 6
    x = [[float(rng.randint(-3, 3)) for _ in range(dim)] for _ in range(60)]
    x[10] = x[11] = x[12] = list(x[5])  # equal cosines -> ties broken by id
    x[20] = [0.0] * dim
    ids = list(range(1000, 1060))
    rng.shuffle(ids)
    n_extra = 1100 - len(x)
    q = x + [[float(rng.randint(-3, 3)) for _ in range(dim)] for _ in range(n_extra)]
    q[-1] = [0.0] * dim
    qids = ids + list(range(5000, 5000 + n_extra))
    return (
        np.array(qids, dtype=np.int64),
        np.array(q),
        np.array(ids, dtype=np.int64),
        np.array(x),
    )


def test_cosine_blocks_match_reference(corpus):
    qids, q, ids, x = corpus
    assert len(q) > 2 * sim.COSINE_CHUNK
    blocks = [(c0, b.copy()) for c0, b in sim._cosine(q, x)]
    assert [c0 for c0, _ in blocks] == list(range(0, len(q), sim.COSINE_CHUNK))
    got = np.vstack([b for _, b in blocks])
    want = np.array([[_ref_cos(a, b) for b in x] for a in q])
    assert not np.isnan(got).any()
    assert np.array_equal(got, want)
    # the zero vectors score exactly 0 against everything
    assert (got[:, 20] == 0.0).all() and (got[-1] == 0.0).all()
    pairs = sim._cosine_pairs(q[: len(x)], x[::-1])
    assert np.array_equal(pairs, [_ref_cos(a, b) for a, b in zip(q[: len(x)], x[::-1])])


@pytest.mark.parametrize("k", [5, 100])
def test_topk_matches_reference(corpus, k):
    qids, q, ids, x = corpus
    got = sim._topk(qids, q, ids, x, k)
    want = _ref_topk(qids, q, ids, x, k)
    rows = list(
        zip(
            got["query_id"].tolist(),
            got["rank"].tolist(),
            got["neighbor_id"].tolist(),
            got["cosine"].tolist(),
        )
    )
    assert rows == want
    assert not (got["query_id"] == got["neighbor_id"]).any()
    per_query = got.groupby("query_id").size()
    if k > len(x):
        # k above the candidate count: every candidate, self excluded
        assert per_query[int(ids[0])] == len(x) - 1 and per_query[5000] == len(x)
    else:
        assert (per_query == k).all()
    # the duplicate rows produced equal-cosine ties that id asc resolved
    dup_ids = sorted(int(ids[i]) for i in (5, 10, 11, 12))
    assert any(
        grp["neighbor_id"].tolist()[:4] == dup_ids
        for _, grp in got[got["neighbor_id"].isin(dup_ids)].groupby("query_id")
    )


def test_topk_reuses_buffers_across_shapes(corpus):
    """One buffer dict serves batches of different query and index sizes
    (the Arrow-batch and per-group reuse pattern) with unchanged results."""
    qids, q, ids, x = corpus
    buf = {}
    first = sim._topk(qids, q, ids, x, 5, buf)
    small = sim._topk(qids[:7], q[:7], ids[:9], x[:9], 3, buf)
    again = sim._topk(qids, q, ids, x, 5, buf)
    assert small.values.tolist() == [list(r) for r in _ref_topk(qids[:7], q[:7], ids[:9], x[:9], 3)]
    assert first.equals(again)
    empty = sim._topk(qids[:3], q[:3], ids[:0], x[:0], 5, buf)
    assert list(empty.columns) == ["query_id", "rank", "neighbor_id", "cosine"] and empty.empty


def test_dup_pairs_match_reference(corpus):
    qids, q, ids, x = corpus
    got = sim._dup_pairs(qids, q, ids, x, 0.8)
    want = sorted(
        (int(a), int(b), _ref_cos(qa, xb))
        for a, qa in zip(qids, q)
        for b, xb in zip(ids, x)
        if b > a and _ref_cos(qa, xb) >= 0.8
    )
    assert sorted(map(tuple, got.itertuples(index=False))) == want
