"""Checks of one batch of answers against the ground truth.

Pure NumPy, no Spark: ``check`` takes the collected ``(query_id, id,
rnk)`` rows of a batch and returns, per query, its recall@k and the
first check it failed. ``python3 perfbench/answers.py`` runs the
self-test, which feeds the check answers broken in each way it knows
and fails if any of them passes.
"""

from __future__ import annotations

import numpy as np

CHECKS = ("unknown_query_id", "not_k_rows", "unknown_id", "duplicate_ids", "predicate_violated")


def check(qid, ids, rnk, cats, ts, preds, gt, k: int):
    """``(recall, failed)`` per query: ``failed`` names the first check
    in CHECKS that the query's answer fails, or is None. An answer passes
    when it has exactly ``k`` distinct ids, all rows of the corpus and all
    satisfying the query's predicate. Recall@k counts the distinct ids
    shared with the ground truth; a query that fails a check has recall 0.
    """
    nq = len(preds)
    failed = np.full(nq, None, dtype=object)

    def fail(name, mask):
        failed[mask & (failed == None)] = name  # noqa: E711 (elementwise)

    known = (qid >= 0) & (qid < nq)
    if not known.all():
        fail("unknown_query_id", np.ones(nq, dtype=bool))
        return np.zeros(nq), failed
    fail("not_k_rows", np.bincount(qid, minlength=nq) != k)
    ok_q = np.flatnonzero(failed == None)  # noqa: E711
    order = np.lexsort((rnk, qid))
    rows = ids[order][np.isin(qid[order], ok_q)].reshape(len(ok_q), k)
    m = np.zeros(nq, dtype=bool)

    def fail_rows(name, row_mask):
        m[:] = False
        m[ok_q] = row_mask
        fail(name, m)

    in_range = (rows >= 0) & (rows < len(ts))
    fail_rows("unknown_id", ~in_range.all(axis=1))
    rows = np.where(in_range, rows, 0)
    fail_rows("duplicate_ids", (np.diff(np.sort(rows, axis=1), axis=1) == 0).any(axis=1))
    p = preds[ok_q]
    qt = p[:, 0:1]
    sat = (~np.isin(qt, (1, 3)) | (cats[rows] == p[:, 1:2])) & (
        ~np.isin(qt, (2, 3)) | ((ts[rows] >= p[:, 2:3]) & (ts[rows] <= p[:, 3:4]))
    )
    fail_rows("predicate_violated", ~sat.all(axis=1))
    recall = np.zeros(nq)
    for i, q in enumerate(ok_q):
        if failed[q] is None:
            recall[q] = len(np.intersect1d(rows[i], gt[q])) / k
    return recall, failed


def selftest() -> None:
    """Every way of breaking a correct answer must fail its check, and
    the correct answer must pass with recall 1."""
    k, n = 4, 40
    rng = np.random.default_rng(0)
    cats = (np.arange(n) % 2).astype(np.float32)
    ts = rng.random(n).astype(np.float32)
    # query 0: any row; query 1: category 1; query 2: ts in [0.2, 0.8]
    preds = np.array([[0, -1, -1, -1], [1, 1, -1, -1], [2, -1, 0.2, 0.8]], dtype=np.float32)
    gt = np.stack([
        np.arange(k),
        np.flatnonzero(cats == 1)[:k],
        np.flatnonzero((ts >= 0.2) & (ts <= 0.8))[:k],
    ])

    def rows(answer):
        qid = np.repeat(np.arange(len(answer)), [len(a) for a in answer])
        ids = np.concatenate(answer)
        rnk = np.concatenate([np.arange(len(a)) for a in answer])
        return check(qid, ids, rnk, cats, ts, preds, gt, k)

    recall, failed = rows([g.copy() for g in gt])
    assert (failed == None).all() and (recall == 1).all(), (recall, failed)  # noqa: E711
    other = np.setdiff1d(np.flatnonzero(cats == 1), gt[1])[0]
    broken = {
        "not_k_rows": [gt[0][:-1]],
        "unknown_id": [np.r_[gt[0][:-1], n]],
        "duplicate_ids": [np.r_[gt[0][:-1], gt[0][0]]],
        "predicate_violated": [None, np.r_[gt[1][:-1], 0]],
    }
    for name, change in broken.items():
        answer = [g.copy() for g in gt]
        for q, a in enumerate(change):
            if a is not None:
                answer[q] = a
        recall, failed = rows(answer)
        bad = [q for q, a in enumerate(change) if a is not None]
        assert list(failed[bad]) == [name] * len(bad), (name, failed)
        assert (recall[bad] == 0).all(), (name, recall)
        assert (failed[[q for q in range(len(gt)) if q not in bad]] == None).all(), (name, failed)  # noqa: E711
    # a valid answer with one id outside the ground truth loses 1/k
    answer = [g.copy() for g in gt]
    answer[1] = np.r_[gt[1][:-1], other]
    recall, failed = rows(answer)
    assert failed[1] is None and recall[1] == (k - 1) / k, (recall, failed)
    qid, ids, rnk = np.array([0, 9]), np.array([0, 1]), np.array([0, 0])
    recall, failed = check(qid, ids, rnk, cats, ts, preds, gt, k)
    assert (failed == "unknown_query_id").all() and (recall == 0).all()


if __name__ == "__main__":
    selftest()
    print("answers: self-test passed")
