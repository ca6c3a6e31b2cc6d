"""Seeded inputs and engine-independent ground truth for the benchmark.

One NumPy generator per (workload, seed) writes the contest ``.bin``
inputs (base rows and queries) plus the exact top-k ids for every query,
computed here by a blocked float64 brute force with the contest's
``(dist, id)`` tie-break. Nothing in this module imports the engine.

Corpus: ``N_ROWS`` x ``DIM`` vectors drawn around ``N_CLUSTERS`` Gaussian
centres; a few categories hold >= 4.5 % of the corpus (they get category
graphs) and many small ones are Zipf-skewed; ``ts`` is uniform in [0, 1).
Labels, timestamps and vectors are rounded to float32 before anything is
derived from them, because that is what the ``.bin`` format stores.
"""

from __future__ import annotations

import os

import numpy as np

N_ROWS = 12_000
DIM = 100
N_CLUSTERS = 64
# Category shares: four big categories, far above the 4.5 % threshold
# that gives a category its own graph slice, and 36 Zipf-skewed small
# ones, far below it, so no category's route depends on the seed.
BIG_CATS = (0.26, 0.15, 0.10, 0.07)
N_SMALL_CATS = 36
SMALL_ZIPF_S = 0.3
K = 100

# Range widths of `mixed` type-2 queries cycle through the routing
# bands (<0.045, 0.045-0.2, 0.2-0.6, >0.6).
RANGE_BANDS = ((0.01, 0.04), (0.05, 0.19), (0.21, 0.59), (0.61, 0.95))
# `selective` keeps every predicate under the 4.5 % brute-force
# threshold, with a margin for the router's 1000-bin ts histogram.
SELECTIVE_MAX_FRAC = 0.035

QUERY_COUNTS = {"mixed": 128, "selective": 8_000}
# The traced fold probe builds on this share of the corpus and folds
# the rest in as one micro-batch.
INGEST_INITIAL_SHARE = 0.8
MAX_DRAWS = 10_000

_small = 1.0 / np.arange(1, N_SMALL_CATS + 1) ** SMALL_ZIPF_S
CAT_SHARES = np.concatenate([BIG_CATS, (1.0 - sum(BIG_CATS)) * _small / _small.sum()])


def _corpus(rng: np.random.Generator):
    centres = rng.normal(0.0, 1.0, size=(N_CLUSTERS, DIM))
    which = rng.integers(0, N_CLUSTERS, size=N_ROWS)
    vecs = (centres[which] + rng.normal(0.0, 0.35, size=(N_ROWS, DIM))).astype(np.float32)
    cats = rng.choice(len(CAT_SHARES), size=N_ROWS, p=CAT_SHARES).astype(np.float32)
    ts = rng.random(N_ROWS).astype(np.float32)
    return centres, cats, ts, vecs


def _query_vecs(rng, centres, n):
    which = rng.integers(0, N_CLUSTERS, size=n)
    return (centres[which] + rng.normal(0.0, 0.35, size=(n, DIM))).astype(np.float32)


def _count(cats, ts, qtype, v, l, r):
    ok = np.ones(len(ts), dtype=bool)
    if qtype in (1, 3):
        ok &= cats == v
    if qtype in (2, 3):
        ok &= (ts >= l) & (ts <= r)
    return int(ok.sum())


def _strata(rng, n):
    """n draws in [0, 1), one in each of n equal strata, in random order:
    every seed gets the same spread of values."""
    return (rng.permutation(n) + rng.random(n)) / n


def _allocate(rng, pool, n):
    """n categories from ``pool`` in proportion to their corpus shares
    (largest remainder), in random order: every seed gets the same mix."""
    exact = CAT_SHARES[pool] / CAT_SHARES[pool].sum() * n
    cnt = np.floor(exact).astype(int)
    cnt[np.argsort(cnt - exact, kind="stable")[: n - cnt.sum()]] += 1
    return rng.permutation(np.repeat(pool, cnt))


def _predicates(rng, workload, cats, ts, n):
    """(qtype, v, l, r) per query. Categories follow the corpus shares
    and range widths are stratified, so the mix of query shapes, and
    with it the work per batch, is the same for every seed. Every
    predicate keeps >= K rows; on `selective` it also keeps under
    SELECTIVE_MAX_FRAC of the corpus."""
    n_rows = len(ts)
    selective = workload == "selective"
    # categories expected to hold well over K rows; the big ones for type 3
    pool1 = np.flatnonzero(CAT_SHARES * n_rows >= 1.5 * K)
    if selective:
        pool1 = pool1[CAT_SHARES[pool1] < SELECTIVE_MAX_FRAC]
    pool3 = np.arange(len(BIG_CATS))
    types = 1 + np.arange(n) % 3 if selective else np.arange(n) % 4
    out = np.full((n, 4), -1.0)
    out[:, 0] = types
    for t in (1, 2, 3):
        idx = np.flatnonzero(types == t)
        u = _strata(rng, len(idx))
        if t == 1:
            out[idx, 1] = _allocate(rng, pool1, len(idx))
            continue
        if t == 2 and selective:
            w = 0.01 + 0.02 * u
        elif t == 2:
            lo, hi = np.array(RANGE_BANDS)[np.arange(len(idx)) % len(RANGE_BANDS)].T
            w = lo + (hi - lo) * u
        else:
            v = _allocate(rng, pool3, len(idx))
            out[idx, 1] = v
            for c in pool3:  # stratify the widths of each category apart
                u[v == c] = _strata(rng, int((v == c).sum()))
            lo = 1.2 * K / (CAT_SHARES[v] * n_rows)
            hi = 0.85 * SELECTIVE_MAX_FRAC / CAT_SHARES[v] if selective else 0.95
            w = lo + (hi - lo) * u
        for i, wi in zip(idx, w):
            for _ in range(MAX_DRAWS):
                l = np.float32(rng.uniform(0.0, 1.0 - wi))
                r = np.float32(l + wi)
                cnt = _count(cats, ts, t, np.float32(out[i, 1]), l, r)
                if cnt >= K and (not selective or cnt < SELECTIVE_MAX_FRAC * n_rows):
                    out[i, 2:] = l, r
                    break
            else:
                raise RuntimeError(f"no {workload} range of width {wi:.3f} for query {i}")
    return out.astype(np.float32)


def ground_truth(cats, ts, vecs, preds, qvecs, k=K, block=256):
    """Exact top-k ids per query (float64 squared L2, ties by id)."""
    x = vecs.astype(np.float64)
    xx = np.einsum("ij,ij->i", x, x)
    ids = np.arange(len(x))
    out = np.empty((len(qvecs), k), dtype=np.int64)
    for s in range(0, len(qvecs), block):
        q = qvecs[s:s + block].astype(np.float64)
        p = preds[s:s + block]
        d = xx[None, :] - 2.0 * (q @ x.T) + np.einsum("ij,ij->i", q, q)[:, None]
        qt = p[:, 0:1]
        cat_ok = ~np.isin(qt, (1, 3)) | (cats[None, :] == p[:, 1:2])
        ts_ok = ~np.isin(qt, (2, 3)) | ((ts[None, :] >= p[:, 2:3]) & (ts[None, :] <= p[:, 3:4]))
        d[~(cat_ok & ts_ok)] = np.inf
        part = np.argpartition(d, k - 1, axis=1)[:, :k]
        for j in range(len(q)):
            cand = part[j]
            order = np.lexsort((ids[cand], d[j, cand]))
            if not np.isfinite(d[j, cand[order[-1]]]):
                raise ValueError(f"query {s + j} has fewer than {k} satisfying rows")
            out[s + j] = cand[order]
    return out


def write_bin(path, head, vecs):
    """The contest .bin layout: uint32 row count, then float32 rows of
    ``head`` columns followed by the vector (written here so that the
    inputs, like the ground truth, do not depend on the engine)."""
    rows = np.concatenate([head, vecs], axis=1).astype("<f4")
    with open(path, "wb") as f:
        f.write(np.uint32(len(rows)).tobytes())
        f.write(rows.tobytes())


def generate(workload: str, seed: int, out_dir: str) -> dict:
    """Write base.bin, queries.bin and gt.npy under ``out_dir`` (reused
    when already there) and return the arrays the benchmark checks with.

    ``n_initial`` splits the rows for the traced fold probe: the index is
    built on the rows before it and the rows from it on are folded in."""
    names = ("base.bin", "queries.bin", "gt.npy")
    paths = {n: os.path.join(out_dir, n) for n in names}
    rng = np.random.default_rng([seed, sorted(QUERY_COUNTS).index(workload)])
    centres, cats, ts, vecs = _corpus(rng)
    nq = QUERY_COUNTS[workload]
    qvecs = _query_vecs(rng, centres, nq)
    preds = _predicates(rng, workload, cats, ts, nq)
    n_initial = int(N_ROWS * INGEST_INITIAL_SHARE)
    if not os.path.exists(paths["gt.npy"]):
        os.makedirs(out_dir, exist_ok=True)
        write_bin(paths["base.bin"], np.stack([cats, ts], axis=1), vecs)
        write_bin(paths["queries.bin"], preds, qvecs)
        gt = ground_truth(cats, ts, vecs, preds, qvecs)
        np.save(paths["gt.npy"] + ".tmp.npy", gt)
        os.replace(paths["gt.npy"] + ".tmp.npy", paths["gt.npy"])
    return {
        "paths": paths,
        "cats": cats,
        "ts": ts,
        "preds": preds,
        "gt": np.load(paths["gt.npy"]),
        "n_initial": n_initial,
    }
