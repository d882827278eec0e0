"""Precompute EXACT ground truth for the three recall-rung queries at
a big-corpus scale (r9 verdict item 2), so the x100 value sweep can
VERIFY them instead of SKIPping.

Above their exact-path rungs, `q_ext_semdedup` / `q_ext_embed_neardup`
switch to approximate-recall candidate generators and `q_ext_ann_pq`'s
mean-recall floor is a fixed-geometry claim — so the registered DuckDB
oracles (exact all-pairs / literal-TRUE pin) stop being meaningful
comparisons there, and DuckDB could not execute the 2e10-pair exact
joins in reasonable time anyway.  This tool computes the exact
expected OUTPUT of each query once per corpus with blocked numpy
matmuls (the x100 corpus from tools/make_sf1.py is fully
deterministic: key shifts + frac-sin noise, so the fixture stays valid
across rebuilds), fingerprints the corpus, and stores everything in
tests/fixtures/recall_gt_<n>.json.  tools/check_oracle.py then
compares the live Spark result against the fixture — a full value
verification — and only falls back to SKIP when no fixture matches.

Exactness notes (engine-replication fidelity):
- centroids: per-(label, dim) sums of DECIMAL(18,9)-quantized values
  are replicated with int64 nano-sums converted through
  decimal.Decimal (exactly the decimal->double cast), then one double
  division by the count — bit-identical to both engines.
- cell assignment / cosine thresholds: numpy float64 matmuls differ
  from the engines' sequential folds only in summation order
  (<= a few ulp).  The builder MEASURES every decision margin
  (assignment argmax gap, threshold distance, rank-K score gap) and
  refuses to emit a fixture any ulp-scale divergence could flip.
- quantized codes: the (x - mn) / (mx - mn) * 256 floor is pure
  elementwise IEEE arithmetic — identical in numpy by construction.

Usage: python tools/make_recall_fixtures.py [sf_dir]
       (default <checkout>/.bench_sf10)
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
from decimal import Decimal

import numpy as np

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

COS_T = 0.9  # NEARDUP_COS == SEMDEDUP_COS
TOP_K = 5
N_QUERY = 20
Q_LEVELS = 256
PQ_RECALL_FLOOR = 0.5
BLOCK = 2048
# decisions closer than this to a boundary are treated as flippable
# between numpy matmul and the engines' sequential folds -> refuse to
# emit.  The true divergence scale is <= ~64 ulp of float64 on O(1)
# cosines (~1e-14: same inputs, different summation order); 1e-9 keeps
# five orders of margin above that.
MARGIN = 1e-9


def load_embeddings(sf_dir: str):
    """(vec_id int64[N], label int32[N], V float32[N, DIM]) in vec_id
    order."""
    import duckdb

    con = duckdb.connect()
    t = con.sql(
        "SELECT vec_id, label, embedding FROM "
        f"read_parquet('{sf_dir}/embeddings.parquet"
        + ("/*.parquet')" if os.path.isdir(f"{sf_dir}/embeddings.parquet") else "')")
        + " ORDER BY vec_id"
    ).fetch_arrow_table()
    vec_id = t["vec_id"].to_numpy()
    label = t["label"].to_numpy()
    emb = t["embedding"]
    flat = emb.combine_chunks().flatten().to_numpy().astype(np.float32)
    V = flat.reshape(len(vec_id), -1)
    return vec_id, label, V


def corpus_fingerprint(vec_id, label, V) -> str:
    h = hashlib.sha256()
    h.update(np.ascontiguousarray(vec_id, dtype=np.int64).tobytes())
    h.update(np.ascontiguousarray(label, dtype=np.int64).tobytes())
    h.update(np.ascontiguousarray(V, dtype=np.float32).tobytes())
    return h.hexdigest()


def exact_centroids(label, V):
    """Per-label centroid replicating the engines' DECIMAL(18,9)
    sum -> double cast -> /count, bit-for-bit."""
    labels = np.unique(label)
    dim = V.shape[1]
    C = np.zeros((len(labels), dim), dtype=np.float64)
    for li, lab in enumerate(labels):
        block = V[label == lab].astype(np.float64)
        nano = np.rint(block * 1e9).astype(np.int64)  # DECIMAL(18,9)
        sums = nano.sum(axis=0, dtype=np.int64)
        n = block.shape[0]
        for d in range(dim):
            C[li, d] = float(Decimal(int(sums[d])) / Decimal(10**9)) / n
    return labels, C


def assign(V64, labels, C):
    """Nearest-centroid cell per vector ((desc cos, label) tie-break =
    numpy first-max) + the argmax margin."""
    vn = np.linalg.norm(V64, axis=1)
    cn = np.linalg.norm(C, axis=1)
    sims = (V64 @ C.T) / np.outer(vn, cn)
    order = np.argsort(-sims, axis=1)
    best, second = order[:, 0], order[:, 1]
    rows = np.arange(len(V64))
    margin = float(np.min(sims[rows, best] - sims[rows, second]))
    return labels[best], vn, margin


def threshold_pairs(vec_id, V64, vn):
    """All (a, b), vec_id_a < vec_id_b, cos >= COS_T — blocked float64
    Gram (vec_id order == index order).  Returns (pairs, max_cos,
    boundary_margin)."""
    n = len(vec_id)
    U = (V64 / vn[:, None]).astype(np.float32)
    hits = []
    max_cos = -2.0
    min_dist = 2.0
    for s in range(0, n, BLOCK):
        e = min(s + BLOCK, n)
        g = U[s:e] @ U.T  # float32 screen
        # float32 error on a 64-dim unit dot is <= ~1e-5; screen wide
        cand = np.argwhere(g >= COS_T - 1e-3)
        blk_max = -2.0
        for bi, j in cand:
            i = s + bi
            if i >= j:
                continue
            c = float(V64[i] @ V64[j] / (vn[i] * vn[j]))  # float64 verify
            blk_max = max(blk_max, c)
            min_dist = min(min_dist, abs(c - COS_T))
            if c >= COS_T:
                hits.append((int(vec_id[i]), int(vec_id[j]), c))
        # track the global max cos even when nothing clears the screen
        np.fill_diagonal(g[:, s:e], -2.0)
        max_cos = max(max_cos, float(g.max()), blk_max)
    return hits, max_cos, min_dist


def lsh_candidate_mask(V, pair_idx, n_vectors):
    """For each (i, j) index pair, whether banded LSH at the adaptive
    geometry for `n_vectors` makes it a candidate (some band signature
    matches).  Replicates functions/similarity.banded_signatures
    exactly: same md5 +-1 hyperplanes, same float64 matmul (the
    engine's pandas UDF runs the identical numpy expression), same
    bit packing."""
    from binancedatapipelineinaws_spark.functions.similarity import (
        _hyperplane_matrix,
        adaptive_band_geometry,
    )

    bands, rows = adaptive_band_geometry(n_vectors)
    W = np.array(_hyperplane_matrix(bands * rows), dtype=np.float64).T
    pow2 = 1 << np.arange(rows, dtype=np.int64)
    need = sorted({i for p in pair_idx for i in p})
    sub = {g: k for k, g in enumerate(need)}
    bits = (V[need].astype(np.float64) @ W) > 0
    sigs = bits.reshape(len(need), bands, rows) @ pow2
    return [
        bool((sigs[sub[i]] == sigs[sub[j]]).any()) for i, j in pair_idx
    ], (bands, rows)


def quantize(V):
    """Engine-identical scalar quantization: per-dim min/max over the
    float32 corpus, elementwise float64 (x-mn)/(mx-mn)*256 floor,
    clamped to [0, 255]."""
    mn = V.min(axis=0).astype(np.float64)
    mx = V.max(axis=0).astype(np.float64)
    q = np.floor((V.astype(np.float64) - mn) / (mx - mn) * float(Q_LEVELS))
    return np.clip(q, 0, Q_LEVELS - 1).astype(np.int64)


def ann_pq_rows(vec_id, cell, V64, vn, Q):
    """Per-query (query_id, k, n_hits, recall, corpus_recall_ok) rows,
    replicating the (score desc, neighbor_id) rank tie-breaks.
    Also returns the smallest rank-K score gap seen (flip guard)."""
    qn = np.linalg.norm(Q.astype(np.float64), axis=1)
    out = []
    min_gap = np.inf
    is_query = vec_id < N_QUERY
    for qi in np.nonzero(is_query)[0]:
        mask = (cell == cell[qi]) & (vec_id != vec_id[qi])
        idx = np.nonzero(mask)[0]
        exact = V64[idx] @ V64[qi] / (vn[idx] * vn[qi])
        code = Q[idx].astype(np.float64) @ Q[qi].astype(np.float64) / (
            qn[idx] * qn[qi]
        )
        nid = vec_id[idx]

        def topk(scores):
            o = np.lexsort((nid, -scores))
            k = min(TOP_K, len(o))
            if len(o) > k:
                gap = scores[o[k - 1]] - scores[o[k]]
            else:
                gap = np.inf
            return set(nid[o[:k]]), k, float(gap)

        te, k, g1 = topk(exact)
        # code_cos is exact in float64 (integer dots < 2^53) and ties
        # are broken by neighbor_id in both engines and here (lexsort)
        # — only the float exact_cos rank gap is flip-prone
        tp, _, _ = topk(code)
        min_gap = min(min_gap, g1)
        n_hits = len(te & tp)
        out.append(
            [int(vec_id[qi]), int(k), int(n_hits), round(n_hits / k, 6)]
        )
    mean_recall = sum(r[3] for r in out) / len(out)
    ok = bool(mean_recall >= PQ_RECALL_FLOOR)
    for r in out:
        r.append(ok)
    return out, float(min_gap), mean_recall


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else os.path.join(
        REPO, ".bench_sf10"
    )
    vec_id, label, V = load_embeddings(sf_dir)
    n = len(vec_id)
    print(f"{sf_dir}: {n} vectors x {V.shape[1]} dims")
    fp = corpus_fingerprint(vec_id, label, V)
    V64 = V.astype(np.float64)

    labels, C = exact_centroids(label, V)
    cell, vn, a_margin = assign(V64, labels, C)
    print(f"assignment margin: {a_margin:.6g}")
    assert a_margin > MARGIN, "ulp-flippable cell assignment"

    hits, max_cos, t_margin = threshold_pairs(vec_id, V64, vn)
    print(
        f"pairs >= {COS_T}: {len(hits)}; max cos {max_cos:.6f}; "
        f"closest approach to threshold {t_margin:.6g}"
    )
    assert t_margin > MARGIN, "ulp-flippable threshold decision"

    id2cell = dict(zip(vec_id.tolist(), cell.tolist()))
    id2label = dict(zip(vec_id.tolist(), label.tolist()))
    id2idx = {int(v): i for i, v in enumerate(vec_id)}
    pair_idx = [(id2idx[a], id2idx[b]) for a, b, _ in hits]
    cand_mask, geometry = lsh_candidate_mask(V, pair_idx, n)
    found = [h for h, m in zip(hits, cand_mask) if m]
    lsh_recall = len(found) / len(hits) if hits else 1.0
    print(
        f"LSH geometry {geometry}: {len(found)}/{len(hits)} true pairs "
        f"are candidates (deterministic recall {lsh_recall:.4f})"
    )
    # the banded design claims >= 0.996 per-pair at the threshold;
    # a materially lower DETERMINISTIC recall here means the ladder
    # geometry regressed, not bad luck — refuse the fixture
    assert lsh_recall >= 0.9, f"LSH ladder recall collapsed: {lsh_recall}"
    neardup = sorted(
        [a, b, id2label[a], id2label[b], round(c, 6)] for a, b, c in found
    )

    cells_sorted = sorted(np.unique(cell).tolist())
    n_vec = {c: int((cell == c).sum()) for c in cells_sorted}
    # the semdedup scale path intersects the SAME banded-LSH candidate
    # generator with the cell key, so its expected pairs are the found
    # (not merely true) pairs that share a cell
    in_cell = [
        (a, b) for a, b, _ in found if id2cell[a] == id2cell[b]
    ]
    n_pairs = {c: 0 for c in cells_sorted}
    removed = {c: set() for c in cells_sorted}
    for a, b in in_cell:
        c = id2cell[a]
        n_pairs[c] += 1
        removed[c].add(b)
    semdedup = [
        [
            int(c),
            n_vec[c],
            n_pairs[c],
            len(removed[c]),
            n_vec[c] - len(removed[c]),
        ]
        for c in cells_sorted
    ]

    Qc = quantize(V)
    pq, rank_gap, mean_recall = ann_pq_rows(vec_id, cell, V64, vn, Qc)
    print(
        f"ann_pq mean recall {mean_recall:.4f} "
        f"(floor {PQ_RECALL_FLOOR}); min rank-{TOP_K} gap {rank_gap:.6g}"
    )
    assert rank_gap > MARGIN, "ulp-flippable rank-K boundary"

    fixture = {
        "sf_dir_built_from": sf_dir,
        "n_vectors": n,
        "fingerprint": fp,
        "meta": {
            "assignment_margin": a_margin,
            "threshold_margin": t_margin,
            "rank_gap": rank_gap,
            "max_cos": max_cos,
            "ann_pq_mean_recall": mean_recall,
            "true_pairs": len(hits),
            "lsh_found_pairs": len(found),
            "lsh_recall": lsh_recall,
            "lsh_geometry": list(geometry),
        },
        "q_ext_semdedup": {
            "columns": ["cell", "n_vectors", "n_pairs", "n_removed",
                        "n_survivors"],
            "rows": semdedup,
        },
        "q_ext_embed_neardup": {
            "columns": ["vec_a", "vec_b", "label_a", "label_b", "cos_sim"],
            "rows": neardup,
        },
        "q_ext_ann_pq": {
            "columns": ["query_id", "k", "n_hits", "recall",
                        "corpus_recall_ok"],
            "rows": pq,
        },
    }
    out = os.path.join(REPO, "tests", "fixtures", f"recall_gt_{n}.json")
    with open(out, "w") as f:
        json.dump(fixture, f, indent=1)
    print(f"wrote {out}")


if __name__ == "__main__":
    main()
