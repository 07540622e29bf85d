#!/usr/bin/env python
"""sf1 hash-oracle cross-check for the three embedding-pair ops whose
DuckDB oracles are intractable at sf1.

Why a separate tool (r10): the committed oracles for
`dedup_embedding_cosine` (all-pairs by declared contract),
`dedup_embedding_rp_lsh` and `dedup_semantic_centroid` (banded /
cluster-bounded candidates, but ~3e8 candidate pairs at sf1) compute
per-pair cosines with DuckDB list lambdas — fine at sf0.1, hours at
sf1. This tool re-derives each op's EXACT output with numpy blocked
matmuls for candidate generation plus a pure-Python LEFT-FOLD re-check
of every surviving pair, then hash-compares against the Spark output.

Soundness of the numpy shortcut: both engines compute cosines as
strict left-to-right folds of doubles; numpy's pairwise summation can
differ from the fold by ~1e-12 relative. So numpy is used ONLY to
bound the candidate set (threshold relaxed by MARGIN=1e-9 — a pair
the fold would accept cannot sit further below the numpy value than
the summation-order error), and every pair inside the relaxed band is
re-scored with the exact fold the engines use. Rounding mirrors
Spark's ROUND (Java BigDecimal HALF_UP on the exact binary double)
via decimal.Decimal(x).quantize(..., ROUND_HALF_UP).

Usage:
    python tools/sf1_embedding_check.py [--sf-dir DIR] [--out FILE]
"""

from __future__ import annotations

import argparse
import decimal
import json
import math
import os
import sys
import time

import numpy as np

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

MARGIN = 1e-9  # numpy-vs-fold summation-order safety band


def fold_dot(a, b) -> float:
    acc = 0.0
    for x, y in zip(a, b):
        acc += x * y
    return acc


def fold_norm(a) -> float:
    acc = 0.0
    for x in a:
        acc += x * x
    return math.sqrt(acc)


def spark_round4(x: float) -> float:
    """Spark ROUND(x, 4): HALF_UP on the exact binary double."""
    return float(
        decimal.Decimal(x).quantize(decimal.Decimal("0.0001"), decimal.ROUND_HALF_UP)
    )


def load_vectors(sf_dir: str):
    import duckdb

    p = os.path.join(sf_dir, "embeddings.parquet")
    src = f"{p}/*.parquet" if os.path.isdir(p) else p
    con = duckdb.connect()
    rows = con.sql(
        f"SELECT vec_id, embedding FROM '{src}' ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in rows], dtype=np.int64)
    # float32 storage cast per-element to double, as both engines do
    V = np.array([r[1] for r in rows], dtype=np.float32).astype(np.float64)
    return ids, V


def exact_pair(ids, V, norms, i, j, tau):
    """Exact-fold cosine for row indexes (i, j); None if below tau."""
    c = fold_dot(V[i], V[j]) / (norms[i] * norms[j])
    return c if c >= tau else None


def candidate_cosines_blocked(V, norms, tau, block=2048):
    """All-pairs numpy cosine >= tau - MARGIN, upper triangle, as a
    list of (i, j) row-index pairs. Blocked so the matrix never
    materializes (50k x 50k would be 20 GB)."""
    n = V.shape[0]
    out = []
    for s in range(0, n, block):
        e = min(s + block, n)
        G = V[s:e] @ V.T  # (block, n)
        C = G / (norms[s:e, None] * norms[None, :])
        ii, jj = np.nonzero(C >= tau - MARGIN)
        for a, b in zip(ii, jj):
            gi, gj = s + int(a), int(b)
            if gi < gj:
                out.append((gi, gj))
    return out


def check_embedding_cosine(ids, V, norms, spark_rows, tau):
    cands = candidate_cosines_blocked(V, norms, tau)
    mine = {}
    for i, j in cands:
        c = exact_pair(ids, V, norms, i, j, tau)
        if c is not None:
            mine[(int(ids[i]), int(ids[j]))] = spark_round4(c)
    theirs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in spark_rows}
    return mine, theirs


def rp_lsh_model():
    from pwir_zadanie_4_mapreduce_spark.operators.dedup import (
        RP_DEDUP_BANDS,
        _RP_BAND_W,
        _rp_dedup_model,
    )

    return np.array(_rp_dedup_model(), dtype=np.float64), RP_DEDUP_BANDS, _RP_BAND_W


def check_rp_lsh(ids, V, norms, spark_rows, tau):
    planes, n_bands, band_w = rp_lsh_model()
    n = V.shape[0]
    # signatures: sign bits of plane dots. Plane dots are 16 folds of
    # 64 terms per vector; numpy projections + exact-fold re-check of
    # any projection within MARGIN of zero (a sign flip there would
    # change banding).
    P = V @ planes.T  # (n, 16)
    risky = np.nonzero(np.abs(P) < MARGIN)
    for a, b in zip(*risky):
        P[a, b] = fold_dot(V[a], planes[b])
    bits = (P >= 0).astype(np.int64)
    sig = (bits << np.arange(planes.shape[0], dtype=np.int64)[None, :]).sum(axis=1)
    bits_per_band = planes.shape[0] // n_bands
    cand = set()
    for k in range(n_bands):
        bv = (sig // (band_w**k)) % band_w
        order = np.argsort(bv, kind="stable")
        sv = bv[order]
        starts = np.nonzero(np.r_[True, sv[1:] != sv[:-1]])[0]
        bounds = list(starts) + [n]
        for bi in range(len(starts)):
            members = order[bounds[bi] : bounds[bi + 1]]
            if len(members) < 2:
                continue
            W = V[members]
            nm = norms[members]
            G = (W @ W.T) / (nm[:, None] * nm[None, :])
            ii, jj = np.nonzero(G >= tau - MARGIN)
            for a, b in zip(ii, jj):
                gi, gj = int(members[a]), int(members[b])
                if gi < gj:
                    cand.add((gi, gj))
                elif gj < gi:
                    cand.add((gj, gi))
    mine = {}
    for i, j in cand:
        c = exact_pair(ids, V, norms, i, j, tau)
        if c is not None:
            mine[(int(ids[i]), int(ids[j]))] = spark_round4(c)
    theirs = {(r["vec_a"], r["vec_b"]): r["cosine"] for r in spark_rows}
    return mine, theirs


def check_semantic_centroid(ids, V, norms, spark_rows, tau, k):
    # seed codebook = k lowest vec_ids; ids are sorted already
    C = V[:k]
    cn = norms[:k]
    S = (V @ C.T) / (norms[:, None] * cn[None, :])  # (n, k)
    # exact-fold re-check where the top-2 gap is inside MARGIN
    top2 = np.partition(S, -2, axis=1)[:, -2:]
    risky = np.nonzero(top2[:, 1] - top2[:, 0] < MARGIN)[0]
    for r in risky:
        S[r] = [fold_dot(V[r], C[c]) / (norms[r] * cn[c]) for c in range(k)]
    # argmax with lowest-centroid-id tie-break == first argmax
    assign = np.argmax(S, axis=1)
    mine = {}
    for cid in range(k):
        members = np.nonzero(assign == cid)[0]
        if len(members) < 2:
            continue
        W = V[members]
        nm = norms[members]
        G = (W @ W.T) / (nm[:, None] * nm[None, :])
        ii, jj = np.nonzero(G >= tau - MARGIN)
        per_victim: dict[int, int] = {}
        for a, b in zip(ii, jj):
            gi, gj = int(members[a]), int(members[b])
            if gi >= gj:
                continue
            c = exact_pair(ids, V, norms, gi, gj, tau)
            if c is None:
                continue
            if gj not in per_victim or gi < per_victim[gj]:
                per_victim[gj] = gi
        for victim, witness in per_victim.items():
            c = fold_dot(V[witness], V[victim]) / (norms[witness] * norms[victim])
            mine[(int(ids[victim]), int(ids[witness]))] = (
                int(ids[cid]),  # centroid label = vec_id of the seed row
                spark_round4(c),
            )
    theirs = {
        (r["vec_id"], r["dup_of"]): (r["centroid_id"], r["dup_cosine"])
        for r in spark_rows
    }
    return mine, theirs


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default=os.path.join(REPO_ROOT, ".fixtures/multifile/sf1"))
    ap.add_argument("--out", default=None)
    args = ap.parse_args()

    from pwir_zadanie_4_mapreduce_spark.operators.dedup import (
        COSINE_DUP_THRESHOLD,
        SEMANTIC_DUP_THRESHOLD,
        SEMDEDUP_K,
    )
    from pwir_zadanie_4_mapreduce_spark.session import build_session

    ids, V = load_vectors(args.sf_dir)
    norms = np.array([fold_norm(v) for v in V])
    print(f"loaded {len(ids)} vectors from {args.sf_dir}")

    spark = build_session(cpus=None)
    import __spark_entry__ as entrymod

    qs = entrymod.queries()
    results = {}
    checks = [
        ("dedup_embedding_cosine", check_embedding_cosine, (COSINE_DUP_THRESHOLD,)),
        ("dedup_embedding_rp_lsh", check_rp_lsh, (COSINE_DUP_THRESHOLD,)),
        (
            "dedup_semantic_centroid",
            check_semantic_centroid,
            (SEMANTIC_DUP_THRESHOLD, SEMDEDUP_K),
        ),
    ]
    fails = []
    for name, fn, extra in checks:
        t0 = time.monotonic()
        spark_rows = [r.asDict() for r in qs[name](spark, args.sf_dir).collect()]
        t_spark = time.monotonic() - t0
        t0 = time.monotonic()
        mine, theirs = fn(ids, V, norms, spark_rows, *extra)
        t_ref = time.monotonic() - t0
        ok = mine == theirs
        results[name] = {
            "status": "pass" if ok else "fail",
            "method": "numpy-candidates+exact-fold-verify",
            "spark_rows": len(theirs),
            "ref_rows": len(mine),
            "spark_s": round(t_spark, 1),
            "ref_s": round(t_ref, 1),
        }
        if not ok:
            fails.append(name)
            only_m = sorted(set(mine) - set(theirs))[:3]
            only_t = sorted(set(theirs) - set(mine))[:3]
            diff_v = [
                (k, mine[k], theirs[k])
                for k in list(set(mine) & set(theirs))
                if mine[k] != theirs[k]
            ][:3]
            results[name]["probs"] = {
                "only_ref": only_m,
                "only_spark": only_t,
                "value_diff": diff_v,
            }
        print(f"{'ok  ' if ok else 'FAIL'} {name} "
              f"(spark {t_spark:.1f}s, ref {t_ref:.1f}s, rows {len(theirs)})")
        if not ok:
            print("  ", results[name]["probs"])
    summary = {
        "sf_dir": args.sf_dir,
        "total": len(checks),
        "pass": len(checks) - len(fails),
        "rows_only": 0,
        "fail": len(fails),
        "queries": results,
    }
    if args.out:
        with open(args.out, "w") as fh:
            json.dump(summary, fh, indent=1)
        print(f"wrote {args.out}")
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
