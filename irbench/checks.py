"""Plain-Python references the benchmark checks the engine against.

Each function returns a list of human-readable problems; an empty list
means the output is correct.
"""

from __future__ import annotations

import math

import numpy as np

SCORE_TOL = 1e-4   # "equal to 4 decimal places"
EXACT_TOL = 1e-9


def compare_topk(
    got: list[tuple[int, float]], want: list[tuple[int, float]]
) -> list[str]:
    """Ranked (doc_id, score) lists must agree on scores position by
    position and on doc ids, where docs whose scores tie (within
    EXACT_TOL) may appear in either order."""
    if len(got) != len(want):
        return [f"{len(got)} results, expected {len(want)}"]
    problems = []
    for i, ((gd, gs), (wd, ws)) in enumerate(zip(got, want)):
        if abs(gs - ws) > SCORE_TOL:
            problems.append(f"rank {i + 1}: score {gs:.6f} != {ws:.6f}")
    i = 0
    while i < len(want):
        j = i + 1
        while j < len(want) and abs(want[j][1] - want[i][1]) <= EXACT_TOL:
            j += 1
        if {d for d, _ in got[i:j]} != {d for d, _ in want[i:j]}:
            problems.append(
                f"ranks {i + 1}-{j}: docs {[d for d, _ in got[i:j]]}"
                f" != {[d for d, _ in want[i:j]]}"
            )
        i = j
    return problems


def eval_from_run_file(
    path: str,
    qrels: list[tuple[str, str, float]],
    p_at: int = 5,
    ndcg_at: int = 10,
) -> dict[str, dict[str, float]]:
    """Per-query recall, RR, AP, P@k, DCG and nDCG recomputed from a TREC
    run file, with the engine's documented definitions (binary relevance
    at rel >= 1; nDCG ideal list from the retrieved docs)."""
    rel: dict[tuple[str, str], float] = {(q, d): r for q, d, r in qrels}
    num_rel: dict[str, int] = {}
    for q, _, r in qrels:
        if r >= 1.0:
            num_rel[q] = num_rel.get(q, 0) + 1
    runs: dict[str, list[tuple[int, str]]] = {}
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            qid, _q0, docid, rank, _score, _runid = line.split("\t")
            runs.setdefault(qid, []).append((int(rank), docid))
    out = {}
    for qid, rows in runs.items():
        rows.sort()
        gains = [rel.get((qid, d), 0.0) for _, d in rows]
        n_rel = num_rel.get(qid, 0)
        seen, ap_num, first = 0, 0.0, None
        for (rank, _), g in zip(rows, gains):
            if g >= 1.0:
                seen += 1
                ap_num += seen / rank
                first = first or rank
        dcg = sum(
            g / math.log2(rank + 1)
            for (rank, _), g in zip(rows, gains) if rank <= ndcg_at
        )
        ideal = sorted(
            ((-g, rank) for (rank, _), g in zip(rows, gains))
        )[:ndcg_at]
        idcg = sum(-ng / math.log2(i + 2) for i, (ng, _) in enumerate(ideal))
        out[qid] = {
            "num_ret": len(rows),
            "num_rel": n_rel,
            "num_rel_ret": seen,
            "recall": seen / n_rel if n_rel else 0.0,
            "rr": 1.0 / first if first else 0.0,
            "ap": ap_num / n_rel if n_rel else 0.0,
            f"p_at_{p_at}": sum(
                1 for (rank, _), g in zip(rows, gains) if rank <= p_at and g >= 1.0
            ) / p_at,
            "dcg": dcg,
            "ndcg": dcg / idcg if idcg > 0 else 0.0,
        }
    return out


def compare_eval(
    got: dict[str, dict[str, float]], want: dict[str, dict[str, float]]
) -> list[str]:
    if set(got) != set(want):
        return [f"queries {sorted(got)} != {sorted(want)}"]
    problems = []
    for qid, w in want.items():
        for k, v in w.items():
            if abs(got[qid][k] - v) > EXACT_TOL * max(1.0, abs(v)):
                problems.append(f"{qid}.{k}: {got[qid][k]} != {v}")
    return problems


def check_ranked_run(rows: list[tuple[str, int, int, float]], k: int) -> list[str]:
    """(qid, doc_id, rank, score) rows: ranks 1..n <= k per query, scores
    non-increasing, no doc twice."""
    by_q: dict[str, list[tuple[int, int, float]]] = {}
    for qid, doc, rank, score in rows:
        by_q.setdefault(qid, []).append((rank, doc, score))
    problems = []
    for qid, rs in by_q.items():
        rs.sort()
        if [r for r, _, _ in rs] != list(range(1, len(rs) + 1)) or len(rs) > k:
            problems.append(f"{qid}: ranks are not 1..n<= {k}")
        if any(a[2] < b[2] for a, b in zip(rs, rs[1:])):
            problems.append(f"{qid}: scores increase with rank")
        if len({d for _, d, _ in rs}) != len(rs):
            problems.append(f"{qid}: a doc is ranked twice")
    return problems


def check_pairs(
    pairs: list[tuple[int, int, float]],
    planted: list[tuple[int, int]],
    value_of,
    threshold: float,
    what: str,
) -> list[str]:
    """Emitted (a, b, value) pairs: a < b, the value equals the exact
    similarity ``value_of(a, b)`` and clears the threshold; every planted
    pair is emitted (recall 1.0)."""
    problems = []
    emitted = set()
    for a, b, v in pairs:
        emitted.add((a, b))
        exact = value_of(a, b)
        if a >= b or abs(v - exact) > EXACT_TOL or exact < threshold - EXACT_TOL:
            problems.append(f"{what} pair ({a}, {b}) = {v}, exact {exact}")
    missed = [p for p in planted if p not in emitted]
    if missed:
        problems.append(f"{what} missed {len(missed)} planted pairs: {missed[:5]}")
    return problems[:20]


def jaccard_of(tokens: list[list[str]]):
    sets = [np.unique(np.asarray(t, dtype=object).astype(str)) for t in tokens]

    def value_of(a: int, b: int) -> float:
        inter = np.intersect1d(sets[a], sets[b], assume_unique=True).size
        return inter / (sets[a].size + sets[b].size - inter)

    return value_of


def cosine_of(emb: np.ndarray):
    unit = emb / np.linalg.norm(emb, axis=1, keepdims=True)

    def value_of(a: int, b: int) -> float:
        return float(unit[a] @ unit[b])

    return value_of
