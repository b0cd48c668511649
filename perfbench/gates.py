"""Correctness gates. Each returns True when a result is right.

``ranked_exact`` is the standing WAND identity rule (the one in
``tools/bench_retrieval_e2e.py``): rank and doc_id exact, score within
1e-9. ``ranked_close`` is for comparisons across engines (Spark vs the
pure-Python oracle, float32 fusion): scores must match rank by rank within
``tol``, relative above 1 and absolute below (``pytest.approx(rel=tol,
abs=tol)``, as tests/test_fusion.py compares float32 fusion), and doc ids
may differ only inside a run of tied scores, where the two sides must hold
the same set.
"""

from __future__ import annotations

SCORE_TOL = 1e-9


def ranked_exact(got: list[tuple], exp: list[tuple], tol: float = SCORE_TOL) -> bool:
    """got / exp: [(rank, doc_id, score)] of one query, any order."""
    got, exp = sorted(got), sorted(exp)
    return len(got) == len(exp) and all(
        g[0] == e[0] and g[1] == e[1] and abs(g[2] - e[2]) <= tol for g, e in zip(got, exp)
    )


def close(a: float, b: float, tol: float) -> bool:
    return abs(a - b) <= tol * max(1.0, abs(b))


def ranked_close(got: list[tuple], exp: list[tuple], tol: float) -> bool:
    """got / exp: [(doc_id, score)] in rank order."""
    if len(got) != len(exp):
        return False
    if not all(close(g[1], e[1], tol) for g, e in zip(got, exp)):
        return False
    i = 0
    while i < len(exp):
        j = i + 1
        while j < len(exp) and close(exp[j][1], exp[i][1], tol):
            j += 1
        if {d for d, _ in got[i:j]} != {d for d, _ in exp[i:j]}:
            return False
        i = j
    return True


def values_close(got: dict, exp: dict, tol: float = SCORE_TOL) -> bool:
    return set(got) == set(exp) and all(close(got[k], exp[k], tol) for k in exp)


def perturb(rows: list[tuple]) -> list[tuple]:
    """Swap the doc_ids of the first two rows of a [(rank, doc_id, score)]
    list: the self-test shows ``ranked_exact`` counts this as a failure."""
    rows = sorted(rows)
    if len(rows) < 2:
        raise ValueError("need two rows to perturb")
    (r0, d0, s0), (r1, d1, s1) = rows[0], rows[1]
    return [(r0, d1, s0), (r1, d0, s1)] + rows[2:]
