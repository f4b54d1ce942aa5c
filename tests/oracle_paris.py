"""Independent pure-Python oracle for the PARIS Jacobi iteration.

Re-derives the reference formulas (model/PARIS.py:56-78,100-122;
objects/KGs.py:211-220,222-241) on plain dicts with Jacobi state reads —
the same semantics the Spark engine implements — so the DataFrame DAG can
be checked value-for-value. This is a test oracle, not engine code.
"""

from __future__ import annotations

from collections import defaultdict


def clamp01(x: float) -> float:
    return 0.0 if x < 0.0 else (1.0 if x > 1.0 else x)


def one_way_oracle(
    facts_l: list[tuple[int, int, int, bool, bool]],
    facts_r: list[tuple[int, int, int, bool, bool]],
    func_l: dict[int, float],
    func_r: dict[int, float],
    matches_sub: dict[int, tuple[int, float]],
    rel_al_l: dict[tuple[int, int], float],
    rel_al_r: dict[tuple[int, int], float],
    theta: float,
    epsilon: float,
    delta: float,
    const: float,
    init: bool,
    ent_align: bool = True,
):
    """facts: (subj, pred, obj, subj_is_lit, obj_is_lit) incl. INV rows.

    Returns (rel_align_new, best_candidates) where best_candidates maps
    e -> (counterpart, prob) with the (val, cand) max tie-break the engine
    pins (reference tie-break is insertion-order-dependent, PARIS.py:49-50).
    """
    by_head_r = defaultdict(list)
    for s, p, o, _sl, ol in facts_r:
        if not ol:  # literal tails skipped (model/PARIS.py:110-111)
            by_head_r[s].append((p, o))

    norm: dict[int, float] = defaultdict(float)
    ongoing: dict[tuple[int, int], float] = defaultdict(float)
    cand_prod: dict[tuple[int, int], float] = {}

    for h, r, e, _sl, ol in facts_l:
        if ol:  # kernel tails are entities only (objects/KGs.py:187,233)
            continue
        got = matches_sub.get(h)
        if got is None:
            continue
        h_cp, p_h = got
        if p_h < theta:
            continue
        e_cp, p_e = matches_sub.get(e, (None, 0.0))
        if e_cp is not None:
            norm[r] += p_h * p_e  # PARIS.py:105-107
        for r2, t2 in by_head_r.get(h_cp, []):
            if e_cp is not None and t2 == e_cp and p_e > 0.0:
                ongoing[(r, r2)] += p_h * p_e  # PARIS.py:112-115
            if ent_align:
                p_sub = clamp01(rel_al_l.get((r, r2), 0.0)) / epsilon
                p_sup = clamp01(rel_al_r.get((r2, r), 0.0)) / epsilon
                if p_sub < theta and p_sup < theta:
                    if init:
                        p_sub, p_sup = theta, theta  # PARIS.py:62-64
                    else:
                        continue
                f_l = func_l.get(r, 0.0) / epsilon
                f_r = func_r.get(r2, 0.0) / epsilon
                factor = (1.0 - p_h * p_sup * f_r) * (1.0 - p_h * p_sub * f_l)
                if 1.0 - factor > delta:  # PARIS.py:75-78
                    cand_prod[(e, t2)] = cand_prod.get((e, t2), 1.0) * factor

    rel_new = {
        (r, r2): s / (const + norm.get(r, 1.0)) for (r, r2), s in ongoing.items()
    }  # objects/KGs.py:211-220 (norm defaults to 1.0)

    best: dict[int, tuple[int, float]] = {}
    per_e: dict[int, list[tuple[float, int]]] = defaultdict(list)
    for (e, t2), prod in cand_prod.items():
        per_e[e].append((clamp01(1.0 - prod), t2))
    for e, vals in per_e.items():
        v, c = max(vals)  # deterministic (val, cand) tie-break
        best[e] = (c, v)
    return rel_new, best


def relation_pass_oracle(
    facts_l, facts_r, func_l, func_r, matches_sub, theta, epsilon, delta, const
):
    """The rel-align-only pass (objects/KGs.py:107): one_way_oracle's
    rel-align output with entity alignment switched off."""
    rel_new, _ = one_way_oracle(
        facts_l, facts_r, func_l, func_r, matches_sub, {}, {},
        theta, epsilon, delta, const, init=True, ent_align=False,
    )
    return rel_new


def max_merge_oracle(prev: dict, update: dict) -> dict:
    out = dict(prev)
    for e, (c, p) in update.items():
        if e not in out or p >= out[e][1]:
            out[e] = (c, p)
    return out


def bipartite_oracle(
    sub: dict[int, tuple[int, float]],
    sup: dict[int, tuple[int, float]],
    sub_is_lit: set[int],
    sup_is_lit: set[int],
):
    """objects/KGs.py:222-241 with the engine's deterministic claim pick."""
    new_sup = dict(sup)
    claims: dict[int, tuple[float, int]] = {}
    for e, (c, p) in sub.items():
        if e in sub_is_lit:
            continue
        if c not in claims or (p, e) > claims[c]:
            claims[c] = (p, e)
    for c, (p, e) in claims.items():
        cur = new_sup.get(c, (None, 0.0))
        if p > cur[1]:
            new_sup[c] = (e, p)
    new_sub = {}
    for e, (c, p) in sub.items():
        if e in sub_is_lit:
            new_sub[e] = (c, p)
            continue
        rc = new_sup.get(c)
        if rc is None or rc[0] == e:
            new_sub[e] = (c, p)
    return new_sub, new_sup
