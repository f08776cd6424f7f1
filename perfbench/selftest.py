"""Self-test of the checker in ``oracle``, on a hand-built graph.

    python3 perfbench/selftest.py

Every check must accept the right answer and flag a planted wrong
one, so none of them passes vacuously. Needs neither Spark nor the
engine. Exits 0 when all cases behave.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import oracle  # noqa: E402

#   a -> b -> c -> d      f      g -> h      x: not a vertex
#   a -> e ------> d
#   a -> x
IDS = ["a", "b", "c", "d", "e", "f", "g", "h"]
EDGES = [("a", "b", "l", ""), ("b", "c", "l", ""), ("c", "d", "l", ""),
         ("a", "e", "l", ""), ("e", "d", "l", ""), ("g", "h", "l", ""),
         ("a", "x", "l", "")]


def _pagerank_by_hand(alpha: float, precision: float, rounds: int):
    """The documented recurrence, one vertex at a time."""
    n = len(IDS)
    deg = {v: sum(1 for s, *_ in EDGES if s == v) for v in IDS}
    rank = {v: 1.0 / n for v in IDS}
    for _ in range(rounds):
        new = {v: alpha / n + (1 - alpha) * sum(
            rank[s] / deg[s] for s, d, *_ in EDGES if d == v)
            for v in IDS}
        comp = (1 - sum(new.values())) / n
        new = {v: r + comp for v, r in new.items()}
        changed = sum(abs(new[v] - rank[v]) for v in IDS)
        rank = new
        if changed < precision:
            break
    return rank


def _check(g: oracle.Graph, ep: str, req: dict, rows: list):
    return oracle.check(ep, oracle.expect(g, ep, req), rows)


def cases():
    g = oracle.Graph(IDS, EDGES)
    k2 = {"source": "a", "max_depth": 2}
    yield "kout", _check(g, "kout", k2, [("c",), ("d",)]), True
    yield ("kout off-by-one layer",
           _check(g, "kout", k2, [("b",), ("e",)]), False)
    yield ("kneighbor", _check(
        g, "kneighbor", k2,
        [("b", 1), ("e", 1), ("x", 1), ("c", 2), ("d", 2)]), True)
    yield ("kneighbor off-by-one layer", _check(
        g, "kneighbor", k2,
        [("b", 1), ("e", 1), ("x", 1), ("c", 2), ("d", 3)]), False)
    same = {"vertex": "c", "other": "e"}
    yield "sameneighbors", _check(g, "sameneighbors", same, [("d",)]), True
    yield ("sameneighbors extra", _check(
        g, "sameneighbors", same, [("d",), ("b",)]), False)
    sp = {"source": "a", "target": "d", "max_depth": 3}
    yield ("shortestpath", _check(g, "shortestpath", sp, [("a>e>d", 2)]),
           True)
    yield ("shortestpath not shortest", _check(
        g, "shortestpath", sp, [("a>b>c>d", 3)]), False)
    yield ("shortestpath missing edge", _check(
        g, "shortestpath", sp, [("a>c>d", 2)]), False)
    yield ("shortestpath out of depth", _check(
        g, "shortestpath", {**sp, "max_depth": 1}, []), True)
    yield ("shortestpath found out of depth", _check(
        g, "shortestpath", {**sp, "max_depth": 1}, [("a>e>d", 2)]), False)

    # a write: the reference must see it, and a stale answer must fail
    w = g.copy()
    w.upsert([("a", "f", "l", "1")])
    k1 = {"source": "a", "max_depth": 1}
    yield ("kout after write", _check(
        w, "kout", k1, [("b",), ("e",), ("x",), ("f",)]), True)
    yield ("kout stale neighbour set", _check(
        w, "kout", k1, [("b",), ("e",), ("x",)]), False)
    yield ("copy untouched by write", _check(
        g, "kout", k1, [("b",), ("e",), ("x",)]), True)

    comp = g.components()
    right = {"a": "a", "b": "a", "c": "a", "d": "a", "e": "a", "f": "f",
             "g": "g", "h": "g"}
    yield "wcc", oracle.check_wcc(comp, list(right.items())), True
    yield ("wcc wrong label", oracle.check_wcc(
        comp, list({**right, "h": "h"}.items())), False)

    alpha, precision = 0.15, 1e-4
    want = g.page_rank(alpha, precision, 20)
    by_hand = _pagerank_by_hand(alpha, precision, 20)
    yield ("page_rank", oracle.check_page_rank(
        want, list(by_hand.items()), precision), True)
    bumped = {**by_hand, "d": by_hand["d"] + precision}
    yield ("page_rank perturbed rank", oracle.check_page_rank(
        want, list(bumped.items()), precision), False)
    yield ("page_rank missing vertex", oracle.check_page_rank(
        want, list(by_hand.items())[1:], precision), False)

    star = oracle.Graph(["s"], [("s", f"t{i}", "l", "")
                                for i in range(oracle.DEFAULT_MAX_DEGREE)])
    try:
        oracle.check_degree_cap(star)
        yield "degree cap binds", None, False
    except ValueError as e:
        yield "degree cap binds", str(e), False
    oracle.check_degree_cap(g)
    yield "degree cap free", None, True


def main() -> int:
    bad = 0
    for name, why, should_pass in cases():
        good = (why is None) == should_pass
        bad += not good
        print(f"{'ok ' if good else 'BAD'} {name}: "
              f"{'accepted' if why is None else 'flagged: ' + why}")
    print(f"{bad} of the checker's cases misbehaved")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
