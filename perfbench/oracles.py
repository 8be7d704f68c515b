"""Independent expected outputs for every workload.

* :func:`crawl_oracle` replays a politeness-budgeted BFS over the synthetic
  graph in plain integer arithmetic, for any number of seeds. It is the
  many-seed form of ``corpus.budget_bfs_oracle_sql``: the same pop order
  (depth, then url, per host), the same expansion rule (status 200 only,
  depth cap) and the same dedup (minimum depth, against everything seen).
* :func:`check_topk` compares a ranked top-k with the DuckDB oracle's full
  ranking (``ranking.bm25_oracle_sql`` / ``tfidf_oracle_sql``).
* :func:`rows_match` compares a result with its ``contract.oracle_sql()``
  twin after ``tools/check_contract.py``'s normalization, with a float
  tolerance for last-digit rounding.
"""

from __future__ import annotations

import hashlib
import math

from goprowl_spark import corpus

FLOAT_TOL = 2e-4


def seen_hash(pairs) -> int:
    """Order-insensitive hash of (url, depth) pairs."""
    h = 0
    for url, depth in pairs:
        d = hashlib.blake2b(f"{url}\t{depth}".encode(), digest_size=8).digest()
        h = (h + int.from_bytes(d, "little")) % (1 << 64)
    return h


def crawl_oracle(
    n: int, seeds: list[int], max_depth: int, budget: int, rounds: int
) -> tuple[list[dict], dict[int, int]]:
    """Returns (per-round {popped, candidates, enqueued}, seen set as
    {page index: first depth}) after ``rounds`` rounds."""
    seen: dict[int, int] = {i: 0 for i in seeds}
    frontier: dict[int, list[tuple[int, str, int]]] = {}
    for i in seeds:
        frontier.setdefault(corpus.host_id(i), []).append((0, str(i), i))
    per_round = []
    for _ in range(rounds):
        popped: list[tuple[int, str, int]] = []
        for h, items in frontier.items():
            if len(items) <= budget:
                popped.extend(items)
                frontier[h] = []
            else:
                items.sort()
                popped.extend(items[:budget])
                frontier[h] = items[budget:]
        cands: dict[int, int] = {}
        for depth, _, i in popped:
            if corpus.status(i) != 200 or depth + 1 > max_depth:
                continue
            for j in range(corpus.degree(i)):
                t = corpus.link_target(i, j, n)
                if cands.get(t, depth + 2) > depth + 1:
                    cands[t] = depth + 1
        enq = 0
        for t, d in cands.items():
            if t not in seen:
                seen[t] = d
                frontier.setdefault(corpus.host_id(t), []).append((d, str(t), t))
                enq += 1
        per_round.append(
            {"popped": len(popped), "candidates": len(cands), "enqueued": enq}
        )
    return per_round, seen


def seen_pairs(seen: dict[int, int]):
    """The oracle's seen set as the crawl stores it: (url, depth) pairs."""
    return ((corpus.url(i), d) for i, d in seen.items())


def close(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=FLOAT_TOL)
    return a == b


def check_topk(got: list[tuple], oracle: list[tuple], k: int) -> str | None:
    """``got``: engine top-k (doc_id, score); ``oracle``: the oracle's full
    ranking. Ties at the cut may be broken differently by last-digit float
    differences, so each returned doc must carry its oracle score and no
    omitted doc may outscore the engine's k-th hit. None when they agree."""
    want = oracle[:k]
    if len(got) != len(want):
        return f"top-k size {len(got)} != oracle {len(want)}"
    by_id = {d: s for d, s in oracle}
    for d, s in got:
        if d not in by_id or not close(float(s), float(by_id[d])):
            return f"doc {d!r} score {s} vs oracle {by_id.get(d)}"
    for (_, s), (_, w) in zip(got, want):
        if not close(float(s), float(w)):
            return f"score at rank differs: {s} vs {w}"
    return None


def rows_match(rows, cols, orows, ocols, normalize) -> str | None:
    """Contract-style comparison: same columns, same row count, same
    normalized values within FLOAT_TOL. None when they agree."""
    if sorted(cols) != sorted(ocols):
        return f"schema {sorted(cols)} vs oracle {sorted(ocols)}"
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} vs oracle {len(orows)}"

    def key(r):
        return repr(tuple(round(v, 3) if isinstance(v, float) else v for v in r))

    a = sorted(normalize(rows, cols), key=key)
    b = sorted(normalize(orows, ocols), key=key)
    for x, y in zip(a, b):
        if len(x) != len(y) or not all(close(u, v) for u, v in zip(x, y)):
            return f"values differ: {x} vs {y}"
    return None
