"""Integer replay of a budgeted crawl over the synthetic corpus graph.

The same semantics as the engine's crawl round (and the sequential test
oracle) but on page ids only — no HTML, no spans — so it replays tens of
thousands of pages in well under a second: per host, pop the top
``budget`` frontier entries by (depth asc, url asc); fetched pages with
status 200 emit their out-links at depth + 1 up to ``max_depth``;
candidates take their minimum depth within the round, drop robots-
disallowed paths, and enter the frontier unless already seen.
"""

from __future__ import annotations

from goprowl_spark import corpus


def replay(
    n_pages: int,
    seeds: list[int],
    max_depth: int,
    budget: int | None,
    robots: dict[str, list[str]],
    rounds: int,
) -> tuple[list[tuple[int, int]], dict[int, int]]:
    """Returns ([(popped, candidates)] per round, {page id: depth} seen)."""
    frontier = {i: 0 for i in seeds}
    seen = dict(frontier)
    per_round = []
    for _ in range(rounds):
        if not frontier:
            break
        by_host: dict[int, list[int]] = {}
        for i in frontier:
            by_host.setdefault(corpus.host_id(i), []).append(i)
        popped = []
        for ids in by_host.values():
            ids.sort(key=lambda i: (frontier[i], corpus.url(i)))
            popped.extend(ids if budget is None else ids[:budget])
        cands: dict[int, int] = {}
        for i in popped:
            d = frontier.pop(i) + 1
            if corpus.status(i) != 200 or d > max_depth:
                continue
            for j in range(corpus.degree(i)):
                t = corpus.link_target(i, j, n_pages)
                if t not in cands or d < cands[t]:
                    cands[t] = d
        allowed = {
            t: d
            for t, d in cands.items()
            if not any(
                f"/p/{t}".startswith(p) for p in robots.get(corpus.host(t), ())
            )
        }
        for t, d in allowed.items():
            if t not in seen:
                seen[t] = d
                frontier[t] = d
        per_round.append((len(popped), len(allowed)))
    return per_round, seen
