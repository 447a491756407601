"""Single-threaded pure-Python oracle of the crawl-frontier semantics.

Implements exactly the round contract of ccspark.frontier.CrawlFrontier
(novelty → robots → budget → priority rank → link expansion → merge)
with plain dicts/sets — no Spark — to verify that the distributed plan
reproduces the sequential crawl ordering and seen membership under the
same seed list and politeness budget (SURVEY.md §5 item 3-4).
"""

from __future__ import annotations

import re

import numpy as np

from ccspark import politeness, synth, urls
from ccspark.frontier import LINK_DECAY

_HOST_RE = re.compile(r"^[a-z]+://(?:[^/@]*@)?([^/:?#]+)")
_PATH_RE = re.compile(politeness.PATH_RE)


def _host_path(canonical: str) -> tuple[str, str]:
    host = _HOST_RE.match(canonical).group(1)
    m = _PATH_RE.match(canonical)
    path = m.group(1) if m and m.group(1) else "/"
    return host, path


def _identify(url_list, priorities, round_no, frontier=None):
    """canonical-identity dedup with max-priority / min-url merge."""
    out = frontier if frontier is not None else {}
    for url, pri in zip(url_list, priorities):
        canon = urls.canonicalize_url(url)
        if canon is None:
            continue
        fp = urls.urlfp_batch(__import__("pandas").Series([canon]))
        if not bool(fp["valid"][0]):
            continue
        key = (int(fp["domain_hash"][0]), int(fp["url_hash"][0]))
        if key in out:
            u, c, p, r = out[key]
            out[key] = (min(u, url), c, max(p, pri), min(r, round_no))
        else:
            out[key] = (url, canon, pri, round_no)
    return out


def replay(
    universe_n,
    n_hosts,
    seed,
    num_rounds,
    default_budget,
    round_ms,
    links_per_fetch,
    revisit_after=None,
    revisit_decay=0.5,
    robots=None,
    max_frontier_per_host=None,
    injected=None,
):
    """Returns (trace, seen): trace = set of (round, host, host_rank,
    canonical_url); seen = set of (domain_hash, url_hash).

    ``revisit_after`` mirrors FrontierConfig: round r's scheduled rows
    re-enter the candidate pool at round r+revisit_after with decayed
    priority, competing under the same robots/budget politeness.
    ``max_frontier_per_host`` mirrors the FrontierConfig cap: each
    host's next-frontier queue keeps its first rows in the frontier
    total order (priority DESC, domain_hash, url_hash).
    ``injected`` maps a round to (urls, priorities) joining its
    candidates, as ``run_round(k, injected=...)``: merged into the
    frontier by identity, then gated against the seen set like it."""
    import pandas as pd

    # seeds: ids % 23 == 0, urls + priorities as in synth.gen_seeds
    ids = np.arange(universe_n, dtype=np.int64)
    ids = ids[ids % 23 == 0]
    seed_urls, _ = synth.gen_urls_pdf(ids, n_hosts, seed)
    seed_pri = (synth._rand(ids, 9, seed) % np.uint64(1000)).astype(np.float64) / 1000.0

    if robots is None:
        robots_pdf = synth.gen_robots_pdf(n_hosts, seed)
        robots = {
            row.host: (tuple(row.disallow_prefixes), row.crawl_delay_ms, row.max_fetches_per_round)
            for row in robots_pdf.itertuples()
        }

    frontier = _identify(seed_urls.tolist(), seed_pri.tolist(), 0)
    seen: set[tuple[int, int]] = set()
    trace: set[tuple[int, str, int, str]] = set()

    sched_by_round: dict[int, list] = {}
    last_sched_round = 0

    for rnd in range(1, num_rounds + 1):
        pool = _identify(*(injected or {}).get(rnd, ([], [])), rnd, frontier=dict(frontier))
        novel = {k: v for k, v in pool.items() if k not in seen}
        candidates = dict(novel)
        if revisit_after and rnd - revisit_after >= 1:
            # revisit injection: seen identities by design, so they are
            # disjoint from novel; decayed priority, rediscovered now
            for dh, uh, url, canon, pri in sched_by_round.get(rnd - revisit_after, []):
                candidates[(dh, uh)] = (url, canon, pri * revisit_decay, rnd)
        # group by host
        by_host: dict[str, list] = {}
        excluded: set[tuple[int, int]] = set()
        for (dh, uh), (url, canon, pri, drnd) in candidates.items():
            host, path = _host_path(canon)
            rule = robots.get(host)
            if rule is not None and any(path.startswith(p) for p in rule[0]):
                # disallowed: retired into the seen set (never scheduled,
                # drains from the frontier) — mirrors run_round's
                # seen_delta = scheduled ∪ disallowed
                excluded.add((dh, uh))
                continue
            if rule is not None:
                delay, maxf = rule[1], rule[2]
                base = int(maxf) if maxf is not None and not pd_isna(maxf) else default_budget
                if delay is not None and not pd_isna(delay) and delay > 0:
                    cap = max(1, int(round_ms / delay))
                    budget = min(base, cap)
                else:
                    budget = base
            else:
                budget = default_budget
            by_host.setdefault(host, []).append((-pri, dh, uh, url, canon, budget))
        scheduled = []  # (dh, uh, url, canon, pri, host, rank)
        for host, rows in by_host.items():
            rows.sort()
            budget = rows[0][5]
            for rank, (npri, dh, uh, url, canon, _b) in enumerate(rows[:budget], start=1):
                scheduled.append((dh, uh, url, canon, -npri, host, rank))
                trace.add((rnd, host, rank, canon))
        # seen += scheduled ∪ robots-excluded
        for dh, uh, *_ in scheduled:
            seen.add((dh, uh))
        seen |= excluded
        sched_by_round[rnd] = [
            (dh, uh, url, canon, pri) for dh, uh, url, canon, pri, _h, _r in scheduled
        ]
        # links
        link_urls, link_pris = [], []
        for dh, uh, url, canon, pri, host, rank in scheduled:
            parents = np.full(links_per_fetch, uh, dtype=np.int64)
            j = np.arange(links_per_fetch, dtype=np.int64)
            with np.errstate(over="ignore"):
                link_ids = synth._rand(parents + j * 1_000_003, 20, seed) % np.uint64(universe_n)
            us, _ = synth.gen_urls_pdf(link_ids.astype(np.int64), n_hosts, seed)
            link_urls.extend(us.tolist())
            link_pris.extend([pri * LINK_DECAY] * links_per_fetch)
        # next frontier: leftover novel (minus scheduled) ∪ identified links (minus seen)
        sched_keys = {(dh, uh) for dh, uh, *_ in scheduled}
        leftover = {
            k: v for k, v in novel.items() if k not in sched_keys and k not in excluded
        }
        links = _identify(link_urls, link_pris, rnd)
        links = {k: v for k, v in links.items() if k not in seen}
        merged = dict(leftover)
        for k, (u, c, p, r) in links.items():
            if k in merged:
                mu, mc, mp, mr = merged[k]
                merged[k] = (min(mu, u), mc, max(mp, p), min(mr, r))
            else:
                merged[k] = (u, c, p, r)
        if max_frontier_per_host is not None:
            queued: dict[int, int] = {}
            frontier = {}
            for k in sorted(merged, key=lambda k: (-merged[k][2], k[0], k[1])):
                if queued.get(k[0], 0) < max_frontier_per_host:
                    queued[k[0]] = queued.get(k[0], 0) + 1
                    frontier[k] = merged[k]
        else:
            frontier = merged
        if scheduled:
            last_sched_round = rnd
        # same idle rule as CrawlFrontier.run: a drained round only ends
        # the crawl when no future revisit cycle can produce work
        revisit_pending = bool(revisit_after) and rnd < last_sched_round + revisit_after
        if not scheduled and not frontier and not revisit_pending:
            break
    return trace, seen


def pd_isna(v):
    import pandas as pd

    try:
        return pd.isna(v)
    except (TypeError, ValueError):
        return False
