"""Closed crawl loop: schedule arithmetic, recrawl policy, per-round
count identities, queue/visited disjointness, and frontier
exhaustion on a closed fixture."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from bigdata_pipelines_aws_glue_spark.operators.crawlloop import (
    AUDIT_SCHEMA,
    CRAWL_ROUNDS,
    FETCH_BUDGET,
    WAVE_S,
    _crawl_round,
    _initial_state,
    crawl_rounds_audit,
    fetch_schedule,
    sitemap_recrawl,
)


def _row(audit: tuple) -> dict:
    return dict(zip(StructType.fromDDL(AUDIT_SCHEMA).names, audit))


def test_fetch_schedule_arithmetic(spark, sf_dir):
    from bigdata_pipelines_aws_glue_spark.operators.robots import (
        robots_allowed,
    )
    from bigdata_pipelines_aws_glue_spark.operators.sitemap import (
        crawl_queue_combined,
    )

    rows = fetch_schedule(spark, sf_dir).collect()
    assert rows
    by_host: dict[str, list] = {}
    for r in rows:
        assert r["crawl_delay"] == len(r["host"]) % 5 + 1
        assert (
            r["earliest_fetch_offset_s"]
            == (r["sched_rank"] - 1) * r["crawl_delay"]
        )
        assert r["fetch_wave"] == r["earliest_fetch_offset_s"] // WAVE_S
        by_host.setdefault(r["host"], []).append(r)
    for group in by_host.values():
        group.sort(key=lambda r: r["sched_rank"])
        # sched_rank is dense per host and preserves queue order
        assert [r["sched_rank"] for r in group] == list(
            range(1, len(group) + 1)
        )
        for a, b in zip(group, group[1:]):
            assert b["fetch_rank"] > a["fetch_rank"]
            # politeness: offsets strictly increase down the queue
            assert (
                b["earliest_fetch_offset_s"] > a["earliest_fetch_offset_s"]
            )
    # the schedule is EXECUTABLE: only robots-allowed URLs get slots
    # (review r15 finding — the sitemap channel enters the combined
    # queue ungated), and the allowed set == the crawl loop's q0 gate
    q = crawl_queue_combined(spark, sf_dir)
    n_allowed = q.filter(
        robots_allowed(F.col("host"), F.col("url"))
    ).count()
    assert len(rows) == n_allowed < q.count()


def test_recrawl_policy_branches(spark, sf_dir):
    rows = sitemap_recrawl(spark, sf_dir).collect()
    actions = {r["action"] for r in rows}
    assert actions == {"seed", "recrawl", "skip"}  # all branches bite
    by_key: dict[tuple, list] = {}
    for r in rows:
        if r["action"] == "seed":
            assert r["fetched_on"] is None
        else:
            assert r["fetched_on"] is not None
            stale = r["lastmod"] > r["fetched_on"]
            assert r["action"] == ("recrawl" if stale else "skip")
        assert (r["fetch_order"] is None) == (r["action"] == "skip")
        if r["fetch_order"] is not None:
            by_key.setdefault((r["host"], r["action"]), []).append(r)
    for group in by_key.values():
        group.sort(key=lambda r: r["fetch_order"])
        assert [r["fetch_order"] for r in group] == list(
            range(1, len(group) + 1)
        )


def test_crawl_rounds_count_identities(spark, sf_dir):
    q0, v0, n_v0 = _initial_state(spark, sf_dir)
    q0_size, v0_size = q0.count(), v0.count()
    assert n_v0 == v0_size  # the observed seed size
    rows = sorted(
        crawl_rounds_audit(spark, sf_dir).collect(),
        key=lambda r: r["round"],
    )
    assert [r["round"] for r in rows] == list(range(1, CRAWL_ROUNDS + 1))
    prev_q, prev_v = q0_size, v0_size
    for r in rows:
        assert r["n_fetched"] > 0
        # conservation: visited grows by exactly the fetched count;
        # the queue loses the fetched rows and gains the new entrants
        assert r["visited_size"] == prev_v + r["n_fetched"]
        assert r["queue_size"] == prev_q - r["n_fetched"] + r["n_new"]
        assert len(r["fetched_md5"]) == 32
        int(r["fetched_md5"], 16)
        prev_q, prev_v = r["queue_size"], r["visited_size"]
    # the loop actually closes: links are discovered, robots blocks
    # some, and some survive into the queue
    assert any(r["n_links"] > 0 for r in rows)
    assert any(r["n_blocked"] > 0 for r in rows)
    assert any(r["n_new"] > 0 for r in rows)


def test_crawl_queue_visited_disjoint(spark, sf_dir):
    q, v, n_visited = _initial_state(spark, sf_dir)
    fetched_all: set[str] = set()
    for k in (1, 2):
        q_urls_before = {r["url"] for r in q.select("url").collect()}
        q, v, audit = _crawl_round(k, q, v, n_visited)
        n_visited = _row(audit)["visited_size"]
        q_urls = {r["url"] for r in q.select("url").collect()}
        v_urls = {r["url"] for r in v.select("url").collect()}
        assert not q_urls & v_urls  # disjointness invariant
        round_fetched = q_urls_before - q_urls
        assert not round_fetched & fetched_all  # no URL fetched twice
        fetched_all |= round_fetched


def test_frontier_exhaustion_closed_fixture(spark):
    """A single assets-host queue (leaf fetches, no link discovery)
    drains at FETCH_BUDGET per round and hits empty — the bounded
    fixpoint a finite frontier converges to."""
    n = FETCH_BUDGET + 2
    q = spark.createDataFrame(
        [
            ("cdn9.assets.test", f"https://cdn9.assets.test/img/{i}.png", 1)
            for i in range(n)
        ],
        "host string, url string, refs long",
    )
    v = spark.createDataFrame([], "url string")
    sizes, fetches, n_visited = [], [], 0
    for k in (1, 2, 3):
        q, v, audit = _crawl_round(k, q, v, n_visited)
        row = _row(audit)
        assert row["n_links"] == 0  # assets host: leaves only
        sizes.append(row["queue_size"])
        fetches.append(row["n_fetched"])
        n_visited = row["visited_size"]
    assert fetches == [FETCH_BUDGET, n - FETCH_BUDGET, 0]
    assert sizes == [n - FETCH_BUDGET, 0, 0]
    assert v.count() == n == n_visited
    # an empty fetch round still emits a stable attestation hash
    assert row["fetched_md5"] == hashlib.md5(b"").hexdigest()


def _py_robots_allowed(host: str, url: str) -> bool:
    """Python replay of the synthesized robots.txt + RFC 9309
    longest-match (Allow wins ties) over the prefix-only rule set."""
    k = len(host) % 3
    rules = [
        (False, "/doc/1"),
        (True, f"/doc/1{k}"),
        (False, "/img/"),
        (True, "/img/4"),
        (False, f"/s{k}/"),
    ]
    rest = url.split("//", 1)[1]
    path = "/" + rest.split("/", 1)[1] if "/" in rest else "/"
    best = None  # (len, allow)
    for allow, p in rules:
        if p and path.startswith(p):
            key = (len(p), 1 if allow else 0)
            if best is None or key > best:
                best = key
    return best is None or best[1] == 1


def _py_crawl_round(queue, visited):
    """Python replay of one _crawl_round over state
    (queue: {(host, url): refs}, visited: set[url])."""
    import re
    from collections import defaultdict

    by_host = defaultdict(list)
    for (h, u), r in queue.items():
        by_host[h].append((u, r))
    fetched = []
    for h, items in by_host.items():
        items.sort(key=lambda x: (-x[1], x[0]))
        fetched += [(h, u) for u, _ in items[:FETCH_BUDGET]]
    fset = set(fetched)
    rem = {k: v for k, v in queue.items() if k not in fset}
    links = []
    for h, u in fetched:
        if h.endswith(".example.test") and re.search(r"[0-9]", u):
            t = int(re.findall(r"([0-9]+)[^0-9]*$", u)[0])
            for m in (7, 13):
                links.append((h, f"https://{h}/doc/{t * m % 997}"))
    disc = defaultdict(int)
    for k in links:
        disc[k] += 1
    visited = visited | {u for _, u in fetched}
    cand = {
        (h, u): r
        for (h, u), r in disc.items()
        if _py_robots_allowed(h, u) and u not in visited
    }
    n_new = sum(1 for k in cand if k not in rem)
    n_blocked = sum(
        1 for (h, u) in disc if not _py_robots_allowed(h, u)
    )
    queue = dict(rem)
    for k, r in cand.items():
        queue[k] = queue.get(k, 0) + r
    audit = {
        "n_fetched": len(fetched),
        "n_links": len(links),
        "n_blocked": n_blocked,
        "n_new": n_new,
        "queue_size": len(queue),
        "visited_size": len(visited),
    }
    return queue, visited, audit


def test_crawl_round_matches_python_replay_random(spark):
    """Seeded random queues through _crawl_round vs the pure-Python
    replay — exact state + audit equality for two chained rounds,
    including refs ACCUMULATION when a discovered link is already
    queued (mod-997 targets seeded into the queue on purpose)."""
    import random

    for seed in range(6):
        rng = random.Random(1000 + seed)
        hosts = ["aa.example.test", "bb.example.test", "cdn7.assets.test"]
        queue = {}
        for h in hosts:
            for _ in range(rng.randint(3, 12)):
                if "assets" in h:
                    u = f"https://{h}/img/{rng.randint(0, 60)}.png"
                else:
                    # half plain targets, half mod-997 targets so
                    # discovered links collide with queued entries
                    t = (
                        rng.randint(0, 996)
                        if rng.random() < 0.5
                        else rng.randint(0, 200) * 7 % 997
                    )
                    u = f"https://{h}/doc/{t}"
                queue[(h, u)] = rng.randint(0, 9)
        # precondition of _crawl_round (and of the production loop
        # by construction): queue and visited are DISJOINT — the
        # visited union is multiset (UNION ALL on both engines), so
        # a fixture violating the invariant double-counts
        visited = {
            f"https://aa.example.test/doc/{rng.randint(0, 996)}"
            for _ in range(10)
        } - {u for (_, u) in queue}
        q = spark.createDataFrame(
            [(h, u, r) for (h, u), r in sorted(queue.items())],
            "host string, url string, refs long",
        )
        v = spark.createDataFrame(
            [(u,) for u in sorted(visited)], "url string"
        )
        pq, pv = dict(queue), set(visited)
        for k in (1, 2):
            q, v, audit = _crawl_round(k, q, v, len(pv))
            pq, pv, want = _py_crawl_round(pq, pv)
            row = _row(audit)
            got = {kk: row[kk] for kk in want}
            assert got == want, f"seed {seed} round {k}: {got} != {want}"
            got_q = {
                (r["host"], r["url"]): r["refs"]
                for r in q.collect()
            }
            assert got_q == pq, f"seed {seed} round {k} queue"
            assert {r["url"] for r in v.collect()} == pv
            # the running visited_size is the multiset union's size
            assert v.count() == row["visited_size"]
