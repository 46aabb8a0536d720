"""Seventh batch of independent reference checks for driver-window
queries: 3-round multi-source BFS distance histogram and blocked
Levenshtein fuzzy name pairs (with a from-scratch DP edit distance).
"""

from __future__ import annotations

from collections import Counter, defaultdict

import pyarrow.parquet as pq

from cdc_poc_spark.queries import all_specs

from .conftest import SF_DIR, broadcast_disabled

SPECS = all_specs()


def test_bfs_distance_histogram_matches_python(spark):
    o = pq.read_table(SF_DIR + "/orders.parquet").to_pydict()
    li = pq.read_table(SF_DIR + "/lineitem.parquet").to_pydict()
    sup = pq.read_table(SF_DIR + "/supplier.parquet").to_pydict()
    cust_of = dict(zip(o["o_orderkey"], o["o_custkey"]))
    adj = defaultdict(set)
    for ok, s in zip(li["l_orderkey"], li["l_suppkey"]):
        if ok in cust_of:
            u, v = cust_of[ok] * 2, s * 2 + 1
            adj[u].add(v)
            adj[v].add(u)
    dist = {
        k * 2 + 1: 0 for k in sup["s_suppkey"] if k < 5
    }
    frontier_rounds = 3
    for _ in range(frontier_rounds):
        updates = {}
        for node, d in dist.items():
            for nb in adj.get(node, ()):
                nd = d + 1
                if nb not in dist and updates.get(nb, 1 << 60) > nd:
                    updates[nb] = nd
        dist.update(updates)
    expected = sorted(Counter(dist.values()).items())

    def got():
        return sorted(
            (r["dist"], r["n_nodes"])
            for r in SPECS["graph_bfs_distances"].fn(spark, SF_DIR).collect()
        )

    assert got() == expected
    # the shuffle-join rounds larger frontiers take give the same histogram
    with broadcast_disabled(spark):
        assert got() == expected


def _lev(a: str, b: str) -> int:
    # textbook DP, no library
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(
                min(prev[j] + 1, cur[j - 1] + 1, prev[j - 1] + (ca != cb))
            )
        prev = cur
    return prev[-1]


def test_fuzzy_name_pairs_match_python_dp(spark):
    p = pq.read_table(SF_DIR + "/part.parquet").to_pydict()
    names: Counter = Counter(p["p_name"])
    blocks = defaultdict(list)
    for name, cnt in names.items():
        blocks[name.split(" ")[0]].append((name, cnt))
    expected = {}
    for _, members in blocks.items():
        members.sort()
        for i in range(len(members)):
            for j in range(i + 1, len(members)):
                (na, ca), (nb, cb) = members[i], members[j]
                d = _lev(na, nb)
                if d <= 3:
                    expected[(na, nb)] = (d, ca, cb)
    got = {
        (r["name_a"], r["name_b"]): (
            r["edit_dist"],
            r["n_parts_a"],
            r["n_parts_b"],
        )
        for r in SPECS["dedup_fuzzy_name_pairs"].fn(spark, SF_DIR).collect()
    }
    assert got == expected and expected
