"""Graph-analytics operator tests (operators/graph.py): triangle
enumeration on known graphs, degree-profile reconciliation, and the
per-conversation entity-cap guard.  Exact values at sf0.01 are pinned by
the DuckDB oracles (kg_node_degrees / kg_cooccurrence / kg_triangles)."""

from pyspark.sql import functions as F

from arekit_r335_spark.operators.graph import (
    conv_entity_sets, cooccurrence, node_degrees, triangles)


def _und(spark, edges):
    return spark.createDataFrame(edges, "u string, v string")


def test_triangles_k4(spark):
    """Complete graph on 4 vertices: C(4,3) = 4 triangles, each once."""
    vs = ["a", "b", "c", "d"]
    e = [(x, y) for i, x in enumerate(vs) for y in vs[i + 1:]]
    got = sorted(map(tuple, triangles(_und(spark, e)).collect()))
    assert got == [("a", "b", "c"), ("a", "b", "d"),
                   ("a", "c", "d"), ("b", "c", "d")]


def test_triangles_triangle_free(spark):
    """Stars and paths have no triangles (hub fan-out must not fake any)."""
    star = [("hub", f"s{i}") for i in range(20)]
    path = [(f"p{i}", f"p{i+1}") for i in range(10)]
    assert triangles(_und(spark, star + path)).count() == 0


def test_triangles_normalizes_input(spark):
    """Duplicate edges, reversed orientation, and self-loops collapse."""
    e = [("a", "b"), ("b", "a"), ("b", "c"), ("c", "a"),
         ("a", "c"), ("a", "a")]
    got = sorted(map(tuple, triangles(_und(spark, e)).collect()))
    assert got == [("a", "b", "c")]


def test_triangles_hub_plus_triangle(spark):
    """A hub attached to one real triangle: exactly the closed wedges
    count, no spurious hub wedges survive the closing semi-join."""
    e = [("hub", f"s{i}") for i in range(15)]
    e += [("hub", "x"), ("hub", "y"), ("x", "y")]
    got = sorted(map(tuple, triangles(_und(spark, e)).collect()))
    assert got == [("hub", "x", "y")]


def test_node_degrees_reconcile(spark):
    edges = spark.createDataFrame(
        [("a", "b", "pos", 3), ("a", "b", "neg", 2),
         ("a", "c", "pos", 1), ("b", "a", "pos", 4)],
        "src string, dst string, label string, n_ops long")
    rows = {r.node: r for r in node_degrees(edges).collect()}
    assert rows["a"].out_deg == 2 and rows["a"].n_out_ops == 6
    assert rows["a"].in_deg == 1 and rows["a"].n_in_ops == 4
    assert rows["b"].out_deg == 1 and rows["b"].in_deg == 1
    # c never appears as src: zero-filled, not dropped
    assert rows["c"].out_deg == 0 and rows["c"].in_deg == 1
    # degree mass reconciles: sum(n_out_ops) == sum(n_in_ops) == total ops
    assert sum(r.n_out_ops for r in rows.values()) == 10
    assert sum(r.n_in_ops for r in rows.values()) == 10


def test_cooccurrence_lift(spark):
    ents = spark.createDataFrame(
        [("c1", "x"), ("c1", "y"), ("c2", "x"), ("c2", "y"),
         ("c3", "x"), ("c3", "z")],
        "conv_id string, canon string")
    got = {(r.e_a, r.e_b): r for r in cooccurrence(ents).collect()}
    xy = got[("x", "y")]
    assert xy.n_pair == 2 and xy.n_a == 3 and xy.n_b == 2
    assert xy.n_convs == 3
    assert abs(xy.lift - (2 * 3) / (3 * 2)) < 1e-12
    xz = got[("x", "z")]
    assert xz.n_pair == 1 and xz.lift == (1 * 3) / (3 * 1)
    assert ("y", "z") not in got


def test_conv_entity_cap_drops_degenerate_docs(spark):
    mentions = spark.createDataFrame(
        [("big", f"e{i}") for i in range(30)] + [("ok", "e1"), ("ok", "e2")],
        "conv_id string, group_key string")
    comps = spark.createDataFrame([], "node string, component string")
    ents = conv_entity_sets(mentions, comps, max_entities_per_conv=10)
    got = set(r.conv_id for r in ents.collect())
    assert got == {"ok"}


def test_triangles_match_sql_oracle_fixture(spark, tmp_path):
    """Random-ish deterministic graph: degree-ordered enumeration equals
    the naive three-way self-join enumeration."""
    import itertools
    vs = [f"v{i:02d}" for i in range(14)]
    e = [(a, b) for a, b in itertools.combinations(vs, 2)
         if (len(a + b) * 7 + ord(a[-1]) * 3 + ord(b[-1])) % 5 < 2]
    und = set(e)
    naive = sorted(
        (a, b, c) for a, b, c in itertools.combinations(sorted(vs), 3)
        if {(a, b), (a, c), (b, c)} <= und)
    got = sorted(map(tuple, triangles(_und(spark, e)).collect()))
    assert got == naive and len(naive) > 0


def _dir(spark, edges):
    return spark.createDataFrame(edges, "src string, dst string")


def _pr_ref(edges, n_iter=5, d=0.85):
    """Pure-Python power iteration with the engine's exact update rule:
    r' = (1-d)/N + d*(sum_in r/od + dangling/N)."""
    ed = set(edges)
    nodes = sorted({u for e in ed for u in e})
    n = len(nodes)
    out = {}
    for s, t in ed:
        out.setdefault(s, set()).add(t)
    r = {v: 1.0 / n for v in nodes}
    for _ in range(n_iter):
        dang = sum(r[v] for v in nodes if v not in out)
        nxt = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            for t in ts:
                nxt[t] += r[s] / len(ts)
        r = {v: (1 - d) / n + d * (nxt[v] + dang / n) for v in nodes}
    return r


def test_pagerank_matches_power_iteration(spark):
    """Small digraph with a dangling node (d has no out-edges) and a
    duplicate edge: ranks equal the reference power iteration and mass is
    conserved (sum == 1)."""
    from arekit_r335_spark.operators.graph import pagerank
    e = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"),
         ("c", "d"), ("a", "b")]
    got = {r.node: r.rank for r in pagerank(_dir(spark, e)).collect()}
    ref = _pr_ref(e)
    assert set(got) == set(ref)
    for v in ref:
        assert abs(got[v] - ref[v]) < 1e-12, v
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_cycle_uniform(spark):
    """A directed cycle is rank-invariant: every node stays at 1/N."""
    from arekit_r335_spark.operators.graph import pagerank
    n = 6
    e = [(f"v{i}", f"v{(i + 1) % n}") for i in range(n)]
    got = {r.node: r.rank for r in pagerank(_dir(spark, e)).collect()}
    assert all(abs(v - 1.0 / n) < 1e-12 for v in got.values())


def test_khop_min_hops_and_frontier(spark):
    """Hub with highest out-degree is the seed; min-hop wins when a node
    is reachable at several depths; nodes beyond k are absent."""
    from arekit_r335_spark.operators.graph import khop_reachability
    # hub -> l1_{0..3} (out-deg 4, the top seed); chain past k; shortcut
    e = [("hub", f"l1_{i}") for i in range(4)]
    e += [("l1_0", "l2"), ("l2", "l3"), ("l3", "l4"),
          ("hub", "l2"),          # shortcut: l2 at hop 1, not 2
          ("l1_1", "hub")]        # back-edge: hub stays hops=0
    got = {r.node: r.hops for r in
           khop_reachability(_dir(spark, e), k=3, n_seeds=1).collect()}
    assert got["hub"] == 0
    assert got["l1_0"] == 1 and got["l2"] == 1
    assert got["l3"] == 2 and got["l4"] == 3
    assert all(got[f"l1_{i}"] == 1 for i in range(4))


def test_khop_seed_tiebreak_deterministic(spark):
    """Equal out-degrees tie-break on node id ascending, matching the
    oracle's ORDER BY count DESC, src."""
    from arekit_r335_spark.operators.graph import khop_reachability
    e = [("b", "x1"), ("b", "x2"), ("a", "y1"), ("a", "y2"),
         ("c", "z1"), ("c", "z2"), ("z1", "w")]
    got = {r.node: r.hops for r in
           khop_reachability(_dir(spark, e), k=2, n_seeds=2).collect()}
    # seeds: a and b (id order among equal out-deg 2); c's subtree absent
    assert got == {"a": 0, "b": 0, "x1": 1, "x2": 1, "y1": 1, "y2": 1}


def test_pagerank_weighted_matches_reference(spark):
    """Weighted walk: rank splits by out-strength.  Reference power
    iteration generalized with per-edge weights; unweighted call on the
    same multigraph must differ (weights actually matter)."""
    from arekit_r335_spark.operators.graph import pagerank
    rows = [("a", "b", 3), ("a", "c", 1), ("b", "c", 2), ("c", "a", 5)]
    df = spark.createDataFrame(rows, "src string, dst string, n_ops long")

    w = {(s, t): float(k) for s, t, k in rows}
    out = {}
    for (s, t), k in w.items():
        out.setdefault(s, {})[t] = k
    nodes = sorted({u for e in w for u in e})
    n, d = len(nodes), 0.85
    r = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        dang = sum(r[v] for v in nodes if v not in out)
        nxt = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            sw = sum(ts.values())
            for t, k in ts.items():
                nxt[t] += r[s] * k / sw
        r = {v: (1 - d) / n + d * (nxt[v] + dang / n) for v in nodes}

    got = {x.node: x.rank for x in
           pagerank(df, weight_col="n_ops").collect()}
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-12, v
    un = {x.node: x.rank for x in pagerank(df).collect()}
    assert any(abs(un[v] - got[v]) > 1e-6 for v in nodes)


def test_pagerank_personalized_matches_reference(spark):
    """Teleport concentrated on one seed: matches the t-form power
    iteration, unreachable nodes score exactly 0, mass sums to 1; seeding
    every node is the uniform walk."""
    from arekit_r335_spark.operators.graph import pagerank
    # a -> b -> c (c dangling); isolated pair x -> y unreachable from a
    e = [("a", "b"), ("b", "c"), ("x", "y")]
    df = spark.createDataFrame(e, "src string, dst string")
    seeds = spark.createDataFrame([("a",)], "node string")

    nodes = sorted({u for t in e for u in t})
    out = {}
    for s, t in e:
        out.setdefault(s, set()).add(t)
    d = 0.85
    tele = {v: (1.0 if v == "a" else 0.0) for v in nodes}
    r = dict(tele)
    for _ in range(5):
        dang = sum(r[v] for v in nodes if v not in out)
        nxt = {v: 0.0 for v in nodes}
        for s, ts in out.items():
            for t in ts:
                nxt[t] += r[s] / len(ts)
        r = {v: (1 - d) * tele[v] + d * (nxt[v] + dang * tele[v])
             for v in nodes}

    got = {x.node: x.rank for x in pagerank(df, seeds=seeds).collect()}
    assert set(got) == set(r)
    for v in r:
        assert abs(got[v] - r[v]) < 1e-12, v
    assert got["x"] == 0.0 and got["y"] == 0.0
    assert abs(sum(got.values()) - 1.0) < 1e-9

    every = spark.createDataFrame([(v,) for v in nodes], "node string")
    uni = {x.node: x.rank for x in pagerank(df).collect()}
    all_seeded = {x.node: x.rank
                  for x in pagerank(df, seeds=every).collect()}
    assert set(uni) == set(all_seeded)
    for v in uni:
        assert abs(uni[v] - all_seeded[v]) < 1e-12, v


def _neg_expect(e, B, K, probes):
    """Hash-for-hash Python replication of ``negative_samples``: linear
    bucket probing, first probe level with a valid member wins, md5
    arg-min inside the level, positive/self exclusion."""
    import hashlib

    def hexint(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    nodes = sorted({u for t in e for u in t})
    buck = {n: hexint(n) % B for n in nodes}
    ed = set(e)
    expect = {}
    for (s, t) in ed:
        for i in range(K):
            base = hexint(f"{s}|{t}|{i}")
            for p in range(min(probes, B)):
                cands = [n for n in nodes
                         if buck[n] == (base + p) % B and n != s and n != t
                         and (s, n) not in ed]
                if cands:
                    expect[(s, t, i)] = min(
                        cands, key=lambda n: hashlib.md5(
                            f"{n}|{s}|{t}|{i}".encode()).hexdigest())
                    break
    return ed, expect


def test_negative_samples_deterministic_reference(spark):
    """Negative sampling equals the hash-for-hash Python replication:
    bucket targeting, linear-probe retries, arg-min pick, positive/self
    exclusion, and dropped negatives once the probe budget is spent."""
    from arekit_r335_spark.operators.graph import negative_samples
    e = [("a", "b"), ("a", "c"), ("b", "c"), ("c", "a"), ("c", "d")]
    df = spark.createDataFrame(e, "src string, dst string")
    B, K = 2, 3
    for probes in (1, 2):
        ed, expect = _neg_expect(e, B, K, probes)
        got = {(r.src, r.dst, r.neg_idx): r.neg_dst
               for r in negative_samples(df, k=K, buckets=B,
                                         probes=probes).collect()}
        assert got == expect and len(expect) > 0
        for (s, t, i), n in got.items():
            assert (s, n) not in ed and n != s and n != t
    # probes=1 on this fixture drops at least one negative that probes=2
    # recovers (the retry is doing real work)
    assert len(_neg_expect(e, B, K, 1)[1]) < len(_neg_expect(e, B, K, 2)[1])


def test_negative_samples_exhaustive_probes_dense_graph(spark):
    """Verdict r3 item 7: with probes=buckets (exhaustive linear probing) a
    dense graph yields EXACTLY k negatives per edge whenever |V| permits —
    here every edge of a near-complete directed graph has exactly one valid
    corruption target, which some base buckets miss without retries."""
    from arekit_r335_spark.operators.graph import negative_samples
    nodes = [f"n{i}" for i in range(6)]
    # complete digraph minus one out-neighbor per source: (s, skip(s)) is
    # missing, so skip(s) is the single valid negative for every s-edge
    skip = {s: nodes[(i + 1) % len(nodes)] for i, s in enumerate(nodes)}
    e = [(s, t) for s in nodes for t in nodes
         if s != t and t != skip[s]]
    df = spark.createDataFrame(e, "src string, dst string")
    B, K = 3, 2
    rows = negative_samples(df, k=K, buckets=B, probes=B).collect()
    got = {(r.src, r.dst, r.neg_idx): r.neg_dst for r in rows}
    assert len(got) == len(e) * K          # exactly k per edge, none dropped
    for (s, t, i), n in got.items():
        assert n == skip[s]                # the unique valid corruption


def test_min_cost_paths_prefers_cheap_two_hop(spark):
    """Bounded Bellman-Ford is genuinely min-COST, not min-hop: a strongly
    evidenced 2-hop route (cost 10k+10k) beats a weakly evidenced direct
    edge (cost 1M); nodes beyond the hop bound are absent; seed cost 0."""
    from arekit_r335_spark.operators.graph import min_cost_paths
    e = [("A", "B", 1),      # resistance 1_000_000
         ("A", "C", 100),    # resistance 10_000
         ("C", "B", 100),    # resistance 10_000
         ("B", "D", 100)]
    edges = spark.createDataFrame(e, "src string, dst string, n_ops int")
    seeds = spark.createDataFrame([("A",)], "node string")
    got = {r.node: r.cost for r in
           min_cost_paths(edges, seeds, k=2).collect()}
    assert got == {"A": 0, "C": 10_000, "B": 20_000, "D": 1_010_000}
    # with k=1 the relaxation cannot take the 2-hop route yet
    got1 = {r.node: r.cost for r in
            min_cost_paths(edges, seeds, k=1).collect()}
    assert got1["B"] == 1_000_000 and "D" not in got1
