"""Connected components vs a pure-Python union-find oracle, plus the
awk-join replacement semantics (C8) and skew-salting equivalence."""

from pyspark.sql import functions as F

from rdf_i2b2_converter_spark import schemas
from rdf_i2b2_converter_spark.operators.canonicalize import (
    apply_canonical,
    connected_components,
    refine_clusters,
    salted_count,
)


def _union_find_components(edges: list[tuple[str, str]]) -> dict[str, str]:
    parent: dict[str, str] = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    comp: dict[str, list[str]] = {}
    for n in list(parent):
        comp.setdefault(find(n), []).append(n)
    out = {}
    for members in comp.values():
        m = min(members)
        for n in members:
            out[n] = m
    return out


def test_cc_matches_union_find_both_paths(spark, corpus):
    # (edges, driver_threshold that forces the distributed path). The
    # second input repeats a few edges (self-loops included) far past the
    # head-collect cap of 2*8+1 rows although its symmetrized-distinct set
    # (9 rows) is under 2*8: the raw-row cap alone routes it distributed.
    dup_heavy = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "d"), ("e", "f"), ("f", "f"), ("g", "g")] * 20,
        schema=schemas.ALIAS_EDGES,
    )
    for edges_df, small in ((corpus["alias_edges"], 0), (dup_heavy, 8)):
        exp = _union_find_components(
            [(r["src_id"], r["dst_id"]) for r in edges_df.collect()]
        )
        # driver fast path (default for small graphs)
        got_d = {r["id"]: r["component"] for r in connected_components(edges_df).collect()}
        assert got_d == exp
        # distributed large-star/small-star path (forced)
        got_s = {
            r["id"]: r["component"]
            for r in connected_components(edges_df, driver_threshold=small).collect()
        }
        assert got_s == exp


def test_cc_long_chain_distributed(spark):
    """Path graph of 40 nodes — worst case for naive propagation; the
    star algorithm must converge within max_rounds (O(log n))."""
    edges = [(f"n{i:02d}", f"n{i+1:02d}") for i in range(39)]
    df = spark.createDataFrame(edges, schema=schemas.ALIAS_EDGES)
    got = {
        r["id"]: r["component"]
        for r in connected_components(df, driver_threshold=0).collect()
    }
    assert set(got.values()) == {"n00"}
    assert len(got) == 40


def test_cc_empty_edges(spark):
    df = spark.createDataFrame([], schemas.ALIAS_EDGES)
    assert connected_components(df).count() == 0


def test_apply_canonical_left_semantics(spark):
    mapping = spark.createDataFrame([("b", "a"), ("a", "a")], "id string, component string")
    df = spark.createDataFrame([("b", 1), ("z", 2)], "eid string, v int")
    out = {r["eid"]: r["v"] for r in apply_canonical(df, mapping, "eid").collect()}
    assert out == {"a": 1, "z": 2}  # mapped rewritten, unmapped kept


def test_refine_clusters_representative(spark):
    rows = [
        ("c1", "alpha", 5),
        ("c1", "beta", 9),
        ("c1", "alpha", 3),
        ("c2", "gamma", 1),
    ]
    df = spark.createDataFrame(rows, "component string, surface string, n_occurrences int")
    out = refine_clusters(df)
    got = {(r["component"], r["surface"]): r["rep_surface"] for r in out.collect()}
    assert got[("c1", "beta")] == "beta"      # 9 > 5+3? no: alpha total=8 < beta 9
    assert got[("c1", "alpha")] == "beta"
    assert got[("c2", "gamma")] == "gamma"


def test_refine_clusters_tie_break_and_nulls(spark):
    rows = [
        ("c1", "zeta", 4),
        ("c1", "echo", 4),       # tie on total -> lexicographically smallest wins
        ("c2", None, 7),         # all-null surfaces -> rep_surface NULL, row kept
        ("c3", "solo", None),    # null count sums to 0, surface still representable
    ]
    df = spark.createDataFrame(rows, "component string, surface string, n_occurrences int")
    out = refine_clusters(df)
    got = {(r["component"], r["surface"]): r["rep_surface"] for r in out.collect()}
    assert got[("c1", "zeta")] == "echo"
    assert got[("c1", "echo")] == "echo"
    assert got[("c2", None)] is None
    assert got[("c3", "solo")] == "solo"
    assert out.count() == 4


def test_refine_clusters_declarative_giant_component(spark):
    """VERDICT r3 #2: a planted giant component (the star-linked LSH hub
    case) must not land in one task's pandas frame. The plan must contain
    no python-UDF group-map node, and the result must still be exact."""
    n = 50_000
    giant = spark.range(n).select(
        F.lit("hub").alias("component"),
        F.concat(F.lit("s"), (F.col("id") % 997).cast("string")).alias("surface"),
        F.lit(1).alias("n_occurrences"),
    )
    small = spark.createDataFrame(
        [("tiny", "only", 3)], "component string, surface string, n_occurrences int"
    )
    out = refine_clusters(giant.unionByName(small))
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "FlatMapGroupsInPandas" not in plan and "InPandas" not in plan
    # every surface s0..s996 appears ceil/floor equally; total ties at
    # 51 occurrences for ids 0..(n % 997)-1... compute argmax exactly:
    from collections import Counter

    counts = Counter(f"s{i % 997}" for i in range(n))
    best_total = max(counts.values())
    expected = min(s for s, c in counts.items() if c == best_total)
    reps = dict(
        out.select("component", "rep_surface").distinct().collect()
    )
    assert reps == {"hub": expected, "tiny": "only"}
    assert out.count() == n + 1


def test_salted_count_equals_plain_count(spark):
    df = spark.createDataFrame([(f"k{i%3}",) for i in range(100)], "k string")
    plain = {r["k"]: r["n"] for r in df.groupBy("k").agg(F.count("*").alias("n")).collect()}
    salted = {r["k"]: r["n"] for r in salted_count(df, "k", 8).collect()}
    assert plain == salted


def test_refine_clusters_null_component_group(spark):
    """Review r4: NULL components form a real group (pandas-groupBy
    parity) — the null-safe join-back must stamp their argmax too."""
    rows = [
        (None, "x", 5),
        (None, "y", 9),
        ("c1", "a", 1),
    ]
    df = spark.createDataFrame(rows, "component string, surface string, n_occurrences int")
    got = {(r["component"], r["surface"]): r["rep_surface"]
           for r in refine_clusters(df).collect()}
    assert got[(None, "x")] == "y" and got[(None, "y")] == "y"
    assert got[("c1", "a")] == "a"


def test_salt_actually_spreads_hot_keys(spark):
    """Review r5: a key-derived salt gave every row of a hot key the SAME
    salt — a no-op that kept the skewed reducer. The salt must spread one
    key's rows across multiple partial groups."""
    from rdf_i2b2_converter_spark.operators.canonicalize import salt_keys, salted_count

    hot = spark.createDataFrame([("k", i) for i in range(1000)], "key string, v long")
    n_salts = salt_keys(hot.repartition(8), "key").select("__salt").distinct().count()
    assert n_salts > 1, "hot key landed in a single salt bucket — salting is a no-op"
    got = salted_count(hot, "key").collect()
    assert [(r["key"], r["n"]) for r in got] == [("k", 1000)]


def test_cc_self_loop_only_node_kept(spark):
    """Review r5: a node whose only edges are self-loops must still appear
    in the mapping (as its own component)."""
    from rdf_i2b2_converter_spark.operators.canonicalize import connected_components

    edges = spark.createDataFrame(
        [("a", "a"), ("b", "c")], "src_id string, dst_id string"
    )
    got = {(r["id"], r["component"]) for r in connected_components(edges).collect()}
    assert got == {("a", "a"), ("b", "b"), ("c", "b")}
    # pure-self-loop graph: every node maps to itself
    only = spark.createDataFrame([("x", "x")], "src_id string, dst_id string")
    assert {(r["id"], r["component"]) for r in connected_components(only).collect()} == {("x", "x")}


def test_cc_raises_instead_of_corrupt_on_no_convergence(spark):
    """Review r5: exhausting max_rounds must fail loudly, not return a
    mid-convergence multi-parent mapping."""
    import pytest

    from rdf_i2b2_converter_spark.operators.canonicalize import connected_components

    # long chain forced down the distributed path with 1 round: cannot converge
    edges = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i+1:03d}") for i in range(40)],
        "src_id string, dst_id string",
    )
    with pytest.raises(ValueError, match="did not converge"):
        connected_components(edges, max_rounds=1, driver_threshold=1)


def test_refine_and_apply_reject_colliding_columns(spark):
    import pytest

    from rdf_i2b2_converter_spark.operators.canonicalize import (
        apply_canonical,
        refine_clusters,
    )

    mapping = spark.createDataFrame([("a", "a")], "id string, component string")
    bad = spark.createDataFrame([("a", "x")], "eid string, __canon string")
    with pytest.raises(ValueError, match="__canon"):
        apply_canonical(bad, mapping, "eid")
    bad2 = spark.createDataFrame(
        [("c1", "s", 1, "r")],
        "component string, surface string, n_occurrences long, rep_surface string",
    )
    with pytest.raises(ValueError, match="rep_surface"):
        refine_clusters(bad2)
