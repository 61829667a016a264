"""Connected components, repetition stats, and the full curation recipe."""

from pyspark.sql import Row
from pyspark.sql import functions as F

from narowi_ocr_spark.functions.textstats import with_repetition_stats
from narowi_ocr_spark.operators.components import (
    component_representatives,
    connected_components,
)


def test_connected_components_basic(spark):
    # two clusters {1,2,3} (chain) + {7,8}, isolated node 9
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 8)], "id_a long, id_b long"
    )
    nodes = spark.createDataFrame([(i,) for i in (1, 2, 3, 7, 8, 9)], "id long")
    out = {r["id"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 8: 7, 9: 9}

    reps = {
        r["component"]: (r["keep_id"], r["n_members"])
        for r in component_representatives(
            connected_components(edges, nodes)
        ).collect()
    }
    assert reps == {1: (1, 3), 7: (7, 2), 9: (9, 1)}


def test_connected_components_all_isolated(spark):
    # no edges at all: every node self-labels via the isolated split
    # (which keeps pointer-less vertices out of the fixpoint loop)
    edges = spark.createDataFrame([], "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in (3, 5, 9)], "id long")
    out = {r["id"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert out == {3: 3, 5: 5, 9: 9}


def test_connected_components_long_chain_converges(spark):
    # a 12-node path has diameter 11 — still converges, labels all min
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(11)], "id_a long, id_b long"
    )
    out = {r["id"]: r["comp"] for r in connected_components(edges).collect()}
    assert set(out.values()) == {0} and len(out) == 12


def test_repetition_stats_flags_boilerplate(spark):
    df = spark.createDataFrame(
        [
            Row(doc_id=0, text="buy now " * 30),          # one 2-gram dominates
            Row(doc_id=1, text="the quick brown fox jumps over a lazy dog today"),
            Row(doc_id=2, text="one"),                     # below n-gram size
            Row(doc_id=3, text=""),
        ]
    )
    out = {r["doc_id"]: r for r in with_repetition_stats(df).collect()}
    assert out[0]["is_repetitive"] and out[0]["top_2gram_frac"] > 0.4
    assert not out[1]["is_repetitive"] and out[1]["frac_dup_2gram"] == 0.0
    assert out[2]["n_2grams"] == 0 and not out[2]["is_repetitive"]
    assert out[3]["top_2gram_frac"] == 0.0


def test_repetition_exact_fractions(spark):
    # "a b a b a b": 2-grams = [a b, b a, a b, b a, a b] → 5 total,
    # 2 distinct → dup frac (5-2)/5 = 0.6; top ("a b"×3) = 3/5
    df = spark.createDataFrame([Row(doc_id=0, text="a b a b a b")])
    r = with_repetition_stats(df).first()
    assert r["n_2grams"] == 5
    assert r["frac_dup_2gram"] == 0.6
    assert r["top_2gram_frac"] == 0.6


def test_star_contraction_long_chain(spark):
    """A 200-hop path: label propagation needs 200 rounds (raises at 25);
    star contraction converges in O(log^2) rounds and labels every node
    with the chain head."""
    from narowi_ocr_spark.operators.components import (
        connected_components_star,
    )

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(200)], "id_a long, id_b long"
    )
    out = {
        r["id"]: r["comp"]
        for r in connected_components_star(edges, max_iters=15).collect()
    }
    assert len(out) == 201
    assert set(out.values()) == {0}


def test_star_contraction_matches_label_propagation(spark):
    from narowi_ocr_spark.operators.components import (
        connected_components,
        connected_components_star,
    )

    # three components incl. a triangle, a 4-path, and isolated nodes
    pairs = [(1, 2), (2, 3), (3, 1), (10, 11), (11, 12), (12, 13), (20, 21)]
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in [1, 2, 3, 10, 11, 12, 13, 20, 21, 99]], "id long")
    a = {r["id"]: r["comp"] for r in connected_components(edges, nodes=nodes).collect()}
    b = {r["id"]: r["comp"] for r in connected_components_star(edges, nodes=nodes).collect()}
    assert a == b
    assert b[99] == 99  # isolated node self-labeled


def test_label_prop_falls_back_to_star_on_deep_chain(spark):
    """min-label with a tiny round budget on a 60-hop chain: instead of
    raising, the default falls back to star contraction and still
    labels every node with the chain head."""
    from narowi_ocr_spark.operators.components import connected_components

    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "id_a long, id_b long"
    )
    out = {
        r["id"]: r["comp"]
        for r in connected_components(edges, max_iters=3).collect()
    }
    assert len(out) == 61 and set(out.values()) == {0}

    import pytest as _pytest

    with _pytest.raises(RuntimeError):
        connected_components(edges, max_iters=3, fallback_star=False)


def test_connected_components_seeded_round_one(spark):
    """The seed labels each endpoint with least(id, min(neighbour)),
    which is round 1 of propagation: a star converges with a budget of
    one round (a confirming round only), a 2-hop path needs two, and a
    random forest with hash-sized ids gets the union-find labels."""
    import random

    import pytest as _pytest

    from narowi_ocr_spark.operators.components import connected_components

    star = spark.createDataFrame(
        [(0, i) for i in range(1, 6)], "id_a long, id_b long"
    )
    out = connected_components(star, max_iters=1, fallback_star=False)
    assert {r["id"]: r["comp"] for r in out.collect()} == {i: 0 for i in range(6)}

    path = spark.createDataFrame([(0, 1), (1, 2)], "id_a long, id_b long")
    with _pytest.raises(RuntimeError):
        connected_components(path, max_iters=1, fallback_star=False)
    out = connected_components(path, max_iters=2, fallback_star=False)
    assert {r["id"]: r["comp"] for r in out.collect()} == {0: 0, 1: 0, 2: 0}

    rng = random.Random(5)
    ids = [rng.randrange(-(2**63), 2**63) for _ in range(300)]
    pairs = [(rng.choice(ids), rng.choice(ids)) for _ in range(220)]
    parent = {i: i for i in ids}

    def find(x):
        while parent[x] != x:
            x = parent[x]
        return x

    for a, b in pairs:
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    edges = spark.createDataFrame(pairs, "id_a long, id_b long")
    nodes = spark.createDataFrame([(i,) for i in ids], "id long")
    got = {r["id"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert got == {i: find(i) for i in ids}



def test_component_keep_ids_equal_representatives_on_random_graphs(spark):
    """Survivors by anti join (every node but those labelled with a
    smaller id, labels over the edges alone) equal the keep ids of
    ``component_representatives(connected_components(edges, nodes))``
    and the union-find minima, on random graphs of isolated nodes,
    pairs, stars, chains and random trees over hash-sized ids."""
    import random

    from narowi_ocr_spark.operators.components import component_keep_ids

    for seed in (1, 2, 3):
        rng = random.Random(seed)
        ids = sorted({rng.randrange(-(2**63), 2**63) for _ in range(160)})
        rng.shuffle(ids)
        pairs, at = [], 0
        while at < len(ids):
            shape, k = rng.choice(("isolated", "pair", "star", "chain", "tree")), rng.randint(2, 9)
            group, at = ids[at:at + (2 if shape == "pair" else k)], at + k
            if shape == "star":
                pairs += [(group[0], g) for g in group[1:]]
            elif shape in ("pair", "chain"):
                pairs += list(zip(group, group[1:]))
            elif shape == "tree":
                pairs += [(g, rng.choice(group[:i])) for i, g in enumerate(group) if i]
        # edges in either direction, with a repeat
        pairs = [p if rng.random() < 0.5 else p[::-1] for p in pairs + pairs[:3]]
        root = {i: i for i in ids}

        def find(x):
            while root[x] != x:
                x = root[x]
            return x

        for a, b in pairs:
            ra, rb = find(a), find(b)
            root[max(ra, rb)] = min(ra, rb)
        edges = spark.createDataFrame(pairs, "id_a long, id_b long")
        nodes = spark.createDataFrame([(i,) for i in ids], "id long")
        reps = {
            r["keep_id"]
            for r in component_representatives(connected_components(edges, nodes)).collect()
        }
        kept = {r["id"] for r in component_keep_ids(nodes, connected_components(edges)).collect()}
        assert kept == reps == {find(i) for i in ids}, seed


def test_connected_components_evaluates_edges_once(spark):
    """The symmetric edge list is built in one pass over ``edges``: an
    un-materialized edge frame (the release job's Jaccard verify) is
    evaluated once, not once per direction. An accumulator counts the
    rows the edge frame produces."""
    sc = spark.sparkContext
    seen = sc.accumulator(0)
    rows = [(1, 2), (2, 3), (10, 11), (11, 12), (12, 10), (20, 21), (21, 20)]

    def counted(r):
        seen.add(1)
        return r

    edges = spark.createDataFrame(
        sc.parallelize(rows, 2).map(counted), "id_a long, id_b long"
    )
    nodes = spark.createDataFrame(
        [(i,) for i in (1, 2, 3, 10, 11, 12, 20, 21, 30)], "id long"
    )
    got = {r["id"]: r["comp"] for r in connected_components(edges, nodes).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 10: 10, 11: 10, 12: 10, 20: 20, 21: 20, 30: 30}
    assert seen.value == len(rows)

def test_pagerank_fixed_symmetry_and_hubs(spark):
    from narowi_ocr_spark.operators.linkrank import (
        RANK_SCALE,
        pagerank_fixed,
    )

    # directed 3-ring: perfect symmetry -> all ranks stay equal
    ring = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 0)], "src long, dst long"
    )
    nodes3 = spark.createDataFrame([(i,) for i in range(3)], "id long")
    ranks = {r["id"]: r["rank_scaled"] for r in pagerank_fixed(ring, nodes3).collect()}
    assert len(set(ranks.values())) == 1
    # each round loses at most a few integer-division units of 1e-9 mass
    assert abs(ranks[0] - RANK_SCALE // 3) <= 10

    # star: everyone links to 0, 0 links back to 1 -> 0 is the hub
    star = spark.createDataFrame(
        [(1, 0), (2, 0), (3, 0), (0, 1)], "src long, dst long"
    )
    nodes4 = spark.createDataFrame([(i,) for i in range(4)], "id long")
    r = {x["id"]: x["rank_scaled"] for x in pagerank_fixed(star, nodes4).collect()}
    assert r[0] > r[1] > r[2] == r[3]


def test_hits_separates_hubs_from_authorities(spark):
    """Directed star: h0 and h1 both link to a0/a1/a2; nothing links
    back. The sources must come out pure hubs (hub>0, auth=0) and the
    targets pure authorities (auth>0, hub=0); symmetric nodes tie."""
    from pyspark.sql import Row

    from narowi_ocr_spark.operators.linkrank import hits_fixed

    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s in ["h0", "h1"] for d in ["a0", "a1", "a2"]]
    )
    nodes = spark.createDataFrame(
        [Row(id=i) for i in ["h0", "h1", "a0", "a1", "a2"]]
    )
    got = {
        r["id"]: (r["hub_scaled"], r["auth_scaled"])
        for r in hits_fixed(edges, nodes, iters=2).collect()
    }
    assert got["h0"] == got["h1"]
    assert got["a0"] == got["a1"] == got["a2"]
    assert got["h0"][0] > 0 and got["h0"][1] == 0
    assert got["a0"][1] > 0 and got["a0"][0] == 0


def test_triangle_count_k4_plus_pendant(spark):
    """K4 has C(3,2)=3 triangles per node; a pendant attached to one
    corner joins none. Direction/duplication of input edges must not
    matter (undirected + distinct inside)."""
    from pyspark.sql import Row

    from narowi_ocr_spark.operators.linkrank import triangle_count

    k4 = [(a, b) for a in "abcd" for b in "abcd" if a < b]
    edges = spark.createDataFrame(
        [Row(src=s, dst=d) for s, d in k4]
        + [Row(src=d, dst=s) for s, d in k4]  # reversed dups
        + [Row(src="d", dst="e")]             # pendant
    )
    got = {r["id"]: r["n_triangles"] for r in triangle_count(edges).collect()}
    assert got == {"a": 3, "b": 3, "c": 3, "d": 3, "e": 0}


def test_connected_components_hash_sized_ids(spark):
    """Regression: the fixpoint probe sums labels — with hash-sized ids
    (|id| near 2^63, e.g. abs(xxhash64) keys) an int64 sum overflows
    (ANSI mode throws). The probe must stay exact at any id magnitude."""
    from narowi_ocr_spark.operators.components import connected_components

    big = 9_100_000_000_000_000_000  # ~2^63
    edges = spark.createDataFrame(
        [(big, big - 7), (big - 7, big - 1000), (big - 2, big - 3)],
        "id_a long, id_b long",
    )
    nodes = spark.createDataFrame(
        [(big,), (big - 7,), (big - 1000,), (big - 2,), (big - 3,), (1,)],
        "id long",
    )
    labels = {
        r["id"]: r["comp"]
        for r in connected_components(edges, nodes=nodes).collect()
    }
    assert labels[big] == labels[big - 7] == labels[big - 1000] == big - 1000
    assert labels[big - 2] == labels[big - 3] == big - 3
    assert labels[1] == 1  # isolated node keeps its own label
