"""Canonicalization — the driver path (prefix-filtered Jaccard + union-find)
and the distributed path (LSH + CC) — vs the exact pure-Python oracle."""

import random
import string
from collections import Counter

import pytest

from node_feedparser_spark.functions.normalize import char_shingles, jaccard
from node_feedparser_spark.operators import canonicalize as canon
from node_feedparser_spark.operators.canonicalize import (
    MAPPING_SCHEMA,
    VERTICES_SCHEMA,
    _canonicalize_dist,
    canonicalize,
    lsh_candidate_pairs,
)
from node_feedparser_spark.operators.components import connected_components
from node_feedparser_spark.reference_extract import canonicalize_entities, extract_corpus


def test_connected_components_basic(spark):
    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 20)], "src long, dst long"
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert labels[1] == labels[2] == labels[3] == 1
    assert labels[10] == labels[11] == 10
    assert 20 not in labels  # self-loop dropped; singleton handled by caller


def test_connected_components_chain(spark):
    # path graph 0-1-2-...-9: worst case for naive propagation
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(9)], "src long, dst long"
    )
    labels = {r.node: r.component for r in connected_components(edges).collect()}
    assert set(labels.values()) == {0}
    assert set(labels.keys()) == set(range(10))


def test_cc_local_and_distributed_agree(spark):
    """The driver-side union-find fast path and the large-star/small-star
    loop must assign identical labels on a random-ish graph."""
    import random

    rng = random.Random(1234)
    edges = [(rng.randrange(200), rng.randrange(200)) for _ in range(150)]
    df = spark.createDataFrame(edges, "src long, dst long")
    local = {
        r.node: r.component
        for r in connected_components(df, local_threshold=10**6).collect()
    }
    dist = {
        r.node: r.component
        for r in connected_components(df, local_threshold=0).collect()
    }
    assert local == dist and local


def test_jvm_columns_match_python_spec(spark):
    """entity_hash_col / char_shingles_col / jaccard_col are JVM-side
    re-expressions of the pure-Python spec functions — parity must be exact
    (the oracle is defined by the Python versions)."""
    from node_feedparser_spark.functions.normalize import (
        char_shingles,
        entity_hash,
        jaccard,
    )
    from node_feedparser_spark.operators.canonicalize import (
        char_shingles_col,
        entity_hash_col,
        jaccard_col,
    )

    keys = [
        "kubernetes", "a", "ab", "abc", "postgres 12", "café über",
        "кубернетес", "x" * 50, "with  double  spaces",
    ]
    df = spark.createDataFrame([(k,) for k in keys], "key string")
    rows = df.select(
        "key",
        entity_hash_col("key").alias("h"),
        char_shingles_col("key").alias("sh"),
    ).collect()
    for r in rows:
        assert r["h"] == entity_hash(r["key"]), r["key"]
        assert set(r["sh"]) == char_shingles(r["key"]), r["key"]

    pairs = [(a, b) for a in keys[:5] for b in keys[:5]]
    pdf = spark.createDataFrame(pairs, "a string, b string")
    for r in pdf.select("a", "b", jaccard_col("a", "b").alias("j")).collect():
        want = jaccard(char_shingles(r["a"]), char_shingles(r["b"]))
        assert abs(r["j"] - want) < 1e-12, (r["a"], r["b"])


def test_lsh_finds_fuzzy_pairs(spark):
    keys = spark.createDataFrame(
        [("kubernetes",), ("kuberrnetes",), ("javascript",), ("typescript",)],
        "key string",
    )
    pairs = {
        (r.key_a, r.key_b) for r in lsh_candidate_pairs(keys).collect()
    }
    assert ("kubernetes", "kuberrnetes") in pairs


def _surfaces(spark, triples):
    counts = Counter(s for t in triples for s in (t["subj"], t["obj"]))
    return spark.createDataFrame(
        sorted(counts.items()), "surface string, n_mentions long"
    )


def _rows(mapping, vertices):
    rows = mapping.collect()
    assert len({r.surface for r in rows}) == len(rows)  # one row per surface
    return (
        {r.surface: r.entity_id for r in rows},
        {
            r.entity_id: (r.canonical_name, tuple(r.aliases), r.n_mentions)
            for r in vertices.collect()
        },
    )


def _assert_paths_match_oracle(spark, triples, want_path="driver"):
    """canonicalize() (taking `want_path`) and the distributed path give the
    same mapping and vertices — rows and schemas — and both equal the
    exact O(n^2) oracle grouping."""
    surfaces = _surfaces(spark, triples)
    decisions = {}
    got = canonicalize(spark, surfaces, decisions)
    assert decisions["canonicalize"] == want_path
    dist = _canonicalize_dist(spark, surfaces)
    assert got[0].schema == dist[0].schema == MAPPING_SCHEMA
    assert got[1].schema == dist[1].schema == VERTICES_SCHEMA

    oracle_ids, oracle_vertices = canonicalize_entities(triples)
    want = (
        oracle_ids,
        {
            v["entity_id"]: (
                v["canonical_name"], tuple(v["aliases"]), v["n_mentions"]
            )
            for v in oracle_vertices
        },
    )
    assert _rows(*got) == _rows(*dist) == want
    return want


def _mentions(surfaces, conv="conv:c0"):
    return [{"subj": conv, "obj": s} for s in surfaces]


def test_canonicalize_matches_oracle(spark, corpus_pdf):
    """On the fixture corpus both paths equal the exact oracle grouping
    (same partition of surface forms, same entity IDs, same canonical
    names)."""
    ref = extract_corpus(corpus_pdf.to_dict("records"))
    _assert_paths_match_oracle(spark, ref.triples)


def _planted():
    """Planted entities, each named as-is, in UPPER case and with one
    doubled letter, mentioned a varying number of times."""
    rng = random.Random(7)
    triples = []
    for e in range(40):
        base = "".join(rng.choice(string.ascii_lowercase) for _ in range(8))
        base = base.capitalize()
        i = rng.randrange(len(base))
        for v, surface in enumerate((base, base.upper(), base[:i] + base[i:i + 1] + base[i:])):
            triples += _mentions([surface] * (1 + (e + v) % 3), conv=f"conv:c{e}")
    return triples


def _pseudo_collision():
    """'tool:'/'conv:' surfaces whose keys equal mention keys, one of them
    in a fuzzy-merged component: exact-key merges pull them in."""
    return _mentions(["Tool Kubernetes", "Tool Kubernettes", "Conv C1"]) + [
        {"subj": "conv:c1", "pred": "invokes", "obj": "tool:kubernetes"},
    ]


def _boundary_keys():
    """(short, long): the long key has 100 distinct shingles, the short
    key's 55 are a subset of them, so their Jaccard is exactly
    55/100 = 11/20 = 0.55."""
    rng = random.Random(3)
    while True:
        chars = "".join(rng.choice(string.ascii_lowercase) for _ in range(99))
        short, long = chars[:55], chars[:55] + " " + chars[55:]
        a, b = char_shingles(short), char_shingles(long)
        if len(a) == 55 and len(b) == 100 and a <= b:
            return short, long


def _jaccard_boundary():
    """A key pair at Jaccard exactly 0.55.  The long key's 45 own shingles
    rank rarest, so its prefix must reach the 46th: a bound from float
    math.ceil(0.55 * 100) = 56 (not 55) keeps 45 and misses the pair."""
    return _mentions(_boundary_keys())


@pytest.mark.parametrize(
    "make", [_planted, _pseudo_collision, _jaccard_boundary],
    ids=["planted", "pseudo_collision", "jaccard_boundary"],
)
def test_canonicalize_paths_agree(spark, make):
    ids, vertices = _assert_paths_match_oracle(spark, make())
    if make is _jaccard_boundary:
        a, b = map(char_shingles, _boundary_keys())
        assert jaccard(a, b) == 0.55 and len(vertices) == 2  # pair + conv
    if make is _pseudo_collision:
        assert ids["tool:kubernetes"] == ids["Tool Kubernettes"]
        assert ids["conv:c1"] == ids["Conv C1"]


def test_canonicalize_empty_surfaces(spark):
    surfaces = spark.createDataFrame([], "surface string, n_mentions long")
    decisions = {}
    mapping, vertices = canonicalize(spark, surfaces, decisions)
    assert decisions == {"canonicalize": "driver", "surfaces": 0}
    assert mapping.schema == MAPPING_SCHEMA and mapping.count() == 0
    assert vertices.schema == VERTICES_SCHEMA and vertices.count() == 0


def test_canonicalize_above_cutoff_routes_distributed(spark, corpus_pdf, monkeypatch):
    """Past LOCAL_SURFACES the distributed path runs, with the same result."""
    monkeypatch.setattr(canon, "LOCAL_SURFACES", 10)
    ref = extract_corpus(corpus_pdf.to_dict("records"))
    surfaces = _surfaces(spark, ref.triples)
    decisions = {}
    got = _rows(*canonicalize(spark, surfaces, decisions))
    assert decisions == {"canonicalize": "distributed", "surfaces": 11}
    monkeypatch.undo()
    assert got == _rows(*canonicalize(spark, surfaces))
