"""Entity canonicalization — surface forms -> canonical entity IDs.

The Spark version of reference_extract.canonicalize_entities, the analog of
the reference collapsing many namespace URIs onto one canonical prefix
(lib/constants.js:7-38, lib/utils.js:137-150) — except the dictionary is
partly *built by the job*.  Both execution paths apply the same rules:

  1. normalize surface -> blocking key (NFKC casefold must match the spec
     exactly, so both paths share normalize_entity_key; a key that
     normalizes to empty falls back to the raw surface),
  2. static alias dictionary (ALIAS_TABLE) on the key,
  3. fuzzy pairs: 3-gram shingle Jaccard >= FUZZY_JACCARD between mention
     keys,
  4. components over (exact-key ∪ fuzzy) edges; entity_id = min sha1-hash
     of the member keys, canonical_name = most-mentioned surface (count
     desc, name asc).

Pseudo-entities ('conv:…', 'tool:…') merge by exact key ONLY (step 3 skips
them): fuzzy-merging conversation IDs would collapse distinct conversations.

Which path runs is decided by size, at the top of canonicalize(), the same
in-memory/fallback split components._local_cc makes one level down: one job
collects at most LOCAL_SURFACES + 1 distinct surfaces.

- Driver path (the set fits under the cutoff — a dimension-sized set, the
  common case): steps 1-4 run in plain Python over the collected frame.
  Step 3 is an EXACT all-pairs similarity join with prefix filtering
  (shingles ranked rarest first; a key indexes its first
  n - ceil(J*n) + 1 shingles; candidates sharing a prefix shingle are
  verified with jaccard()), step 4 is reference_extract._UnionFind, whose
  root is the member with the smallest entity_hash, i.e. the label.  The
  result goes back as two Arrow-built frames.  This replaces a dozen tiny
  stages whose cost is per-stage scheduling, not data.
- Distributed path (above the cutoff): step 1 a vectorized pandas UDF,
  step 2 a broadcast hash join (tiny dim table — SURVEY.md J1), step 3
  MinHash-LSH banding, DataFrame-native (explode 3-gram shingles -> 64
  seeded xxhash64 min-aggregations -> band hashes -> self-join on
  (band_idx, band_hash): O(n) shuffle, pairwise work only inside LSH
  buckets) then exact Jaccard verification of the candidates (LSH may
  over-generate, and under-generates with probability < 1e-5 at s>=0.55
  with 32 bands x 2 rows), step 4 connected components (components.py).
  Distinct surface forms ≪ total mentions (counts aggregate first); every
  join key is a 64-bit hash or short string; the only wide shuffle is the
  shingle explode, bounded by Σ|key| per partition.  AQE handles residual
  skew (hot shingles like ' th').

Both paths return identical mapping and vertices frames (same rows, same
schemas), pinned by tests/test_canonicalize.py against each other and the
oracle.
"""

from __future__ import annotations

from collections import Counter, defaultdict
from fractions import Fraction

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..constants import ALIAS_TABLE
from ..functions.normalize import (
    char_shingles,
    entity_hash,
    jaccard,
    normalize_entity_key,
)
from ..reference_extract import FUZZY_JACCARD, _UnionFind
from .components import connected_components

N_MINHASH = 64
N_BANDS = 32  # rows per band = N_MINHASH // N_BANDS = 2

# Driver/distributed cutoff on distinct surfaces (pseudo surfaces included):
# the largest size at which both paths were measured.  4-vCPU host,
# local[4], 8 GB driver heap, one canonicalization of a cached surface
# frame, driver path vs distributed path:
#   random 5-15-letter keys:  50 k 4.7-7.0 s vs 29.5 s; 100 k 18.9 vs 76 s;
#                             200 k 64.9 vs 169 s; 400 k 204.9 vs 451.9 s
#   planted names with UPPER and doubled-letter variants:
#                             10 k 1.0 vs 20.7 s; 50 k 2.9 vs 31.7 s;
#                             200 k 19.9 vs 118.3 s; 400 k 70.5 vs 305.3 s
# The driver path wins at every size measured; no crossover was reached
# (at 400 k it is still 2.2x faster on random keys).  It is one Python
# thread whose time grows ~n^1.7 and whose peak memory grows 1.2-1.5 KB per
# surface (0.6 GB at 400 k random keys), while the distributed path spreads
# both over the executors, so past the measured range that path is kept.
# Past the cutoff the routing job is wasted work (the distributed path
# aggregates the surfaces again): aggregating 1 M cached mention rows into
# 500 k surfaces and collecting 400,001 of them took 1.9-4.1 s, about 1 %
# of that path's time at such sizes.
LOCAL_SURFACES = 400_000

MAPPING_SCHEMA = T.StructType(
    [
        T.StructField("surface", T.StringType(), True),
        T.StructField("entity_id", T.LongType(), True),
    ]
)
VERTICES_SCHEMA = T.StructType(
    [
        T.StructField("entity_id", T.LongType(), True),
        T.StructField("canonical_name", T.StringType(), True),
        T.StructField("aliases", T.ArrayType(T.StringType(), False), False),
        T.StructField("n_mentions", T.LongType(), True),
    ]
)

# FUZZY_JACCARD as an exact fraction (11/20): the prefix bound must be an
# integer ceiling — float math.ceil(0.55 * 100) is 56, not 55, which would
# shorten the prefix and silently drop pairs at exactly J = 0.55
_J = Fraction(str(FUZZY_JACCARD))


@pandas_udf(T.StringType())
def norm_key_udf(surfaces: pd.Series) -> pd.Series:
    """The only Python exchange in canonicalization: NFKC casefold has no
    JVM-side equivalent expression.  Everything downstream is JVM columns."""
    return surfaces.map(normalize_entity_key)


def entity_hash_col(key) -> "F.Column":
    """JVM twin of functions.normalize.entity_hash: first 8 bytes of
    sha1(key) as big-endian signed int64.  shiftleft/bitwiseOR reassemble
    the two 32-bit halves with two's-complement wrap (bitwise ops don't
    ANSI-overflow); parity with the oracle is pinned by tests."""
    c = F.col(key) if isinstance(key, str) else key
    d = F.sha1(c)
    hi = F.conv(F.substring(d, 1, 8), 16, 10).cast("long")
    lo = F.conv(F.substring(d, 9, 8), 16, 10).cast("long")
    return F.shiftleft(hi, 32).bitwiseOR(lo)


def char_shingles_col(key, k: int = 3) -> "F.Column":
    """JVM twin of functions.normalize.char_shingles: distinct character
    k-grams of the space-padded key (whole padded string when shorter than
    k)."""
    c = F.col(key) if isinstance(key, str) else key
    padded = F.concat(F.lit(" "), c, F.lit(" "))
    n = F.length(padded)
    grams = F.transform(
        F.sequence(F.lit(1), n - (k - 1)), lambda i: padded.substr(i, F.lit(k))
    )
    return F.array_distinct(
        F.when(n <= k, F.array(padded)).otherwise(grams)
    )


def jaccard_col(a, b, k: int = 3) -> "F.Column":
    """JVM twin of functions.normalize.jaccard over char shingle sets."""
    sa, sb = char_shingles_col(a, k), char_shingles_col(b, k)
    inter = F.size(F.array_intersect(sa, sb))
    return inter / (F.size(sa) + F.size(sb) - inter)


def alias_dim(spark: SparkSession) -> DataFrame:
    """The static alias dictionary as a broadcastable dimension table."""
    return spark.createDataFrame(
        [(k, v) for k, v in sorted(ALIAS_TABLE.items())],
        schema="alias_key string, canonical_key string",
    )


def surface_keys(spark: SparkSession, surfaces: DataFrame) -> DataFrame:
    """surfaces(surface, n_mentions) -> (surface, key, n_mentions, is_pseudo).

    Normalization UDF + broadcast alias join (J1).  A key that normalizes to
    empty falls back to the raw surface (never lose data)."""
    keyed = surfaces.withColumn("raw_key", norm_key_udf("surface"))
    keyed = keyed.withColumn(
        "raw_key",
        F.when(F.col("raw_key") == "", F.col("surface")).otherwise(F.col("raw_key")),
    )
    dim = F.broadcast(alias_dim(spark))
    return (
        keyed.join(dim, keyed.raw_key == dim.alias_key, "left")
        .select(
            "surface",
            F.coalesce("canonical_key", "raw_key").alias("key"),
            "n_mentions",
            (
                F.col("surface").startswith("conv:")
                | F.col("surface").startswith("tool:")
            ).alias("is_pseudo"),
        )
    )


def lsh_candidate_pairs(keys: DataFrame) -> DataFrame:
    """keys(key) [distinct, non-pseudo] -> candidate pairs (key_a, key_b).

    MinHash: minhash_i(key) = min over shingles s of xxhash64(i, s).
    Banding: band_j = xxhash64(j, h_{2j}, h_{2j+1}); keys sharing any band
    bucket become a candidate pair.  Bucket join uses a conditional self-join
    on (band_idx, band_hash) with key_a < key_b to halve the pair space.
    """
    exploded = keys.select("key", F.explode(char_shingles_col("key")).alias("shingle"))
    minhashes = exploded.groupBy("key").agg(
        *[
            F.min(F.xxhash64(F.lit(i), F.col("shingle"))).alias(f"h{i}")
            for i in range(N_MINHASH)
        ]
    )
    r = N_MINHASH // N_BANDS
    bands = minhashes.select(
        "key",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("band_idx"),
                        F.xxhash64(
                            F.lit(j), *[F.col(f"h{j * r + k}") for k in range(r)]
                        ).alias("band_hash"),
                    )
                    for j in range(N_BANDS)
                ]
            )
        ).alias("band"),
    ).select("key", "band.band_idx", "band.band_hash")
    a = bands.alias("a")
    b = bands.alias("b")
    return (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_hash") == F.col("b.band_hash"))
            & (F.col("a.key") < F.col("b.key")),
        )
        .select(F.col("a.key").alias("key_a"), F.col("b.key").alias("key_b"))
        .distinct()
    )


def fuzzy_pairs(keys: list[str]):
    """Yield every pair (a, b) of `keys` with shingle Jaccard >=
    FUZZY_JACCARD — exact, by prefix filtering.

    J(x, y) >= t implies |x ∩ y| >= ceil(t * |x|), so under any fixed
    global shingle order two such sets share a shingle within their first
    |x| - ceil(t * |x|) + 1.  Ranking shingles rarest first keeps those
    prefixes, and hence the inverted-index lists probed, short; every
    candidate is then verified with the spec's jaccard()."""
    shingles = [char_shingles(k) for k in keys]
    freq = Counter(s for sh in shingles for s in sh)
    index: dict[str, list[int]] = defaultdict(list)
    for i, sh in enumerate(shingles):
        n = len(sh)
        min_overlap = -(-n * _J.numerator // _J.denominator)
        prefix = sorted(sh, key=lambda s: (freq[s], s))[: n - min_overlap + 1]
        candidates = {j for s in prefix for j in index[s]}
        for s in prefix:
            index[s].append(i)
        for j in candidates:
            if jaccard(sh, shingles[j]) >= FUZZY_JACCARD:
                yield keys[j], keys[i]


def canonicalize(
    spark: SparkSession, surfaces: DataFrame, decisions: dict | None = None
):
    """surfaces(surface, n_mentions) -> (mapping, vertices).

    mapping:  (surface, entity_id)
    vertices: (entity_id, canonical_name, aliases, n_mentions) — canonical
              name = most-mentioned surface, ties lexicographic
              (matches the pure-Python spec).

    One job collects up to LOCAL_SURFACES + 1 surfaces; a set within the
    cutoff is canonicalized on the driver, a larger one by the distributed
    path (module docstring).  When given, `decisions` receives the path
    taken ("canonicalize": "driver" | "distributed") and the number of
    surfaces collected ("surfaces": the exact count on the driver path,
    LOCAL_SURFACES + 1 — a lower bound — past the cutoff).
    """
    pdf = _route(surfaces, decisions)
    if pdf is not None:
        return _canonicalize_local(spark, pdf)
    return _canonicalize_dist(spark, surfaces)


def canonicalize_sized(
    spark: SparkSession, surfaces: DataFrame, decisions: dict | None = None
):
    """canonicalize() plus the mapping's estimated in-memory size
    (mapping_bytes()), for a caller that gates a broadcast on it:
    (mapping, vertices, mapping_bytes).  The driver path sizes the frame it
    collected at no cost; the distributed path returns its mapping cached
    and sizes it with one aggregate job — the caller's joins read that
    cache, and the caller unpersists it."""
    pdf = _route(surfaces, decisions)
    if pdf is not None:
        n_bytes = mapping_bytes(len(pdf), int(pdf["surface"].str.len().sum()))
        return (*_canonicalize_local(spark, pdf), n_bytes)
    mapping, vertices = _canonicalize_dist(spark, surfaces)
    mapping = mapping.cache()
    stats = mapping.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.length("surface")), F.lit(0)).alias("chars"),
    ).collect()[0]
    n_bytes = mapping_bytes(int(stats["rows"]), int(stats["chars"]))
    return mapping, vertices, n_bytes


def _route(surfaces: DataFrame, decisions: dict | None) -> pd.DataFrame | None:
    """The routing job: the collected surfaces when they fit the cutoff
    (driver path), else None (distributed path)."""
    pdf = surfaces.limit(LOCAL_SURFACES + 1).toPandas()
    on_driver = len(pdf) <= LOCAL_SURFACES
    if decisions is not None:
        decisions["canonicalize"] = "driver" if on_driver else "distributed"
        decisions["surfaces"] = len(pdf)
    return pdf if on_driver else None


def mapping_bytes(rows: int, surface_chars: int) -> int:
    """Estimated in-memory size of a broadcast (surface -> entity_id) hash
    relation: the surface strings plus ~48 B/row of object and hash
    overhead."""
    return surface_chars + 48 * rows


def _canonicalize_local(spark: SparkSession, pdf: pd.DataFrame):
    """The driver path over collected (surface, n_mentions) rows."""
    n_mentions = dict(zip(pdf["surface"], pdf["n_mentions"]))
    key_of = {}
    for s in n_mentions:
        raw = normalize_entity_key(s) or s
        key_of[s] = ALIAS_TABLE.get(raw, raw)

    uf = _UnionFind()
    mention_keys = sorted(
        {k for s, k in key_of.items() if not s.startswith(("conv:", "tool:"))}
    )
    for a, b in fuzzy_pairs(mention_keys):
        uf.union(a, b)

    entity_of = {s: entity_hash(uf.find(k)) for s, k in key_of.items()}
    members: dict[int, list[str]] = defaultdict(list)
    for s, eid in entity_of.items():
        members[eid].append(s)
    mapping = pd.DataFrame(
        {"surface": list(entity_of), "entity_id": list(entity_of.values())}
    )
    vertices = pd.DataFrame(
        [
            (
                eid,
                min(ms, key=lambda m: (-n_mentions[m], m)),
                sorted(ms),
                sum(n_mentions[m] for m in ms),
            )
            for eid, ms in members.items()
        ],
        columns=VERTICES_SCHEMA.names,
    )
    return (
        spark.createDataFrame(mapping, MAPPING_SCHEMA),
        spark.createDataFrame(vertices, VERTICES_SCHEMA),
    )


def _canonicalize_dist(spark: SparkSession, surfaces: DataFrame):
    """The distributed path.

    Execution split: pseudo-entities ('conv:', 'tool:') merge by EXACT key
    only, so they take a fast path — one groupBy(key), entity_id =
    hash(key), no LSH / CC / label joins.  At corpus scale pseudo surfaces
    outnumber mention surfaces ~1000:1 (one per conversation), so this
    removes almost all data from the expensive path without changing one
    label.  The single subtlety: a pseudo surface whose key COLLIDES with a
    mention key could be pulled into a fuzzy-merged component, so colliding
    keys are routed to the full path (the overlap is computed exactly and
    is ~always empty).
    """
    keyed = surface_keys(spark, surfaces)  # surface, key, n_mentions, is_pseudo
    keyed.cache()

    mention_keyed = keyed.filter(~F.col("is_pseudo"))
    pseudo_keyed = keyed.filter(F.col("is_pseudo"))
    overlap = (
        pseudo_keyed.select("key")
        .distinct()
        .join(mention_keyed.select("key").distinct(), "key")
    )
    full_keyed = mention_keyed.unionByName(
        pseudo_keyed.join(F.broadcast(overlap), "key")
    )
    fast_keyed = pseudo_keyed.join(F.broadcast(overlap), "key", "left_anti")

    fast_mapping = fast_keyed.select(
        "surface", entity_hash_col("key").alias("entity_id")
    )
    # canonical_name via one ordered-struct min: (-n_mentions asc, surface
    # asc) == (count desc, name asc) — no window, map-side combinable
    fast_vertices = (
        fast_keyed.groupBy("key")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_mentions")).alias("neg"),
                    F.col("surface").alias("s"),
                )
            ).alias("best"),
            F.sort_array(F.collect_set("surface")).alias("aliases"),
            F.sum("n_mentions").alias("n_mentions"),
        )
        .select(
            entity_hash_col("key").alias("entity_id"),
            F.col("best.s").alias("canonical_name"),
            "aliases",
            "n_mentions",
        )
    )

    full_mapping, full_vertices = _canonicalize_full(full_keyed)
    mapping = full_mapping.unionByName(fast_mapping)
    vertices = full_vertices.unionByName(fast_vertices)
    return mapping, vertices


def _canonicalize_full(keyed: DataFrame):
    """The LSH + connected-components path (mention surfaces + colliding
    pseudo keys): steps 3-4 of the distributed path
    in the module docstring."""
    # one row per key: a key shared by a mention and a colliding pseudo
    # surface is a mention key (fuzzy-eligible), as in the spec — a
    # (key, is_pseudo) distinct would list it twice and double its surfaces
    distinct_keys = keyed.groupBy("key").agg(F.min("is_pseudo").alias("is_pseudo"))
    node_ids = distinct_keys.withColumn("node_id", entity_hash_col("key")).cache()

    fuzzy_keys = node_ids.filter(~F.col("is_pseudo")).select("key")
    pairs = lsh_candidate_pairs(fuzzy_keys)
    verified = pairs.filter(jaccard_col("key_a", "key_b") >= F.lit(FUZZY_JACCARD))

    ids = node_ids.select("key", "node_id")
    edge_ids = (
        verified.join(ids.withColumnRenamed("key", "key_a"), "key_a")
        .withColumnRenamed("node_id", "src")
        .join(
            ids.withColumnRenamed("key", "key_b").withColumnRenamed(
                "node_id", "dst"
            ),
            "key_b",
        )
        .select("src", "dst")
    )

    labels = connected_components(edge_ids)  # (node_id, component)

    key_component = (
        node_ids.join(labels, node_ids.node_id == labels.node, "left")
        .select(
            "key",
            F.coalesce("component", "node_id").alias("entity_id"),
        )
    )

    mapped = keyed.join(key_component, "key").select(
        "surface", "key", "entity_id", "n_mentions"
    )
    mapping = mapped.select("surface", "entity_id")

    # canonical_name = most-mentioned surface, ties lexicographic asc —
    # exactly the spec's (count desc, name asc); row_number over a window
    # (deterministic, unlike max_by with composite string tiebreaks).
    from pyspark.sql import Window

    w = Window.partitionBy("entity_id").orderBy(
        F.col("n_mentions").desc(), F.col("surface").asc()
    )
    best = (
        mapped.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .select("entity_id", F.col("surface").alias("canonical_name"))
    )
    vertices = (
        mapped.groupBy("entity_id")
        .agg(
            F.sort_array(F.collect_set("surface")).alias("aliases"),
            F.sum("n_mentions").alias("n_mentions"),
        )
        .join(best, "entity_id")
        .select("entity_id", "canonical_name", "aliases", "n_mentions")
    )
    return mapping, vertices
