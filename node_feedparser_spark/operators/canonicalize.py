"""Entity canonicalization — surface forms -> canonical entity IDs.

The Spark version of reference_extract.canonicalize_entities, the analog of
the reference collapsing many namespace URIs onto one canonical prefix
(lib/constants.js:7-38, lib/utils.js:137-150) — except the dictionary is
partly *built by the job*.  The same rules as the spec:

  1. normalize surface -> blocking key (NFKC casefold, normalize_entity_key;
     a key that normalizes to empty falls back to the raw surface),
  2. static alias dictionary (ALIAS_TABLE) on the key,
  3. fuzzy pairs: 3-gram shingle Jaccard >= FUZZY_JACCARD between mention
     keys,
  4. components over (exact-key ∪ fuzzy) edges; entity_id = min sha1-hash
     of the member keys, canonical_name = most-mentioned surface (count
     desc, name asc).

Pseudo-entities ('conv:…', 'tool:…') merge by exact key ONLY (step 3 skips
them): fuzzy-merging conversation IDs would collapse distinct conversations.

The surface set is dimension-sized (distinct surfaces ≪ mentions; counts
aggregate first), so one job collects it and steps 1-4 run in plain Python
on the driver.  Step 3 is an EXACT all-pairs similarity join with prefix
filtering (shingles ranked rarest first; a key indexes its first
n - ceil(J*n) + 1 shingles; candidates sharing a prefix shingle are
verified with jaccard()), step 4 is reference_extract._UnionFind, whose
root is the member with the smallest entity_hash, i.e. the label.  The
result goes back as two Arrow-built frames.

Measured range: 4-vCPU host, local[4], 3 GB driver heap, one
canonicalization of a cached surface frame, CPU of the driver's Python
process plus the JVM, peak RSS of the Python process:
  planted names with UPPER and doubled-letter variants:
                             1 M surfaces 560 CPU-s, 1.26 GB peak
  random 5-15-letter keys:   400 k 281 CPU-s, 0.78 GB peak;
                             1 M 1,792 CPU-s, 1.75 GB peak
Peak memory grows 1.2-1.7 KB per surface.  Time grows with the candidate
pairs that share a prefix shingle, about n^2 from 400 k to 1 M random keys
(near-duplicate names are cheaper).  Sizes beyond these are unmeasured.

The JVM column helpers below (norm_key_udf, surface_keys,
lsh_candidate_pairs, entity_hash_col, char_shingles_col, jaccard_col) are
no part of the build; perfbench/traced.py times them as layer probes.
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

N_MINHASH = 64
N_BANDS = 32  # rows per band = N_MINHASH // N_BANDS = 2

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
    """NFKC casefold as a column: it has no JVM-side equivalent
    expression."""
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

    One job collects the surfaces.  When given, `decisions` receives their
    number ("surfaces") and the mapping's estimated in-memory size
    ("mapping_bytes", from mapping_bytes()), which a caller can gate a
    broadcast of the mapping on."""
    pdf = surfaces.toPandas()
    if decisions is not None:
        decisions["surfaces"] = len(pdf)
        decisions["mapping_bytes"] = mapping_bytes(
            len(pdf), int(pdf["surface"].str.len().sum())
        )
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


def mapping_bytes(rows: int, surface_chars: int) -> int:
    """Estimated in-memory size of a broadcast (surface -> entity_id) hash
    relation: the surface strings plus ~48 B/row of object and hash
    overhead."""
    return surface_chars + 48 * rows
