"""build_kg — the flagship end-to-end plan.

transcripts -> dedupe(first-wins) -> extract(mapInPandas) -> canonicalize
(alias dictionary + exact prefix-filtered Jaccard + union-find on the driver
below a distinct-surface cutoff; broadcast alias join + MinHash-LSH +
connected components above it) -> triples / vertices / edges / metrics,
with per-bucket lineage and resume.

The four outputs are the analogs of the reference's item records, meta
record, and errors side channel (SURVEY.md §1.3); 'meta before items'
ordering (lib/feedparser.js:351-357) becomes 'vertices/metrics written in
the same run as triples/edges'.

Scale design:
- conv_id is bucketed (pmod of xxhash64) purely for LINEAGE granularity —
  extraction itself never groups by conversation, so mega-thread skew
  cannot stall a task (FIXTURES.md `mega-`).
- ONE corpus shuffle end to end (round 3, fuse_write_partitioning): the
  (bucket, wsalt) exchange ahead of the dedupe window doubles as the
  write's bucket co-location — the salt hashes (conv_id, turn_idx) so
  same-key duplicates still meet, mega-threads spread across sub salts,
  and a bucket's rows live in at most `sub` partitions.  Extraction
  (mapInPandas) and the forced-broadcast mapping joins preserve that
  physical clustering, so in the common branch the partitioned triples
  write runs with NO repartition of the ~3x-larger triple payload (the
  old second shuffle was the measured write-phase scaling residual).
- resume: committed (snapshot_id, bucket) pairs read from the metrics table
  are anti-joined away from the input — a restart recomputes only missing
  buckets (reference analog: checkpointed incremental emission).
- triples are written with DYNAMIC partition overwrite on (snap, bucket)
  (round 3): recomputing an uncommitted bucket after a crash REPLACES its
  partition instead of appending a duplicate — the write is idempotent per
  bucket, which is what makes crash-resume safe end to end.
- vertices/edges (round 3): on a resumed run they MERGE with the prior
  aggregates (read prior -> union -> re-agg: edge weights and mention
  counts sum exactly over the disjoint bucket sets; alias sets union;
  canonical_name follows the merged mention counts) instead of being
  recomputed from this run's partial input.  A driver-side
  graph_state.json records which partition hashes the aggregates already
  include; both staged tables and the state commit together behind one
  commit point (_commit_graph: staged state file, then retire-rename +
  install-rename per table, then state promotion — every post-commit-point
  step an idempotent rename that _recover_graph_commit finishes after a
  crash), so any crash point replays as either a clean recompute or a
  finished commit, never a double-count or a lost table — the file-based
  analog of the single Iceberg MERGE transaction this becomes on a real
  warehouse (pinned by tests/test_crash_recovery.py).
- the score histogram per bucket uses a fixed-width bucketing groupBy —
  a map-side-combinable aggregation, not a sketch, so it is deterministic.
"""

from __future__ import annotations

import os
import sys
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.canonicalize import canonicalize
from ..operators.extract import (
    ERROR_PRED,
    MAX_TEXT_BYTES,
    dedupe_first_wins,
    extract_triples,
)
from ..sources.transcripts import read_transcripts, snapshot_id
from ..schemas import METRICS

DEFAULT_BUCKETS = 32


def _table_rows(spark: SparkSession, path: str) -> int:
    """Row count of a written parquet table via a zero-column distributed
    count — executors read footer metadata in parallel; the driver never
    lists or opens files itself (the round-2 `_parquet_rows` glob was one
    driver-side footer read per file — a listing storm on an object store
    at cluster scale)."""
    if not os.path.isdir(path):
        return 0
    return spark.read.parquet(path).count()


def merge_edges(prior: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental edge merge: prior and new cover DISJOINT bucket sets, so
    summing weights per (src, pred, dst) is exactly the full-recompute
    aggregate.  One map-side-combinable groupBy."""
    return (
        prior.unionByName(new)
        .groupBy("src_id", "pred", "dst_id")
        .agg(F.round(F.sum("weight"), 6).alias("weight"))
    )


def merge_vertices(prior: DataFrame, new: DataFrame) -> DataFrame:
    """Incremental vertex merge: n_mentions sums exactly and alias sets
    union exactly (disjoint bucket sets); canonical_name follows the side
    with more merged mentions (ties lexicographic) — deterministic, and
    equal to the full recompute whenever the per-run majority surface is
    the global majority surface (the overwhelmingly common case).

    Alias-ownership reconciliation (round 4): a split ingest can
    canonicalize a cross-half surface into DIFFERENT entity components per
    run (incremental-ER divergence — the full corpus bridges a pair one
    half alone cannot), leaving one surface in two merged entities' alias
    sets.  The triples keep their historic per-snapshot entity IDs (both
    vertex rows stay referenceable), but the vertex table's alias sets are
    re-emitted so surface -> entity is a FUNCTION again: each contested
    alias goes to exactly one owner, ranked (1) the entity whose ONLY
    surface it is — two distinct ids cannot both be the singleton {s},
    since entity_id is a pure function of the member-key set — then
    (2) the entity whose canonical name it is, then (3) merged-mention
    majority, then (4) smallest entity_id.  An entity that loses its
    canonical surface re-points canonical_name to its lexicographically
    first surviving alias, preserving name-in-own-aliases.

    An entity can lose EVERY surface — the common divergence shape is one
    run's component being a strict SUBSET of the other run's (e.g. run 1
    groups {S, S.}, run 2 groups {S, S., S.G}; the full recompute has one
    entity, the split has two whose surfaces nest).  Its historic
    entity_id is still referenced by that run's immutable triples, so the
    row cannot be dropped; it becomes an explicit REDIRECT vertex:
    aliases = [] and canonical_name names the surface the winning entity
    now owns — the audit verifies every redirect resolves to a live
    owner.  This makes the audit's alias_single_owner a hard invariant
    (plans/validate.py now fails on it).  Cost: one |V|*avg_aliases
    explode + per-alias window + re-group — vertex-scale, far below the
    corpus scan.
    """
    merged = (
        prior.unionByName(new)
        .groupBy("entity_id")
        .agg(
            F.min(
                F.struct(
                    (-F.col("n_mentions")).alias("neg"),
                    F.col("canonical_name").alias("s"),
                )
            ).alias("best"),
            F.array_distinct(F.flatten(F.collect_list("aliases"))).alias(
                "aliases"
            ),
            F.sum("n_mentions").alias("n_mentions"),
        )
        .select(
            "entity_id",
            F.col("best.s").alias("canonical_name"),
            "aliases",
            "n_mentions",
        )
    )
    return resolve_alias_ownership(merged)


def resolve_alias_ownership(vertices: DataFrame) -> DataFrame:
    """Deterministic single-owner projection of a vertex table whose alias
    sets may overlap (merge_vertices' reconciliation step, also applied by
    plans/expire.py after it re-derives surviving surfaces): each alias
    resolves to one owner under the (singleton, canonical-claim, mention
    majority, smallest id) ranking; losers shrink, a loser whose canonical
    surface went elsewhere re-points to its first surviving alias, and an
    entity stripped of every surface becomes a redirect vertex (empty
    aliases, canonical_name = the surface its winner owns).  Input and
    output schema: (entity_id, canonical_name, aliases, n_mentions)."""
    from pyspark.sql import Window

    pre = vertices.withColumn(
        "pre_aliases", F.array_sort(F.col("aliases"))
    )
    ex = pre.select(
        "entity_id",
        "canonical_name",
        "n_mentions",
        F.size("aliases").alias("n_aliases"),
        F.explode("aliases").alias("alias"),
    )
    w = Window.partitionBy("alias").orderBy(
        (F.col("n_aliases") == 1).desc(),
        (F.col("alias") == F.col("canonical_name")).desc(),
        F.col("n_mentions").desc(),
        F.col("entity_id").asc(),
    )
    owned = (
        ex.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .groupBy("entity_id")
        .agg(F.array_sort(F.collect_list("alias")).alias("owned_aliases"))
    )
    aliases = F.coalesce(
        F.col("owned_aliases"), F.array().cast("array<string>")
    )
    # redirect pointer: an emptied entity's canonical must name a surface
    # SOME live vertex owns.  Its own canonical qualifies only if it was in
    # this round's pre-resolution set (then its winner owns it); otherwise
    # fall back to its first pre-resolution surface (each went to a
    # winner).  An entity that arrived surface-less keeps its pointer —
    # only the merge path produces that, and there the pointer's owner
    # rides the same union.
    redirect_ptr = F.when(
        F.array_contains(F.col("pre_aliases"), F.col("canonical_name"))
        | (F.size("pre_aliases") == 0),
        F.col("canonical_name"),
    ).otherwise(F.element_at(F.col("pre_aliases"), 1))
    return (
        pre.drop("aliases")
        .join(owned, "entity_id", "left")
        .select(
            "entity_id",
            F.when(
                F.array_contains(aliases, F.col("canonical_name")),
                F.col("canonical_name"),
            )
            .when(F.size(aliases) == 0, redirect_ptr)
            .otherwise(F.element_at(aliases, 1))
            .alias("canonical_name"),
            aliases.alias("aliases"),
            "n_mentions",
        )
    )


def _graph_state_path(output_dir: str) -> str:
    return os.path.join(output_dir, "graph_state.json")


def _read_graph_state(output_dir: str) -> set[str]:
    """Partition hashes the on-disk vertex/edge aggregates already include.
    A tiny driver-side metadata file (the analog of Iceberg's snapshot
    metadata) — NOT a data scan."""
    import json

    try:
        with open(_graph_state_path(output_dir)) as f:
            return set(json.load(f)["partition_hashes"])
    except (FileNotFoundError, ValueError, KeyError):
        return set()


def _write_graph_state(output_dir: str, hashes: set[str]) -> None:
    import json

    tmp = _graph_state_path(output_dir) + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"partition_hashes": sorted(hashes)}, f)
    os.replace(tmp, _graph_state_path(output_dir))


def _install_staged(stage: str, live: str) -> None:
    """Install one staged table dir over the live one with no lost-table
    window: the live dir is RETIRED by an atomic rename (never rmtree'd
    while it is the only copy) and deleted only after the stage is in
    place.  Idempotent — a missing stage means a prior attempt already
    installed it."""
    import shutil

    if not os.path.isdir(stage):
        return
    retired = live + ".retired"
    if os.path.isdir(retired):  # post-commit garbage from an older commit
        shutil.rmtree(retired)
    if os.path.isdir(live):
        os.replace(live, retired)
    os.replace(stage, live)


def _commit_graph(
    output_dir: str,
    vert_stage: str,
    vertices_path: str,
    edge_stage: str,
    edges_path: str,
    hashes: set[str],
) -> None:
    """Two-phase commit of the staged vertex/edge merges plus graph_state
    (the local-FS emulation of one atomic Iceberg MERGE transaction over
    both tables).  The staged state file is the commit point: before it
    exists nothing has moved (a crash replays the whole merge against the
    intact live tables); once it exists, every later step is an idempotent
    rename, so _recover_graph_commit finishes the commit from any crash
    point instead of double-merging or losing a table."""
    import json
    import shutil

    stage_state = _graph_state_path(output_dir) + ".stage"
    tmp = stage_state + ".tmp"
    with open(tmp, "w") as f:
        json.dump({"partition_hashes": sorted(hashes)}, f)
    os.replace(tmp, stage_state)  # COMMIT POINT
    _install_staged(vert_stage, vertices_path)
    _install_staged(edge_stage, edges_path)
    os.replace(stage_state, _graph_state_path(output_dir))
    for p in (vertices_path + ".retired", edges_path + ".retired"):
        shutil.rmtree(p, ignore_errors=True)


def _recover_graph_commit(
    output_dir: str, vertices_path: str, edges_path: str
) -> None:
    """Finish or discard a half-done graph commit before reading state.
    An in-flight staged state file means a commit passed its commit point:
    install whatever table stages remain and promote the state.  Without
    one, leftover stage dirs were never committed — delete them; the run
    will recompute against the intact live tables.

    Namespace discipline: this protocol's stages are ``<table>.stage-run-*``
    (run ids are ``run-<hex>``), and ONLY that pattern is touched here.
    The streaming merge (streaming/graph_merge.py) stages as
    ``<table>.stage-b<batch_id>`` with its own single-table protocol whose
    commit point is the retire rename — its committed-but-uninstalled
    stage must never be mistaken for this protocol's uncommitted garbage.
    ``.retired`` dirs are safe to clear in BOTH protocols: each retires a
    live dir only after its replacement is fully staged, so a retired copy
    is superseded by construction."""
    import glob
    import json
    import shutil

    stage_state = _graph_state_path(output_dir) + ".stage"
    in_flight = False
    if os.path.isfile(stage_state):
        try:
            with open(stage_state) as f:
                json.load(f)["partition_hashes"]
            in_flight = True
        except (ValueError, KeyError):
            os.remove(stage_state)  # torn write: commit never started
    if in_flight:
        for live in (vertices_path, edges_path):
            for s in sorted(glob.glob(glob.escape(live) + ".stage-run-*")):
                _install_staged(s, live)
        os.replace(stage_state, _graph_state_path(output_dir))
    for live in (vertices_path, edges_path):
        for s in glob.glob(glob.escape(live) + ".stage-run-*"):
            shutil.rmtree(s, ignore_errors=True)
        shutil.rmtree(live + ".retired", ignore_errors=True)
    tmp = stage_state + ".tmp"
    if os.path.isfile(tmp):
        os.remove(tmp)


#: salt seed for the write sub-split (prepended literal decorrelates the
#: salt from the bucket hash — see triples_write_frame)
WRITE_SALT = 0x5A17


def write_sub(n_buckets: int, par: int) -> int:
    """Sub-splits per bucket so write-stage groups >= 4x parallelism: the
    scheduler load-balances regardless of hash collisions, and files per
    bucket stay bounded by `sub`, not by task count."""
    return max(1, -(-4 * par // n_buckets))


def fuse_write_partitioning(
    raw: DataFrame, n_buckets: int, sub: int
) -> DataFrame:
    """ONE exchange that serves both the first-wins dedupe and the bucketed
    triples write (round 3 — this was the write phase's scaling residual:
    the old plan shuffled the full corpus twice, once for the dedupe window
    on (conv_id, turn_idx) and once for the write's (bucket, salt)
    co-location, and the second shuffle carried the ~3x-larger extracted
    triple payload).

    The salt hashes (conv_id, turn_idx) — NOT conv_id alone — so
    - same-key duplicate rows still co-locate (the dedupe window sees every
      candidate for a key in one partition),
    - a mega-thread spreads across all `sub` salts of its bucket instead of
      landing in one task (the old write salt put each conversation in
      exactly ONE write task; this is strictly better),
    - a bucket's rows live in at most `sub` partitions, so files per bucket
      stay bounded by `sub` even with NO pre-write repartition: extraction
      (mapInPandas) and the forced-broadcast mapping joins are
      partition-preserving, so the clustering laid down here physically
      survives to the partitioned write.

    Skew bound: a conversation holding fraction f of the corpus makes its
    bucket's partitions carry ~(f + 1/n_buckets)/sub of the data each (vs
    the ideal 1/(n_buckets*sub)).  At cluster scale n_buckets grows with
    the corpus (thousands), so the bound tightens exactly where it matters;
    the old per-key window shuffle had no such term but paid a second full
    shuffle for it.  Elision + equality pinned by tests/test_write_plan.py.
    """
    salted = raw.withColumn(
        "wsalt",
        F.pmod(
            F.xxhash64(F.lit(WRITE_SALT), "conv_id", "turn_idx"), F.lit(sub)
        ).cast("int"),
    )
    return salted.repartition(n_buckets * sub, "bucket", "wsalt")


def triples_clustered_frame(
    triples: DataFrame, snap: str, n_buckets: int
) -> DataFrame:
    """The no-exchange twin of triples_write_frame: attaches the per-row
    constants and selects the table contract, relying on the clustering
    laid down by fuse_write_partitioning (broadcast-mapping branch only —
    a shuffling fallback join would destroy it, so build_kg routes that
    branch through triples_write_frame instead).  Module-level so
    tests/test_write_plan.py can pin that its plan adds NO exchange."""
    bucket_hash = F.array(
        *[F.lit(partition_hash(snap, n_buckets, b)) for b in range(n_buckets)]
    )
    return (
        triples.withColumn(
            "lineage",
            F.struct(
                F.element_at(bucket_hash, F.col("bucket") + 1).alias(
                    "partition_hash"
                ),
                F.lit(snap).alias("snapshot_id"),
            ),
        )
        .withColumn("snap", F.lit(snap))
        .select(
            "conv_id", "turn_idx", "subj", "pred", "obj", "score",
            "subj_id", "obj_id", "lineage", "bucket", "snap",
        )
    )


def triples_write_frame(
    triples: DataFrame, snap: str, n_buckets: int, par: int
) -> DataFrame:
    """The exact frame `build_kg` writes to the triples table: the salted
    co-locating exchange with the per-row-constant columns attached ABOVE
    it.  Module-level (not a closure) so tests can pin the two plan
    properties that matter at scale:

    - the Project computing `lineage`/`snap` sits above the Exchange —
      those strings are derivable from `bucket`, and shuffling them would
      roughly double exchange bytes (they cost one dictionary-encoded
      parquet column instead);
    - the sub-split salt is DECORRELATED from the bucket hash: bucket is
      xxhash64(conv_id) % n_buckets, so a salt of xxhash64(conv_id) % sub
      would be fully determined by the bucket whenever sub divides
      n_buckets (the common case) and every bucket would collapse into
      ONE write task.  Prepending a literal changes the hash input,
      giving an independent uniform salt and real 4x-parallelism write
      granularity.

    `sub` sizes each bucket's sub-split so groups >= 4x parallelism: the
    scheduler then load-balances regardless of hash collisions, and files
    per bucket stay bounded by `sub`, not by task count.
    """
    sub = write_sub(n_buckets, par)
    bucket_hash = F.array(
        *[F.lit(partition_hash(snap, n_buckets, b)) for b in range(n_buckets)]
    )
    return (
        triples.repartition(
            n_buckets * sub,
            F.col("bucket"),
            F.pmod(F.xxhash64(F.lit(WRITE_SALT), F.col("conv_id")), F.lit(sub)),
        )
        .withColumn(
            "lineage",
            F.struct(
                F.element_at(bucket_hash, F.col("bucket") + 1).alias(
                    "partition_hash"
                ),
                F.lit(snap).alias("snapshot_id"),
            ),
        )
        .withColumn("snap", F.lit(snap))
        .select(
            "conv_id", "turn_idx", "subj", "pred", "obj", "score",
            "subj_id", "obj_id", "lineage", "bucket", "snap",
        )
    )


def _bucketed(df: DataFrame, n_buckets: int) -> DataFrame:
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def partition_hash(snap: str, n_buckets: int, bucket: int) -> str:
    """Lineage identity of one partition of one snapshot under one bucketing.
    Including n_buckets means a re-run with different bucketing does NOT
    treat old commits as valid (they cover different conv_id subsets)."""
    import hashlib

    return hashlib.sha1(f"{snap}:{n_buckets}:{bucket}".encode()).hexdigest()


def committed_buckets(
    spark: SparkSession, metrics_path: str, snap: str, n_buckets: int
) -> list[int]:
    if not os.path.isdir(metrics_path):
        return []
    expected = {partition_hash(snap, n_buckets, b): b for b in range(n_buckets)}
    try:
        rows = (
            spark.read.parquet(metrics_path)
            .filter(F.col("snapshot_id") == snap)
            .select("partition_hash")
            .distinct()
            .collect()
        )
        return sorted(
            expected[r["partition_hash"]]
            for r in rows
            if r["partition_hash"] in expected
        )
    except Exception:
        return []


def build_kg(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    n_buckets: int = DEFAULT_BUCKETS,
    resume: bool = True,
    fail_fast: bool = False,
    normalize: bool = True,
    max_text_bytes: int | None = MAX_TEXT_BYTES,
    strict_ingest: bool = False,
) -> dict:
    """Run the full pipeline.  Returns a summary dict (counts, snapshot,
    phase timings, and ``decisions``: the canonicalize path taken —
    "driver" or "distributed" — with the number of distinct surfaces it
    was chosen on (LOCAL_SURFACES + 1 past the cutoff), and whether the
    triples write kept the clustered layout).

    fail_fast / normalize are the reference's resume_saxerror:false and
    normalize:false option toggles, threaded to extract_triples;
    max_text_bytes is its MAX_BUFFER_LENGTH analog (16 MB default,
    None = unlimited).  strict_ingest upgrades the ingest-time PK guard
    (an incoming conv_id already committed under a DIFFERENT snapshot —
    a changed-datagen corpus landing in an old output dir, which would
    fail validate_kg's triples_pk_unique post-hoc) from a warning +
    ``ingest_warning`` summary key to a refusal."""
    snap = snapshot_id(input_path)
    run_id = f"run-{uuid.uuid4().hex[:12]}"
    triples_path = os.path.join(output_dir, "triples")
    vertices_path = os.path.join(output_dir, "vertices")
    edges_path = os.path.join(output_dir, "edges")
    metrics_path = os.path.join(output_dir, "metrics")
    # a prior attempt may have crashed mid graph-commit, mid snapshot
    # expiry, or mid compaction: finish or discard all three BEFORE
    # reading graph_state / metrics / the raw triples table.  Expiry
    # recovery runs before this function's own recovery so the blanket
    # .retired cleanup never sees a half-installed expiry; compaction
    # recovery runs before any raw triples read so crash remnants are
    # never parsed as extra partitions.  (Lazy imports: expire.py imports
    # this module's rename primitives.)
    from .compact import recover_compaction
    from .expire import recover_expire

    recover_expire(output_dir)
    recover_compaction(output_dir)
    _recover_graph_commit(output_dir, vertices_path, edges_path)

    raw = _bucketed(read_transcripts(spark, input_path), n_buckets)
    # the ingest guard below must probe the UNPRUNED scan: a crashed
    # overlapping ingest that is rerun resumes past its committed buckets,
    # and those buckets are exactly where the colliding conv_ids live
    raw_unpruned = raw

    skipped: list[int] = []
    if resume and os.path.isdir(metrics_path):
        skipped = committed_buckets(spark, metrics_path, snap, n_buckets)
        prior = (
            spark.read.parquet(metrics_path)
            .filter(F.col("snapshot_id") == snap)
            .select("partition_hash")
            .distinct()
            .count()
        )
        if prior > len(skipped):
            # same input committed under a different bucketing: recomputing
            # would append duplicates. Refuse instead of corrupting output.
            raise ValueError(
                f"{metrics_path} holds commits for snapshot {snap} under a "
                f"different n_buckets; rerun with the original n_buckets or "
                f"a fresh output dir"
            )
        if skipped:
            raw = raw.filter(~F.col("bucket").isin(skipped))

    # --- ingest-time PK guard (round 5): a conv_id arriving under THIS
    # snapshot that is already committed under a DIFFERENT snapshot means
    # the same conversations were re-generated with different content —
    # the merged graph would carry duplicate (conv_id, turn_idx, s, p, o)
    # keys and fail validate_kg's triples_pk_unique audit post-hoc.
    # Catch it at ingest: one partition-pruned existence probe (prior
    # triples scan reads only other snapshots' conv_id column; the input
    # side is the already-pruned raw scan; left-semi + limit 1).  Legit
    # split ingests (disjoint conv sets, test_graph_merge) pay the probe
    # and pass silently.
    ingest_warning = None
    if os.path.isdir(metrics_path) and os.path.isdir(triples_path):
        has_other = (
            spark.read.parquet(metrics_path)
            .filter(F.col("snapshot_id") != snap)
            .limit(1)
            .count()
        )
        if has_other:
            prior_convs = (
                spark.read.parquet(triples_path)
                .filter(F.col("snap") != snap)
                .select("conv_id")
            )
            overlap = (
                raw_unpruned.select("conv_id")
                .join(prior_convs, "conv_id", "left_semi")
                .limit(1)
                .count()
            )
            if overlap:
                ingest_warning = (
                    f"incoming snapshot {snap} shares conv_ids with "
                    f"previously committed snapshots in {output_dir}: the "
                    f"same conversations were re-ingested with different "
                    f"content, and the merged graph will fail the "
                    f"triples_pk_unique audit. Expire or roll back the old "
                    f"snapshot first, or use a fresh output dir."
                )
                if strict_ingest:
                    raise ValueError(ingest_warning)
                print(f"WARNING: {ingest_warning}", file=sys.stderr)

    # ONE corpus shuffle for dedupe + write (fuse_write_partitioning): the
    # (bucket, wsalt) exchange satisfies the prefixed dedupe window's
    # clustering, and — in the broadcast-mapping branch — physically
    # survives extraction and the joins all the way to the partitioned
    # write, which then needs no repartition of the triple payload.
    par = spark.sparkContext.defaultParallelism
    sub = write_sub(n_buckets, par)
    turns = dedupe_first_wins(
        fuse_write_partitioning(raw, n_buckets, sub),
        partition_prefix=("bucket", "wsalt"),
    )
    # n_turns = rows surviving first-wins dedupe = distinct (conv_id,
    # turn_idx) keys.  Counting on `turns` would re-run the dedupe window —
    # a second full shuffle of the text column — so count distinct keys on
    # the pruned raw scan instead (same value, 2-column columnar read).
    # (distinct over a STRUCT, not bare columns: count_distinct(a, b) drops
    # tuples with a NULL field, but the dedupe window keeps a NULL-turn_idx
    # poison row as its own group — the struct wrapper counts it too)
    turn_counts = raw.groupBy("bucket").agg(
        F.count_distinct(F.struct("conv_id", "turn_idx")).alias("n_turns")
    )

    phases: dict[str, float] = {}
    extracted = _bucketed(
        extract_triples(turns, fail_fast, normalize, max_text_bytes),
        n_buckets,
    )
    extracted.cache()

    triples_ok = extracted.filter(F.col("pred") != ERROR_PRED)
    errors = extracted.filter(F.col("pred") == ERROR_PRED)

    # --- canonicalization over surface forms (distinct + counted first:
    # mentions >> distinct surfaces, so the expensive stages see small input)
    surfaces = (
        triples_ok.select(F.explode(F.array("subj", "obj")).alias("surface"))
        .groupBy("surface")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    # canonicalize() materializes extraction eagerly (its first job
    # collects the distinct surfaces, filling the extraction cache), so
    # time it as a phase
    t0 = time.monotonic()
    decisions: dict = {}
    mapping, vertices = canonicalize(spark, surfaces, decisions)
    mapping.cache()
    phases["extract_canonicalize"] = round(time.monotonic() - t0, 2)

    m_subj = mapping.withColumnRenamed("surface", "subj").withColumnRenamed(
        "entity_id", "subj_id"
    )
    m_obj = mapping.withColumnRenamed("surface", "obj").withColumnRenamed(
        "entity_id", "obj_id"
    )
    # hybrid join strategy, same reasoning as components._local_cc: distinct
    # surfaces ≪ mentions, so the surface->entity mapping usually fits a
    # broadcast (no shuffle/sort of the full triple set, measured 2x on the
    # join+write path).  The gate is an ESTIMATED BYTE size, not a row
    # count: one agg job over the cached mapping yields (rows, total
    # surface bytes); the in-memory hash relation costs roughly
    # string bytes + ~48 B/row of object+hash overhead.  Broadcasting is
    # forced only under 64 MB estimated — far below executor budgets even
    # with the 2x hint (subj + obj).  Past the gate we do NOT hint and let
    # AQE convert the join at runtime if the post-shuffle size qualifies;
    # the worst case is a sort-merge join that shuffles the triple set
    # twice (subj then obj) — correct, just ~2x slower on the join+write
    # path at fixture scale.
    t0 = time.monotonic()
    stats = mapping.agg(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(F.length("surface")), F.lit(0)).alias("surface_bytes"),
    ).collect()[0]
    phases["mapping_stats"] = round(time.monotonic() - t0, 2)
    est_bytes = int(stats["surface_bytes"]) + 48 * int(stats["rows"])
    # forced-broadcast joins are partition-preserving, so the (bucket,
    # wsalt) clustering from fuse_write_partitioning still holds at the
    # write and the triples need no second shuffle; past the gate the join
    # may shuffle, so the write falls back to the salted repartition
    clustered_write = est_bytes <= 64 * 1024 * 1024
    decisions["clustered_write"] = clustered_write
    if clustered_write:
        m_subj, m_obj = F.broadcast(m_subj), F.broadcast(m_obj)
    # the partition hash has only n_buckets distinct values — precompute on
    # the driver (same sha1 as partition_hash()) and look it up by bucket
    # index instead of re-hashing per triple (~30 M redundant sha1s at the
    # bench scale, pure wasted CPU in the write stage)
    bucket_hash = F.array(
        *[F.lit(partition_hash(snap, n_buckets, b)) for b in range(n_buckets)]
    )
    # NOTE lineage/snap are NOT part of this frame: both are per-row
    # constants derivable from `bucket`, and attaching them here would (a)
    # ship ~90 B/row of redundant low-cardinality strings through the
    # write's repartition shuffle — roughly doubling shuffle bytes on rows
    # whose real payload is ~100-130 B — and (b) bloat the cache the edge/
    # metrics aggregates re-read.  _write_triples attaches them AFTER the
    # exchange, where they cost one dictionary-encoded parquet column.
    triples = (
        triples_ok.join(m_subj, "subj")
        .join(m_obj, "obj")
        .select(
            "conv_id", "turn_idx", "subj", "pred", "obj", "score",
            "subj_id", "obj_id", "bucket",
        )
    )
    triples.cache()

    edges = (
        triples.groupBy("subj_id", "pred", "obj_id")
        .agg(F.round(F.sum("score"), 6).alias("weight"))
        .select(
            F.col("subj_id").alias("src_id"), "pred",
            F.col("obj_id").alias("dst_id"), "weight",
        )
    )

    # --- metrics: per-bucket lineage + fixed-width link-score histogram
    hist = (
        triples.withColumn("score_bucket", F.round(F.floor(F.col("score") * 10) / 10.0, 1))
        .groupBy("bucket", "score_bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .groupBy("bucket")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("score_bucket").alias("bucket"),
                        F.col("cnt").alias("count"),
                    )
                )
            ).alias("link_score_hist"),
            F.sum("cnt").alias("n_triples"),
        )
    )
    err_counts = errors.groupBy("bucket").agg(F.count(F.lit(1)).alias("n_errors"))
    # one lineage row per RUN bucket, driven from the bucket list rather
    # than the data: a bucket holding no rows still commits (zero counts),
    # so its graph_state hash has a metrics row and a resume skips it
    run_buckets = [b for b in range(n_buckets) if b not in set(skipped)]
    metrics = (
        spark.createDataFrame([(b,) for b in run_buckets], "bucket int")
        .join(turn_counts, "bucket", "left")
        .join(hist, "bucket", "left")
        .join(err_counts, "bucket", "left")
        .select(
            F.lit(run_id).alias("run_id"),
            F.element_at(bucket_hash, F.col("bucket") + 1).alias(
                "partition_hash"
            ),
            F.lit(snap).alias("snapshot_id"),
            F.col("bucket"),
            F.coalesce("n_turns", F.lit(0)).alias("n_turns"),
            F.coalesce("n_triples", F.lit(0)).alias("n_triples"),
            F.coalesce("n_errors", F.lit(0)).alias("n_errors"),
            F.coalesce(
                "link_score_hist",
                F.array().cast(METRICS["link_score_hist"].dataType),
            ).alias("link_score_hist"),
        )
    )

    # --- materialize: data first, metrics (the commit marker) last, so a
    # crash mid-write is re-done on resume rather than falsely committed.
    # The triples write IS the cache materialization: the cache sits below
    # the write's repartition, so one pass computes the join, populates the
    # cache for the downstream aggregates, and lands the data.  (A former
    # standalone triples.count() materialization pass re-scanned the whole
    # cached set — minutes of pure re-read at 30 M triples on 8 cores —
    # purely to get a number parquet footers already carry.)
    def _write_triples() -> None:
        # bucket co-location for the partitioned write (without it every
        # task writes a file per bucket — tasks x buckets small files, a
        # metadata storm at cluster scale):
        # - broadcast branch (the common case): already physically
        #   clustered by fuse_write_partitioning's (bucket, wsalt)
        #   exchange, which extraction and the forced-broadcast joins
        #   preserved — triples_clustered_frame attaches the per-row
        #   constants and writes with NO repartition of the triple payload
        #   (this second full shuffle was the write phase's scaling
        #   residual);
        # - fallback (mapping too big to force): the join may shuffle and
        #   destroy the clustering, so triples_write_frame re-establishes
        #   it with the salted sub-split repartition (salt decorrelated
        #   from the bucket hash; lineage/snap attached ABOVE the
        #   exchange).  Both frames' plan properties are pinned by
        #   tests/test_write_plan.py.
        # DYNAMIC partition overwrite on (snap, bucket) makes a
        # crash-replayed bucket REPLACE its partition instead of appending
        # duplicates, and leaves other snapshots' partitions untouched.
        frame = (
            triples_clustered_frame(triples, snap, n_buckets)
            if clustered_write
            else triples_write_frame(triples, snap, n_buckets, par)
        )
        (
            frame.write.partitionBy("snap", "bucket")
            .option("partitionOverwriteMode", "dynamic")
            .mode("overwrite")
            .parquet(triples_path)
        )

    # which partition hashes does this run contribute, and does the on-disk
    # graph already include them?  Three cases:
    # - replayed: every hash already merged (either a no-op resume, or a
    #   crash-replay between a prior aggregate swap and its metrics commit)
    #   -> leave the aggregates untouched, re-merging would double-count;
    # - merge: the graph holds OTHER, disjoint partitions (committed buckets
    #   of this snapshot on a partial resume, or a previous snapshot on a
    #   split ingest) -> incremental union-merge;
    # - fresh: empty/na state -> plain overwrite.
    run_hashes = {partition_hash(snap, n_buckets, b) for b in run_buckets}
    included = _read_graph_state(output_dir)
    replayed = not run_hashes or run_hashes <= included
    if not replayed and run_hashes & included:
        raise ValueError(
            f"graph_state at {output_dir} overlaps this run's partitions "
            "only partially — the vertex/edge aggregates cannot be merged "
            "consistently; use a fresh output dir"
        )
    merge_mode = (
        not replayed
        and bool(included - run_hashes)
        and os.path.isdir(vertices_path)
        and os.path.isdir(edges_path)
    )

    # --- concurrent materialization with explicit data dependencies:
    #   triples write  — materializes the triples cache (the cache sits
    #                    below the write's repartition, one pass computes
    #                    join + cache + data);
    #   vertices write — depends ONLY on the cached mapping, so it runs
    #                    CONCURRENTLY with the triples write;
    #   edges write    — aggregates the triples cache, so it starts only
    #                    after the triples write populated it (starting
    #                    earlier would race the cache and compute the join
    #                    twice);
    #   metrics agg    — also reads only the triples cache, so it
    #                    MATERIALIZES concurrently with the aggregate
    #                    writes (cache + count);
    #   metrics append — the commit marker, strictly last: the tiny
    #                    parquet append of the pre-materialized rows.
    # Row counts ride the writes themselves as Observations: zero extra
    # jobs, zero storage reads — the write that lands the table reports its
    # own row count (the round-2 footer glob was a driver listing storm on
    # object stores; the interim distributed count was one extra job per
    # table).
    import concurrent.futures as cf

    from pyspark.sql import Observation

    def _observed_write(df: DataFrame, path: str) -> int:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.mode(
            "overwrite"
        ).parquet(path)
        return int(obs.get["n"])

    if merge_mode:
        vert_df = merge_vertices(spark.read.parquet(vertices_path), vertices)
        edge_df = merge_edges(spark.read.parquet(edges_path), edges)
        vert_target = f"{vertices_path}.stage-{run_id}"
        edge_target = f"{edges_path}.stage-{run_id}"
    else:
        vert_df, edge_df = vertices, edges
        vert_target, edge_target = vertices_path, edges_path

    t0 = time.monotonic()
    with cf.ThreadPoolExecutor(max_workers=3) as pool:
        ft = pool.submit(_write_triples)
        fv = (
            None
            if replayed
            else pool.submit(_observed_write, vert_df, vert_target)
        )
        ft.result()
        phases["write_triples"] = round(time.monotonic() - t0, 2)
        # the metrics rows depend only on the now-populated triples cache:
        # materialize them concurrently with the aggregate writes; only the
        # commit-marker APPEND below stays strictly last
        metrics = metrics.cache()
        fm = pool.submit(metrics.count)
        t1 = time.monotonic()
        if replayed:
            # the aggregates already include every bucket this run
            # recomputed (a crashed prior attempt merged them before its
            # metrics commit): re-merging would double-count, so leave
            # them untouched.
            n_vertices = _table_rows(spark, vertices_path)
            n_edges = _table_rows(spark, edges_path)
        else:
            fe = pool.submit(_observed_write, edge_df, edge_target)
            n_vertices, n_edges = fv.result(), fe.result()
            if merge_mode:
                # staged MERGE landing: the plans read the prior files they
                # replace (an Iceberg MERGE transaction on a real warehouse);
                # tables + state commit together behind one commit point
                _commit_graph(
                    output_dir,
                    vert_target,
                    vertices_path,
                    edge_target,
                    edges_path,
                    included | run_hashes,
                )
            else:
                # a fresh (non-merge) write resets the graph to this run
                _write_graph_state(output_dir, run_hashes)
        fm.result()
    phases["write_aggregates"] = round(time.monotonic() - t1, 2)

    # metrics (the commit marker) last: an append of the already-cached
    # rows; the Observation carries the triple count off that same scan —
    # no separate aggregate job
    t0 = time.monotonic()
    obs_m = Observation()
    metrics.observe(
        obs_m, F.coalesce(F.sum("n_triples"), F.lit(0)).alias("n")
    ).write.mode("append").parquet(metrics_path)
    n_triples = int(obs_m.get["n"])
    phases["write_metrics"] = round(time.monotonic() - t0, 2)
    extracted.unpersist()
    mapping.unpersist()
    triples.unpersist()
    metrics.unpersist()
    summary = {
        "run_id": run_id,
        "snapshot_id": snap,
        "n_triples": n_triples,
        "n_vertices": n_vertices,
        "n_edges": n_edges,
        "skipped_buckets": skipped,
        "output_dir": output_dir,
        "phases": phases,
        "decisions": decisions,
    }
    if ingest_warning:
        summary["ingest_warning"] = ingest_warning
    return summary


def read_triples_snapshot(
    spark: SparkSession,
    output_dir: str,
    snapshot: str,
    buckets: list[int] | None = None,
) -> DataFrame:
    """Snapshot-scoped (optionally bucket-scoped) read of the materialized
    triples table — the Iceberg time-travel / partition-pruned scan analog.

    The triples layout is directory-partitioned on (snap, bucket), so both
    filters resolve at PLANNING time against the partition listing: a scan
    of one snapshot touches zero bytes of any other snapshot, and a
    single-bucket read (e.g. re-auditing one lineage partition) touches
    exactly that directory.  Pinned by tests/test_snapshot_read.py, which
    asserts the filters land in the scan's PartitionFilters, not in a
    post-scan Filter node.
    """
    df = spark.read.parquet(os.path.join(output_dir, "triples")).filter(
        F.col("snap") == snapshot
    )
    if buckets is not None:
        df = df.filter(F.col("bucket").isin(buckets))
    return df
