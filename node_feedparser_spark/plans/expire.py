"""Snapshot expiry for a built KG — the Iceberg ``expire_snapshots``
analog (reference parallel: feedparser's resumed stream dropping items
the caller has already consumed; here the unit is one ingested input
snapshot).

``build_kg`` ingests are additive: each input snapshot lands its own
triples partitions, its metrics lineage rows, and its contribution to the
vertex/edge aggregates (disjoint-bucket merge, plans/pipeline.py).  A
long-lived graph eventually needs to RETIRE old snapshots — GDPR deletes,
superseded crawls, storage budgets.  Expiry must remove a snapshot from
all four tables while keeping every conserved invariant the integrity
audit checks (plans/validate.py): per-(snap, bucket) metrics reconcile,
mention mass = 2x triples, weight mass = score mass, graph_state ==
metrics hashes.

How the aggregates shrink: both aggregate tables are EXACTLY derivable
from the triples table — a vertex's n_mentions is its subj/obj occurrence
count and an edge's weight is round(sum(score), 6) over its
(subj_id, pred, obj_id) — so expiry RECOMPUTES them from the surviving
triples (partition-pruned scan that never touches the expired bytes)
instead of attempting inexact subtraction from rounded aggregates.
``canonical_name`` carries over from the prior vertex row by entity_id
join.  ``aliases`` (round 4) are the carried-over sets AUGMENTED with the
surfaces this entity actually anchors in the surviving triples — a
redirect vertex emptied by an earlier merge reconciliation regains its
surfaces when its winner is the snapshot being expired — and then
re-projected through the same deterministic single-owner resolution the
merge applies (pipeline.resolve_alias_ownership), so the audit's
fail-severity alias_single_owner and redirect_targets_resolve invariants
hold across any expire/rollback sequence.  An alias observed ONLY in the
expired snapshot can still linger on its surviving owner (the carried
set) — retained-superset semantics for surfaces, single-owner semantics
for ownership.

Crash safety is the graph commit (pipeline._commit_graph): the three
tables are staged as ``<table>.stage-run-<id>``, each FULLY written, and
one commit lands them together with graph_state and the deletion of the
expired snapshots' triples partitions.  A crash before its commit point
leaves the live tables untouched; one after it is finished by
``pipeline._recover_graph_commit``, which every expiry, rollback and
build runs first.
"""

from __future__ import annotations

import glob
import os
import uuid

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

from ..schemas import METRICS
from .compact import recover_compaction
from .pipeline import (
    GRAPH_TABLES,
    _commit_graph,
    _recover_graph_commit,
    committed_partitions,
    edges_of,
    resolve_alias_ownership,
)


def _stage_expiry(
    spark: SparkSession,
    output_dir: str,
    snapshots: list[str],
    remaining_hashes: list[str],
    run: str,
) -> int:
    """Build and FULLY write the three staged tables
    (``<table>.stage-run-<run>``) for expiring `snapshots` — a
    multi-snapshot rollback recomputes the aggregates ONCE, not once per
    dropped snapshot; returns the number of triples remaining.
    Shared by expire_snapshots and the crash-recovery tests so the staged
    shapes cannot drift from the product recompute.

    The surviving-triples scan is restricted to COMMITTED partitions
    (lineage hash ∈ the metrics-derived remaining set): a crashed build
    may have landed triples partitions whose metrics commit never ran,
    and counting those into the aggregates would double them when that
    build later resumes (metrics is the commit marker everywhere else;
    expiry honors it too)."""
    triples_path = os.path.join(output_dir, "triples")
    tables = {t: os.path.join(output_dir, t) for t in GRAPH_TABLES}
    remaining = (
        spark.read.parquet(triples_path)
        .filter(~F.col("snap").isin(snapshots))
        .filter(F.col("lineage.partition_hash").isin(remaining_hashes))
        .cache()
    )
    edges_new = edges_of(remaining)
    mentions = (
        remaining.select(
            F.explode(F.array("subj_id", "obj_id")).alias("entity_id")
        )
        .groupBy("entity_id")
        .agg(F.count(F.lit(1)).alias("n_mentions"))
    )
    # surfaces each surviving entity actually anchors in the surviving
    # triples: the recovery source for alias sets emptied by an earlier
    # merge reconciliation whose winning entity is now being expired
    tri_surfaces = (
        remaining.select(
            F.col("subj").alias("alias"), F.col("subj_id").alias("entity_id")
        )
        .unionByName(
            remaining.select(
                F.col("obj").alias("alias"), F.col("obj_id").alias("entity_id")
            )
        )
        .groupBy("entity_id")
        .agg(F.collect_set("alias").alias("tri_aliases"))
    )
    vertices_new = resolve_alias_ownership(
        spark.read.parquet(tables["vertices"])
        .drop("n_mentions")
        .join(mentions, "entity_id")  # inner: zero-mention vertices drop out
        .join(tri_surfaces, "entity_id", "left")
        .select(
            "entity_id",
            "canonical_name",
            F.array_sort(
                F.array_distinct(
                    F.concat(
                        F.col("aliases"),
                        F.coalesce(
                            F.col("tri_aliases"),
                            F.array().cast("array<string>"),
                        ),
                    )
                )
            ).alias("aliases"),
            "n_mentions",
        )
    )
    metrics_new = (
        spark.read.schema(METRICS)
        .parquet(tables["metrics"])
        .filter(~F.col("snapshot_id").isin(snapshots))
    )
    staged = {name: f"{path}.stage-run-{run}" for name, path in tables.items()}

    # the edges write populates the `remaining` cache; the metrics write
    # is independent, so the two run concurrently.  The vertices write
    # (two scans of the cache via mentions) starts once the cache exists
    # — starting it alongside edges would race the cache and compute the
    # filter twice (same discipline as pipeline.py's write block).  The
    # remaining-triples count rides the metrics write as an Observation:
    # no extra job.
    import concurrent.futures as cf

    from pyspark.sql import Observation

    obs = Observation()
    with cf.ThreadPoolExecutor(max_workers=2) as pool:
        fe = pool.submit(
            lambda: edges_new.write.mode("overwrite").parquet(staged["edges"])
        )
        fm = pool.submit(
            lambda: metrics_new.observe(
                obs, F.coalesce(F.sum("n_triples"), F.lit(0)).alias("n")
            )
            .write.mode("overwrite")
            .parquet(staged["metrics"])
        )
        fe.result()
        vertices_new.write.mode("overwrite").parquet(staged["vertices"])
        fm.result()
    n_remaining = int(obs.get["n"])
    remaining.unpersist()
    return n_remaining


def expire_snapshot(
    spark: SparkSession, output_dir: str, snapshot: str
) -> dict:
    """Remove one ingested snapshot from triples, metrics, graph_state and
    the vertex/edge aggregates.  Returns a summary dict.  Idempotent: an
    unknown/already-expired snapshot is a no-op."""
    summary = expire_snapshots(spark, output_dir, [snapshot])
    summary["expired_snapshot"] = snapshot
    return summary


def expire_snapshots(
    spark: SparkSession, output_dir: str, snapshots: list[str]
) -> dict:
    """Remove a SET of ingested snapshots in one three-table transaction —
    the aggregates recompute once over the union of survivors, and a crash
    at any point replays as one finished (or one never-started) expiry,
    never a half-rolled-back graph.  Idempotent: snapshots already absent
    contribute nothing, and an all-absent set is a no-op."""
    _recover_graph_commit(output_dir)
    recover_compaction(output_dir)

    snapshots = sorted(set(snapshots))
    metrics_path = os.path.join(output_dir, "metrics")
    commits = committed_partitions(spark, metrics_path)
    drop = set(snapshots)
    expired_hashes = sorted(h for s, h in commits if s in drop)
    remaining_hashes = sorted(h for s, h in commits if s not in drop)
    any_dir = any(
        os.path.isdir(os.path.join(output_dir, "triples", f"snap={s}"))
        for s in snapshots
    )
    if not os.path.isdir(metrics_path) or not (expired_hashes or any_dir):
        return {
            "output_dir": output_dir,
            "expired_snapshots": snapshots,
            "expired_partitions": 0,
            "noop": True,
        }

    # surviving data: partition-pruned, committed-only scan — the
    # aggregates recompute EXACTLY (same agg shapes as build_kg /
    # merge_edges), names/aliases carry over by entity_id (see
    # _stage_expiry for the recompute and the committed-partition rule);
    # then one commit lands the three stages, graph_state and the
    # expired partitions' deletion
    n_remaining = _stage_expiry(
        spark, output_dir, snapshots, remaining_hashes, uuid.uuid4().hex[:12]
    )
    _commit_graph(output_dir, remaining_hashes, snapshots)

    return {
        "output_dir": output_dir,
        "expired_snapshots": snapshots,
        "expired_partitions": len(expired_hashes),
        "remaining_partitions": len(remaining_hashes),
        "n_triples_remaining": n_remaining,
        "noop": False,
    }


def rollback_keep(
    spark: SparkSession, output_dir: str, keep: list[str]
) -> dict:
    """Roll the graph back to exactly the `keep` snapshot set — the
    Iceberg ``rollback_to_snapshot`` analog over this layout's additive
    ingests: every OTHER ingested snapshot (metrics-committed or a
    crash-stranded bare triples partition) is retired in ONE expiry
    transaction, after which the four tables are byte-equivalent to having
    only ever ingested `keep` (aggregates recompute from the surviving
    committed triples; canonical names/aliases carry over by entity_id
    with the documented retained-superset semantics).

    Unknown ids in `keep` raise instead of silently rolling back to less
    than the caller asked to preserve."""
    _recover_graph_commit(output_dir)
    known = {
        s
        for s, _ in committed_partitions(
            spark, os.path.join(output_dir, "metrics")
        )
    }
    stranded = {
        os.path.basename(d)[len("snap="):]
        for d in glob.glob(os.path.join(output_dir, "triples", "snap=*"))
        if os.path.isdir(d)
    }
    keep_set = set(keep)
    unknown = keep_set - (known | stranded)
    if unknown:
        raise ValueError(
            f"rollback --keep names snapshots absent from {output_dir}: "
            f"{sorted(unknown)}"
        )
    drop = sorted((known | stranded) - keep_set)
    if not drop:
        return {
            "output_dir": output_dir,
            "kept_snapshots": sorted(keep_set),
            "expired_snapshots": [],
            "expired_partitions": 0,
            "noop": True,
        }
    summary = expire_snapshots(spark, output_dir, drop)
    summary["kept_snapshots"] = sorted(keep_set)
    return summary
