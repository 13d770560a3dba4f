"""Post-hoc integrity audit over a built KG output directory.

The north rule's pipeline is resumable and incrementally merged
(plans/pipeline.py); at warehouse scale the
operational question after every run is "is the graph still internally
consistent?".  This module answers it with conserved-invariant checks that
are all DataFrame-side aggregates — the audit collects only scalar counts
and the (runs x buckets)-sized metrics keys, never data rows, so it runs
unchanged against a 100 TB triples table.

Checks and their plan shapes (triples is the only corpus-scale table):

- one groupBy(snap, bucket) pass over triples: per-partition counts +
  score mass + score range, reconciled against the metrics table's
  per-(snapshot, bucket) lineage counts with a full outer join (metrics is
  runs x buckets rows — tiny);
- one 5-column groupBy for primary-key uniqueness (an unavoidable full
  shuffle, but the audit is the one job that MUST be exact — a sampled or
  sketched dup check would pass precisely the corruption it exists to
  catch);
- referential integrity via distinct-project then left_anti join against
  vertices (both sides are |V|-scale after the distinct, orders of
  magnitude below the corpus);
- vertices/edges invariants (pk uniqueness, canonical_name element of
  aliases, positive masses, alias-ownership) are |V|/|E|-scale scans;
- conservation laws tie the aggregate tables back to the fact table:
  sum(vertices.n_mentions) == 2 * count(triples) (every triple mentions
  exactly one subj and one obj surface) and sum(edges.weight) ==
  sum(triples.score) within the per-group round(6) the pipeline applies
  (tolerance 0.5e-6 * |E| + 1e-4).

Severities: every structural invariant is ``fail`` — including
alias-ownership (one surface owned by >1 entity), hardened in round 4:
a split ingest may canonicalize a cross-half surface into different
components per run (incremental-ER divergence), but merge_vertices now
re-emits alias sets with deterministic single-owner resolution
(plans/pipeline.py), so a shared alias in the vertex table is always a
real corruption, never an accepted artifact.  ``graph_state.json`` (the commit
marker) must agree with the metrics table's partition hashes exactly:
state-without-metrics means a lost lineage row, metrics-without-state
means a commit that never landed — both are ``fail``.
"""

from __future__ import annotations

import json
import os
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import METRICS


def _check(name: str, ok: bool, observed: Any, expected: Any,
           severity: str = "fail") -> dict:
    return {
        "name": name,
        "status": "pass" if ok else severity,
        "observed": observed,
        "expected": expected,
    }


def _dup_key_count(df: DataFrame, cols: list[str]) -> int:
    return (
        df.groupBy(*cols)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") > 1)
        .count()
    )


def validate_kg(spark: SparkSession, output_dir: str) -> dict:
    """Audit one KG output dir; returns {"ok", "checks": [...], counts}."""
    triples = spark.read.parquet(os.path.join(output_dir, "triples"))
    vertices = spark.read.parquet(os.path.join(output_dir, "vertices"))
    edges = spark.read.parquet(os.path.join(output_dir, "edges"))
    # declared schema, as committed_partitions reads it: a metrics dir
    # holding no data file (a crash inside the first commit leaves only
    # `_temporary/`) audits as no commits instead of failing inference
    metrics = spark.read.schema(METRICS).parquet(
        os.path.join(output_dir, "metrics")
    )

    checks: list[dict] = []

    # --- single corpus pass: per-(snap, bucket) facts + global masses
    part = (
        triples.groupBy("snap", "bucket")
        .agg(
            F.count(F.lit(1)).alias("t_n"),
            F.sum("score").alias("t_score"),
            F.min("score").alias("t_min"),
            F.max("score").alias("t_max"),
        )
    )
    met = (
        metrics.groupBy(
            F.col("snapshot_id").alias("snap"), "bucket"
        ).agg(F.sum("n_triples").alias("m_n"))
    )
    recon = (
        part.join(met, ["snap", "bucket"], "full_outer")
        .select(
            "snap", "bucket",
            F.coalesce("t_n", F.lit(0)).alias("t_n"),
            F.coalesce("m_n", F.lit(0)).alias("m_n"),
            "t_score", "t_min", "t_max",
        )
        .collect()  # runs x buckets rows — lineage-sized, never corpus-sized
    )
    n_triples = sum(r["t_n"] for r in recon)
    score_mass = sum(r["t_score"] or 0.0 for r in recon)
    mins = [r["t_min"] for r in recon if r["t_min"] is not None]
    maxs = [r["t_max"] for r in recon if r["t_max"] is not None]
    mismatched = [
        {"snap": r["snap"], "bucket": r["bucket"],
         "triples": r["t_n"], "metrics": r["m_n"]}
        for r in recon if r["t_n"] != r["m_n"]
    ]
    checks.append(_check(
        "metrics_reconcile_per_partition", not mismatched,
        mismatched[:10], [],
    ))
    checks.append(_check(
        "triple_scores_in_range",
        (not mins) or (min(mins) >= 0.0 and max(maxs) <= 1.0),
        [min(mins) if mins else None, max(maxs) if maxs else None],
        [0.0, 1.0],
    ))

    # --- primary keys
    dup_t = _dup_key_count(
        triples, ["conv_id", "turn_idx", "subj", "pred", "obj"]
    )
    checks.append(_check("triples_pk_unique", dup_t == 0, dup_t, 0))
    dup_e = _dup_key_count(edges, ["src_id", "pred", "dst_id"])
    checks.append(_check("edges_pk_unique", dup_e == 0, dup_e, 0))
    dup_v = _dup_key_count(vertices, ["entity_id"])
    checks.append(_check("vertices_pk_unique", dup_v == 0, dup_v, 0))

    # --- referential integrity (distinct-project first: |V|-scale joins)
    vid = vertices.select("entity_id").distinct()
    t_ids = (
        triples.select(F.col("subj_id").alias("entity_id"))
        .unionByName(triples.select(F.col("obj_id").alias("entity_id")))
        .distinct()
    )
    orphan_t = t_ids.join(vid, "entity_id", "left_anti").count()
    checks.append(_check("triple_refs_resolve", orphan_t == 0, orphan_t, 0))
    e_ids = (
        edges.select(F.col("src_id").alias("entity_id"))
        .unionByName(edges.select(F.col("dst_id").alias("entity_id")))
        .distinct()
    )
    orphan_e = e_ids.join(vid, "entity_id", "left_anti").count()
    checks.append(_check("edge_refs_resolve", orphan_e == 0, orphan_e, 0))

    # --- vertex-local invariants, one pass
    vrow = vertices.agg(
        F.sum("n_mentions").alias("mention_mass"),
        F.min("n_mentions").alias("min_mentions"),
        F.sum(
            F.when(
                (F.size("aliases") > 0)
                & ~F.array_contains("aliases", F.col("canonical_name")),
                1,
            ).otherwise(0)
        ).alias("name_not_alias"),
        F.count(F.lit(1)).alias("n_vertices"),
    ).collect()[0]
    checks.append(_check(
        "mention_mass_conserved",
        (vrow["mention_mass"] or 0) == 2 * n_triples,
        vrow["mention_mass"], 2 * n_triples,
    ))
    checks.append(_check(
        "vertex_mentions_positive",
        vrow["n_vertices"] == 0 or vrow["min_mentions"] > 0,
        vrow["min_mentions"], "> 0",
    ))
    checks.append(_check(
        "canonical_name_is_own_alias",
        vrow["name_not_alias"] == 0, vrow["name_not_alias"], 0,
    ))

    # --- edge-local invariants + weight conservation
    erow = edges.agg(
        F.sum("weight").alias("weight_mass"),
        F.min("weight").alias("min_weight"),
        F.count(F.lit(1)).alias("n_edges"),
    ).collect()[0]
    tol = 0.5e-6 * (erow["n_edges"] or 0) + 1e-4  # per-group round(6)
    diff = abs((erow["weight_mass"] or 0.0) - score_mass)
    checks.append(_check(
        "weight_mass_conserved", diff <= tol,
        {"edges": erow["weight_mass"], "triples": score_mass, "diff": diff},
        f"<= {tol:.6g}",
    ))
    checks.append(_check(
        "edge_weights_positive",
        erow["n_edges"] == 0 or erow["min_weight"] > 0,
        erow["min_weight"], "> 0",
    ))

    # --- alias ownership (fail since round 4: merge_vertices re-emits
    # single-owner alias sets, so sharing is always a real corruption)
    owned = vertices.select("entity_id", F.explode("aliases").alias("alias"))
    shared = (
        owned.groupBy("alias")
        .agg(F.countDistinct("entity_id").alias("owners"))
        .filter(F.col("owners") > 1)
        .count()
    )
    checks.append(_check("alias_single_owner", shared == 0, shared, 0))

    # --- redirect vertices (round 4): an entity subsumed by the ownership
    # resolution keeps its row (historic triples reference its id) with an
    # EMPTY alias set and canonical_name pointing at the surface its winner
    # owns — every redirect must resolve to a surface some live vertex owns
    dangling = (
        vertices.filter(F.size("aliases") == 0)
        .select(F.col("canonical_name").alias("alias"))
        .join(owned.select("alias").distinct(), "alias", "left_anti")
        .count()
    )
    checks.append(_check("redirect_targets_resolve", dangling == 0, dangling, 0))

    # --- commit marker vs lineage table (both tiny, driver-side compare)
    state_path = os.path.join(output_dir, "graph_state.json")
    state_hashes: set[str] = set()
    if os.path.exists(state_path):
        with open(state_path) as f:
            state_hashes = set(json.load(f).get("partition_hashes", []))
    metric_hashes = {
        r["partition_hash"]
        for r in metrics.select("partition_hash").distinct().collect()
    }
    checks.append(_check(
        "graph_state_matches_metrics",
        state_hashes == metric_hashes,
        {
            "state_only": sorted(state_hashes - metric_hashes)[:5],
            "metrics_only": sorted(metric_hashes - state_hashes)[:5],
        },
        {"state_only": [], "metrics_only": []},
    ))

    n_fail = sum(1 for c in checks if c["status"] == "fail")
    n_warn = sum(1 for c in checks if c["status"] == "warn")
    return {
        "ok": n_fail == 0,
        "n_fail": n_fail,
        "n_warn": n_warn,
        "n_triples": n_triples,
        "n_vertices": vrow["n_vertices"],
        "n_edges": erow["n_edges"],
        "checks": checks,
    }
