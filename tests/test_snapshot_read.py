"""Snapshot-pruned reads of the materialized triples layout
(plans/pipeline.py read_triples_snapshot): correctness across two ingested
snapshots, and the plan gate — snap/bucket predicates must resolve as scan
PartitionFilters (planning-time directory pruning), never as a post-scan
row filter.
"""

import os

from pyspark.sql import functions as F

from node_feedparser_spark.datagen import write_transcripts
from node_feedparser_spark.plans.pipeline import build_kg, read_triples_snapshot
from node_feedparser_spark.sources.transcripts import snapshot


def _two_snapshots(spark, tmp_path):
    out = str(tmp_path / "kg")
    c1 = str(tmp_path / "t1.parquet")
    c2 = str(tmp_path / "t2.parquet")
    write_transcripts(c1, seed=42, scale=0.2)
    write_transcripts(c2, seed=99, scale=0.2)
    s1 = build_kg(spark, c1, out, n_buckets=4, resume=False)
    s2 = build_kg(spark, c2, out, n_buckets=4)
    assert s1["snapshot_id"] != s2["snapshot_id"]
    return out, s1, s2


def test_snapshot_scoped_read(spark, tmp_path):
    out, s1, s2 = _two_snapshots(spark, tmp_path)
    r1 = read_triples_snapshot(spark, out, s1["snapshot_id"])
    r2 = read_triples_snapshot(spark, out, s2["snapshot_id"])
    assert r1.count() == s1["n_triples"]
    assert r2.count() == s2["n_triples"]
    # bucket-scoped: the union of all bucket slices is the snapshot
    per_bucket = sum(
        read_triples_snapshot(spark, out, s1["snapshot_id"], buckets=[b]).count()
        for b in range(4)
    )
    assert per_bucket == s1["n_triples"]
    # snapshots don't bleed: every row a scoped read returns carries the
    # requested snapshot's lineage (conv_id namespaces overlap across
    # snapshots by construction, so identity is the lineage, not the key)
    for r, s in ((r1, s1), (r2, s2)):
        got = [
            x["sid"]
            for x in r.select(
                F.col("lineage.snapshot_id").alias("sid")
            ).distinct().collect()
        ]
        assert got == [s["snapshot_id"]]


def test_snapshot_filters_are_partition_filters(spark, tmp_path):
    out, s1, _ = _two_snapshots(spark, tmp_path)
    df = read_triples_snapshot(spark, out, s1["snapshot_id"], buckets=[0, 2])
    plan = df._jdf.queryExecution().executedPlan().toString()
    # both predicates must prune at the scan...
    pf = [ln for ln in plan.splitlines() if "PartitionFilters" in ln]
    assert pf, plan
    assert "snap" in pf[0] and "bucket" in pf[0], pf[0]
    # ...and no residual row-level Filter node survives above the scan
    assert "Filter (" not in plan.replace("PartitionFilters", ""), plan


def test_snapshot_id_is_input_derived(tmp_path):
    p = str(tmp_path / "c.parquet")
    write_transcripts(p, seed=7, scale=0.1)
    assert snapshot(p) == snapshot(p)  # stable
    assert snapshot(p)[1] == os.path.getsize(p)  # input_bytes
