"""Snapshot expiry: conserved invariants after expiry, idempotence,
round-trip re-ingest, crash recovery of its graph commit (the three staged
tables and the partition delete behind pipeline._commit_graph),
uncommitted-partition exclusion, and the degenerate last-snapshot and
crashed-first-commit cases (plans/expire.py)."""

import glob
import os
import shutil

import pytest
from pyspark.sql import functions as F

from node_feedparser_spark.plans.expire import (
    _stage_expiry,
    expire_snapshot,
    rollback_keep,
)
from node_feedparser_spark.plans.pipeline import (
    _recover_graph_commit,
    build_kg,
)
from node_feedparser_spark.plans.validate import validate_kg
from node_feedparser_spark.sources.transcripts import snapshot


@pytest.fixture()
def split_kg(spark, corpus_pdf, tmp_path):
    """Two-snapshot KG via split ingest; returns (out, snapA, snapB,
    inputA, inputB)."""
    out = str(tmp_path / "kg")
    mask = corpus_pdf["conv_id"].map(lambda c: (sum(c.encode()) % 2) == 0)
    paths, snaps = [], []
    for i, half in enumerate((corpus_pdf[mask], corpus_pdf[~mask])):
        p = str(tmp_path / f"half{i}.parquet")
        half = half.copy()
        half["ts"] = half["ts"].astype("datetime64[us]")
        half.to_parquet(p, index=False)
        build_kg(spark, p, out, n_buckets=4)
        paths.append(p)
        snaps.append(snapshot(p)[0])
    return out, snaps[0], snaps[1], paths[0], paths[1]


def _stage_state(out):
    return os.path.join(out, "graph_state.json.stage")


def _snap_dirs(out):
    return sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(out, "triples", "snap=*"))
        if os.path.isdir(d)
    )


def _remaining_hashes(spark, out, snapshot):
    return sorted(
        r["partition_hash"]
        for r in spark.read.parquet(os.path.join(out, "metrics"))
        .filter(F.col("snapshot_id") != snapshot)
        .select("partition_hash")
        .distinct()
        .collect()
    )


def test_expire_keeps_every_invariant(spark, split_kg):
    out, snap_a, snap_b, _, _ = split_kg
    keep_triples = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .filter(F.col("snap") == snap_b)
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    summary = expire_snapshot(spark, out, snap_a)
    assert not summary["noop"]
    assert summary["expired_partitions"] == 4

    # expired snapshot gone from every table
    assert _snap_dirs(out) == [f"snap={snap_b}"]
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert metrics.filter(F.col("snapshot_id") == snap_a).count() == 0
    # surviving triples byte-identical
    got = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    assert got == keep_triples
    # the integrity audit holds every conserved invariant on the shrunk
    # graph: metrics reconcile, mention mass = 2x triples, weight mass =
    # score mass, graph_state == metrics hashes, refs resolve
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report

    # idempotent: expiring again is a no-op
    again = expire_snapshot(spark, out, snap_a)
    assert again["noop"]


def test_expire_then_reingest_round_trip(spark, split_kg):
    """After expiry the snapshot's buckets are uncommitted again, so
    re-running build_kg on the same input rebuilds them and the audit is
    green — the resume machinery and expiry compose."""
    out, snap_a, _, path_a, _ = split_kg
    before = validate_kg(spark, out)
    n_before = before["n_triples"]
    expire_snapshot(spark, out, snap_a)
    summary = build_kg(spark, path_a, out, n_buckets=4)
    assert summary["skipped_buckets"] == []  # nothing committed anymore
    after = validate_kg(spark, out)
    assert after["n_fail"] == 0, after
    assert after["n_triples"] == n_before


def test_expire_unknown_snapshot_is_noop(spark, split_kg):
    out = split_kg[0]
    state = {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
        if os.path.isfile(f)
    }
    summary = expire_snapshot(spark, out, "snap-doesnotexist0000")
    assert summary["noop"]
    assert {
        f: os.path.getmtime(f)
        for f in glob.glob(os.path.join(out, "**", "*"), recursive=True)
        if os.path.isfile(f)
    } == state


def test_expire_excludes_uncommitted_partitions(spark, split_kg):
    """A crashed build can land triples partitions whose metrics commit
    never ran.  Expiry must NOT count those into the recomputed
    aggregates (metrics is the commit marker): otherwise the crashed
    build's later resume merges them a second time."""
    out, snap_a, snap_b, _, _ = split_kg
    # simulate an uncommitted partition: clone one of B's bucket dirs into
    # a fake third snapshot with NO metrics rows, rewriting the lineage to
    # the hashes that crashed build would have stamped (NOT in metrics)
    import pandas as pd
    import pyarrow.parquet as pq

    src = sorted(
        glob.glob(os.path.join(out, "triples", f"snap={snap_b}", "bucket=*"))
    )[0]
    fake = os.path.join(out, "triples", "snap=snap-uncommitted000", "bucket=0")
    os.makedirs(fake, exist_ok=True)
    pdf = pd.concat(
        pq.read_table(f).to_pandas()
        for f in glob.glob(os.path.join(src, "*.parquet"))
    )
    pdf["lineage"] = [
        {"partition_hash": "f" * 40, "snapshot_id": "snap-uncommitted000"}
    ] * len(pdf)
    pdf.to_parquet(os.path.join(fake, "part-0.parquet"), index=False)

    expire_snapshot(spark, out, snap_a)
    # the recomputed aggregates cover exactly the committed (= snap_b)
    # partitions: weight mass equals committed triple score mass
    committed_scores = (
        spark.read.parquet(os.path.join(out, "triples"))
        .filter(F.col("snap") == snap_b)
        .agg(F.sum("score").alias("s"))
        .collect()[0]["s"]
    )
    edge_mass = (
        spark.read.parquet(os.path.join(out, "edges"))
        .agg(F.sum("weight").alias("w"))
        .collect()[0]["w"]
    )
    assert abs(edge_mass - committed_scores) < 1e-3
    shutil.rmtree(os.path.join(out, "triples", "snap=snap-uncommitted000"))
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_recover_preserves_precommit_state(spark, split_kg):
    """Stages without a committed state file are uncommitted garbage:
    recovery drops them and the live graph is untouched."""
    out, snap_a, _, _, _ = split_kg
    before = validate_kg(spark, out)
    stage = os.path.join(out, "edges.stage-run-deadbeef")
    os.makedirs(stage)
    _recover_graph_commit(out)
    assert not os.path.isdir(stage)
    after = validate_kg(spark, out)
    assert after["n_fail"] == 0
    assert after["n_triples"] == before["n_triples"]


def test_recover_rejects_torn_state_file(spark, split_kg):
    """A torn or non-conforming staged state file (including a JSON root
    that is not an object) means the commit never started: recovery
    removes it and the graph is untouched."""
    out = split_kg[0]
    for payload in ('{"partition_hashes": [', '["snap-x"]', '"oops"'):
        with open(_stage_state(out), "w") as f:
            f.write(payload)
        _recover_graph_commit(out)
        assert not os.path.isfile(_stage_state(out))
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0


def test_recover_finishes_postcommit_crash(
    spark, split_kg, crash_after_commit_point
):
    """Crash immediately after the commit point (state staged, nothing
    installed, triples not yet deleted): recovery must finish the expiry
    and leave an audit-green graph.  Stages and state come from the SAME
    _stage_expiry and _commit_graph the product runs, so the test cannot
    drift from them."""
    out, snap_a, snap_b, _, _ = split_kg
    remaining_hashes = _remaining_hashes(spark, out, snap_a)
    _stage_expiry(spark, out, [snap_a], remaining_hashes, "cafe01")
    crash_after_commit_point(out, remaining_hashes, [snap_a])
    # next build_kg (or expire) run recovers
    _recover_graph_commit(out)
    assert _snap_dirs(out) == [f"snap={snap_b}"]
    assert not os.path.isfile(_stage_state(out))
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_recover_finishes_halfinstalled_crash(
    spark, split_kg, crash_after_commit_point
):
    """Crash mid-install (edges installed, vertices retired with its stage
    pending, triples deleted): every remaining step is an idempotent
    rename, so recovery finishes cleanly."""
    out, snap_a, snap_b, _, _ = split_kg
    remaining_hashes = _remaining_hashes(spark, out, snap_a)
    _stage_expiry(spark, out, [snap_a], remaining_hashes, "cafe02")
    crash_after_commit_point(out, remaining_hashes, [snap_a])
    # hand-run part of the post-commit sequence, then "crash":
    # edges fully installed...
    edges_live = os.path.join(out, "edges")
    os.replace(edges_live, edges_live + ".retired")
    os.replace(edges_live + ".stage-run-cafe02", edges_live)
    # ...vertices retired but its stage NOT yet installed...
    vert_live = os.path.join(out, "vertices")
    os.replace(vert_live, vert_live + ".retired")
    # ...and the expired triples partition already deleted
    shutil.rmtree(os.path.join(out, "triples", f"snap={snap_a}"))

    _recover_graph_commit(out)
    assert os.path.isdir(vert_live)
    assert not os.path.isfile(_stage_state(out))
    assert _snap_dirs(out) == [f"snap={snap_b}"]
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_build_kg_recovers_crashed_expiry(
    spark, split_kg, crash_after_commit_point
):
    """build_kg on a dir holding a committed-but-unfinished expiry first
    finishes the expiry (its one graph-commit recovery), then ingests."""
    out, snap_a, snap_b, path_a, _ = split_kg
    remaining_hashes = _remaining_hashes(spark, out, snap_a)
    _stage_expiry(spark, out, [snap_a], remaining_hashes, "cafe03")
    crash_after_commit_point(out, remaining_hashes, [snap_a])
    # crash; now a plain build of A runs: expiry finishes first, so A is
    # fully re-ingested (no committed buckets) and the result audits green
    summary = build_kg(spark, path_a, out, n_buckets=4)
    assert summary["skipped_buckets"] == []
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_expire_last_snapshot_then_fresh_build(spark, corpus_path, tmp_path):
    out = str(tmp_path / "kg")
    build_kg(spark, corpus_path, out, n_buckets=4)
    snap = snapshot(corpus_path)[0]
    summary = expire_snapshot(spark, out, snap)
    assert not summary["noop"]
    assert summary["n_triples_remaining"] == 0
    assert _snap_dirs(out) == []
    assert spark.read.parquet(os.path.join(out, "metrics")).count() == 0
    # the dir is reusable: a fresh build lands and audits green
    rebuilt = build_kg(spark, corpus_path, out, n_buckets=4)
    assert rebuilt["n_triples"] > 0
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_rollback_after_crash_in_first_metrics_commit(
    spark, corpus_path, tmp_path
):
    """A crash inside the first metrics commit leaves `metrics/` holding
    only `_temporary/`.  Rollback (and expiry under it) read that as no
    commits, with the declared schema, instead of failing schema
    inference, and retire the stranded snapshot; the dir is reusable."""
    out = str(tmp_path / "kg")
    build_kg(spark, corpus_path, out, n_buckets=4)
    metrics = os.path.join(out, "metrics")
    shutil.rmtree(metrics)
    os.makedirs(os.path.join(metrics, "_temporary", "0"))
    summary = rollback_keep(spark, out, [])
    assert not summary["noop"]
    assert _snap_dirs(out) == []
    assert spark.read.parquet(metrics).count() == 0
    rebuilt = build_kg(spark, corpus_path, out, n_buckets=4)
    assert rebuilt["n_triples"] > 0
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report
