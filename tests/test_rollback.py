"""Snapshot rollback (plans/expire.py rollback_keep / expire_snapshots):
multi-snapshot retire in ONE transaction, equivalence of the surviving
graph to a single-ingest build, unknown-keep refusal, idempotence, and
crash recovery of a multi-snapshot graph commit."""

import glob
import json
import os

import pytest
from pyspark.sql import functions as F

from node_feedparser_spark.plans.expire import (
    _stage_expiry,
    expire_snapshots,
    rollback_keep,
)
from node_feedparser_spark.plans.pipeline import (
    _recover_graph_commit,
    build_kg,
)
from node_feedparser_spark.plans.validate import validate_kg
from node_feedparser_spark.sources.transcripts import snapshot

N_BUCKETS = 4


@pytest.fixture()
def three_snap_kg(spark, corpus_pdf, tmp_path):
    """Three-snapshot KG via a three-way split ingest; returns
    (out, [snapA, snapB, snapC], [inputA, inputB, inputC])."""
    out = str(tmp_path / "kg")
    key = corpus_pdf["conv_id"].map(lambda c: sum(c.encode()) % 3)
    paths, snaps = [], []
    for i in range(3):
        part = corpus_pdf[key == i].copy()
        part["ts"] = part["ts"].astype("datetime64[us]")
        p = str(tmp_path / f"third{i}.parquet")
        part.to_parquet(p, index=False)
        build_kg(spark, p, out, n_buckets=N_BUCKETS)
        paths.append(p)
        snaps.append(snapshot(p)[0])
    return out, snaps, paths


def _snap_dirs(out):
    return sorted(
        os.path.basename(d)
        for d in glob.glob(os.path.join(out, "triples", "snap=*"))
        if os.path.isdir(d)
    )


def test_rollback_keeps_one_snapshot_in_one_transaction(
    spark, three_snap_kg, tmp_path
):
    out, snaps, paths = three_snap_kg
    keep = snaps[0]
    before = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .filter(F.col("snap") == keep)
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }

    summary = rollback_keep(spark, out, [keep])
    assert not summary["noop"]
    assert summary["expired_snapshots"] == sorted(snaps[1:])
    # both dropped snapshots retired by ONE transaction: their committed
    # partitions all counted in this single summary
    assert summary["expired_partitions"] == 2 * N_BUCKETS
    assert summary["kept_snapshots"] == [keep]

    # only the kept snapshot remains, byte-identical triples, audit green
    assert _snap_dirs(out) == [f"snap={keep}"]
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    assert {
        r["snapshot_id"]
        for r in metrics.select("snapshot_id").distinct().collect()
    } == {keep}
    after = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "triples"))
        .select("conv_id", "turn_idx", "subj", "pred", "obj")
        .collect()
    }
    assert after == before
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report

    # the surviving aggregates are EXACTLY derivable quantities: they must
    # equal a from-scratch build of only the kept input (edges completely;
    # vertices on the derivable columns — canonical_name carries over from
    # the merged graph by design, so it is not compared)
    fresh = str(tmp_path / "fresh_kg")
    build_kg(spark, paths[0], fresh, n_buckets=N_BUCKETS)
    got_edges = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(out, "edges")).collect()
    }
    want_edges = {
        tuple(r)
        for r in spark.read.parquet(os.path.join(fresh, "edges")).collect()
    }
    assert got_edges == want_edges
    got_v = {
        (r["entity_id"], r["n_mentions"])
        for r in spark.read.parquet(os.path.join(out, "vertices")).collect()
    }
    want_v = {
        (r["entity_id"], r["n_mentions"])
        for r in spark.read.parquet(os.path.join(fresh, "vertices")).collect()
    }
    assert got_v == want_v


def test_rollback_is_idempotent_and_validates_keep(spark, three_snap_kg):
    out, snaps, _ = three_snap_kg
    rollback_keep(spark, out, [snaps[1]])
    again = rollback_keep(spark, out, [snaps[1]])
    assert again["noop"]
    with pytest.raises(ValueError, match="absent"):
        rollback_keep(spark, out, [snaps[1], "snap-nonexistent"])
    # the failed call must not have touched anything
    assert _snap_dirs(out) == [f"snap={snaps[1]}"]
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_rollback_keep_multiple(spark, three_snap_kg):
    out, snaps, _ = three_snap_kg
    summary = rollback_keep(spark, out, snaps[:2])
    assert summary["expired_snapshots"] == [snaps[2]]
    assert _snap_dirs(out) == sorted(f"snap={s}" for s in snaps[:2])
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_rollback_retires_stranded_uncommitted_snapshot(spark, three_snap_kg):
    """A bare triples partition with no metrics rows (a crashed build that
    never committed) is still retired by rollback — the kept set is the
    whole surviving state, not just the committed part."""
    out, snaps, _ = three_snap_kg
    # strand a fake uncommitted snapshot dir: copy one kept partition's
    # bytes under a snap id that has no metrics rows
    import shutil

    src = os.path.join(out, "triples", f"snap={snaps[0]}")
    stray = os.path.join(out, "triples", "snap=snap-stranded00")
    shutil.copytree(src, stray)
    summary = rollback_keep(spark, out, [snaps[0]])
    assert "snap-stranded00" in summary["expired_snapshots"]
    assert _snap_dirs(out) == [f"snap={snaps[0]}"]
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_recover_finishes_postcommit_multi_expire_crash(
    spark, three_snap_kg, crash_after_commit_point
):
    """Crash immediately after the commit point of a multi-snapshot expiry
    (state staged, nothing installed, no partition deleted): recovery must
    delete BOTH retired snapshots and leave an audit-green graph."""
    out, snaps, _ = three_snap_kg
    drop = sorted(snaps[1:])
    remaining_hashes = sorted(
        r["partition_hash"]
        for r in spark.read.parquet(os.path.join(out, "metrics"))
        .filter(~F.col("snapshot_id").isin(drop))
        .select("partition_hash")
        .distinct()
        .collect()
    )
    _stage_expiry(spark, out, drop, remaining_hashes, "cafe11")
    crash_after_commit_point(out, remaining_hashes, drop)
    # the committed state file names both dropped snapshots
    state = os.path.join(out, "graph_state.json.stage")
    with open(state) as f:
        assert json.load(f)["drop_snapshots"] == drop
    _recover_graph_commit(out)
    assert _snap_dirs(out) == [f"snap={snaps[0]}"]
    assert not os.path.isfile(state)
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report


def test_expire_snapshots_empty_graph_is_noop(spark, tmp_path):
    out = str(tmp_path / "nothing")
    summary = expire_snapshots(spark, out, ["snap-x"])
    assert summary["noop"]
