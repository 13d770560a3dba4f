"""Crash-point recovery for the graph commit (plans/pipeline.py
_commit_graph / _recover_graph_commit).

Every writer of vertices, edges and metrics — a build's merge or fresh
write, snapshot expiry and rollback — lands its staged tables through this
one commit, emulating an atomic Iceberg commit on a local FS.  These tests
inject a crash (os.replace raising) at each distinct point of the rename
sequence and assert the protocol's contract: before the commit point a
replay recomputes against intact live tables (no loss, no double count);
after it, recovery FINISHES the commit idempotently (no loss, no
re-merge).

Regression for the round-3 review findings: the old rmtree-then-replace
swap could lose the only copy of the merged table, and the old
swap-then-write-state ordering double-counted on a crash between them.
"""

import json
import os

import pytest
from pyspark.sql import functions as F

import node_feedparser_spark.plans.pipeline as pl
from node_feedparser_spark.datagen import generate_transcripts
from node_feedparser_spark.plans.validate import validate_kg


# ---------- unit-level: _commit_graph / _recover_graph_commit ----------


def _mk(d, tag):
    os.makedirs(d, exist_ok=True)
    with open(os.path.join(d, "data.txt"), "w") as f:
        f.write(tag)


def _tag(d):
    with open(os.path.join(d, "data.txt")) as f:
        return f.read()


def _fixture(tmp_path):
    out = str(tmp_path / "kg")
    os.makedirs(out, exist_ok=True)
    vp, ep = os.path.join(out, "vertices"), os.path.join(out, "edges")
    _mk(vp, "v_old")
    _mk(ep, "e_old")
    with open(os.path.join(out, "graph_state.json"), "w") as f:
        json.dump({"partition_hashes": ["h_old"]}, f)
    vs, es = vp + ".stage-run-1", ep + ".stage-run-1"
    _mk(vs, "v_new")
    _mk(es, "e_new")
    return out, vp, ep, vs, es


def _assert_clean(vp, ep, vs, es):
    for leftover in (vs, es, vp + ".retired", ep + ".retired"):
        assert not os.path.exists(leftover), leftover


def test_commit_graph_clean_path(tmp_path):
    out, vp, ep, vs, es = _fixture(tmp_path)
    pl._commit_graph(out, {"h_old", "h_new"})
    assert _tag(vp) == "v_new" and _tag(ep) == "e_new"
    assert pl._read_graph_state(out) == {"h_old", "h_new"}
    _assert_clean(vp, ep, vs, es)


@pytest.mark.parametrize(
    "fail_when",
    [
        # crash installing the vertices stage (after its live dir retired)
        lambda src, dst: src.endswith("vertices.stage-run-1"),
        # crash retiring the edges live dir (vertices already installed)
        lambda src, dst: src.endswith(os.sep + "edges"),
        # crash installing the edges stage (its live dir already retired)
        lambda src, dst: src.endswith("edges.stage-run-1"),
        # crash promoting the staged state (both tables installed)
        lambda src, dst: dst.endswith("graph_state.json")
        and src.endswith(".stage"),
    ],
)
def test_post_commit_point_crash_recovers_forward(
    tmp_path, monkeypatch, fail_when
):
    out, vp, ep, vs, es = _fixture(tmp_path)
    real = os.replace

    def failing(src, dst):
        if fail_when(str(src), str(dst)):
            raise RuntimeError("simulated crash")
        return real(src, dst)

    monkeypatch.setattr(pl.os, "replace", failing)
    with pytest.raises(RuntimeError):
        pl._commit_graph(out, {"h_old", "h_new"})
    monkeypatch.setattr(pl.os, "replace", real)

    # past the commit point, recovery must FINISH the commit
    pl._recover_graph_commit(out)
    assert _tag(vp) == "v_new" and _tag(ep) == "e_new"
    assert pl._read_graph_state(out) == {"h_old", "h_new"}
    _assert_clean(vp, ep, vs, es)
    # recovery is idempotent
    pl._recover_graph_commit(out)
    assert _tag(vp) == "v_new" and _tag(ep) == "e_new"


def test_pre_commit_point_crash_rolls_back(tmp_path, monkeypatch):
    out, vp, ep, vs, es = _fixture(tmp_path)
    real = os.replace

    def failing(src, dst):
        if str(dst).endswith("graph_state.json.stage"):
            raise RuntimeError("simulated crash before commit point")
        return real(src, dst)

    monkeypatch.setattr(pl.os, "replace", failing)
    with pytest.raises(RuntimeError):
        pl._commit_graph(out, {"h_old", "h_new"})
    monkeypatch.setattr(pl.os, "replace", real)

    # before the commit point nothing moved: live tables + state intact,
    # the uncommitted stages are garbage a replay will rebuild
    pl._recover_graph_commit(out)
    assert _tag(vp) == "v_old" and _tag(ep) == "e_old"
    assert pl._read_graph_state(out) == {"h_old"}
    _assert_clean(vp, ep, vs, es)


# ---------- end-to-end: a split ingest crashed inside its commit ----------


def _split_ingest(spark, halves, out, n_buckets=4):
    for p in halves:
        pl.build_kg(spark, p, out, n_buckets=n_buckets)


def _graph_totals(spark, out):
    report = validate_kg(spark, out)
    weight = (
        spark.read.parquet(os.path.join(out, "edges"))
        .agg(F.sum("weight"))
        .collect()[0][0]
    )
    return report, (report["n_vertices"], report["n_edges"], round(weight, 4))


@pytest.fixture(scope="module")
def small_halves(spark, tmp_path_factory):
    """A small corpus split in two by conv_id, and the graph totals of an
    uncrashed split ingest of it."""
    base = tmp_path_factory.mktemp("commit_crash")
    pdf = generate_transcripts(seed=42, scale=0.3)
    pdf["ts"] = pdf["ts"].astype("datetime64[us]")
    mask = pdf["conv_id"].map(lambda c: (sum(c.encode()) % 2) == 0)
    halves = []
    for i, half in enumerate((pdf[mask], pdf[~mask])):
        p = str(base / f"half{i}.parquet")
        half.to_parquet(p, index=False)
        halves.append(p)
    ref = str(base / "kg_ref")
    _split_ingest(spark, halves, ref)
    return halves, _graph_totals(spark, ref)[1]


@pytest.mark.parametrize(
    "fail_when",
    [
        # before the commit point: the staged state never lands
        lambda src, dst: dst.endswith("graph_state.json.stage"),
        # after it: vertices installed, crash installing the edges stage
        lambda src, dst: ".stage-run-" in os.path.basename(src)
        and os.path.basename(dst) == "edges",
    ],
    ids=["before_commit_point", "after_commit_point"],
)
def test_split_ingest_crash_in_graph_commit_resumes(
    spark, tmp_path, monkeypatch, small_halves, fail_when
):
    """The second half of a split ingest (a merge) crashes inside its
    graph commit; rerunning build_kg recovers — a recompute before the
    commit point, a finished commit and no re-merge after it — to the
    graph an uncrashed split ingest builds."""
    (first, second), want = small_halves
    out = str(tmp_path / "kg")
    pl.build_kg(spark, first, out, n_buckets=4)
    real = os.replace

    def failing(src, dst):
        if fail_when(str(src), str(dst)):
            raise RuntimeError("simulated crash")
        return real(src, dst)

    monkeypatch.setattr(pl.os, "replace", failing)
    sc = spark.sparkContext._jsc.sc()
    before = sc.getPersistentRDDs().size()
    with pytest.raises(RuntimeError):
        pl.build_kg(spark, second, out, n_buckets=4)
    monkeypatch.setattr(pl.os, "replace", real)
    # the raised build released its extraction cache
    assert sc.getPersistentRDDs().size() == before

    pl.build_kg(spark, second, out, n_buckets=4)
    report, got = _graph_totals(spark, out)
    assert report["ok"], report
    assert got == want
