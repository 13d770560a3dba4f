"""End-to-end build_kg: outputs, schemas, lineage, resume-without-recompute."""

import math
import os
import shutil

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from node_feedparser_spark.operators import canonicalize as canon
from node_feedparser_spark.plans.pipeline import (
    build_kg,
    committed_partitions,
    snapshot_buckets,
)
from node_feedparser_spark.reference_extract import extract_corpus
from node_feedparser_spark.sources.transcripts import snapshot


# Spark jobs one fixture build runs (77 when canonicalization ran as a
# dozen distributed stages; 25 since the surface set is canonicalized on the
# driver; 17 since the lineage rows come from one collected aggregate and
# canonicalize sizes the mapping itself): a reintroduced per-stage path
# fails here, not only in perfbench
BUILD_JOB_BUDGET = 17
# Spark tasks the same build runs (154 when the corpus exchange always had
# n_buckets * sub = 16 partitions; 48 since a small input gets one per
# core): a return to per-bucket task fan-out fails here
BUILD_TASK_BUDGET = 48


def test_build_kg_end_to_end(
    spark, corpus_path, corpus_pdf, tmp_path, count_jobs
):
    out = str(tmp_path / "kg")
    summary, n_jobs, n_tasks = count_jobs(
        lambda: build_kg(spark, corpus_path, out, n_buckets=8)
    )
    ref = extract_corpus(corpus_pdf.to_dict("records"))
    surfaces = {t[k] for t in ref.triples for k in ("subj", "obj")}
    assert summary["decisions"] == {
        "input_bytes": snapshot(corpus_path)[1],
        # a 50 KB input: one partition per core, not n_buckets * sub = 16
        "exchange_partitions": spark.sparkContext.defaultParallelism,
        "surfaces": 238,
        "mapping_bytes": sum(map(len, surfaces)) + 48 * len(surfaces),
        "clustered_write": True,
    }
    assert n_jobs <= BUILD_JOB_BUDGET, n_jobs
    assert n_tasks <= BUILD_TASK_BUDGET, n_tasks
    assert summary["n_triples"] > 0
    assert summary["n_vertices"] > 0
    assert summary["n_edges"] > 0

    triples = spark.read.parquet(os.path.join(out, "triples"))
    want = {
        (t["conv_id"], t["turn_idx"], t["subj"], t["pred"], t["obj"])
        for t in ref.triples
    }
    got = {
        (r.conv_id, r.turn_idx, r.subj, r.pred, r.obj)
        for r in triples.select("conv_id", "turn_idx", "subj", "pred", "obj").collect()
    }
    assert got == want  # P/R = 1.0 end-to-end

    # every triple carries lineage tied to the input snapshot
    snap = snapshot(corpus_path)[0]
    assert (
        triples.filter(F.col("lineage.snapshot_id") != snap).count() == 0
    )

    # metrics: one row per bucket, turn counts add up to deduped turn total
    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    m = metrics.agg(
        F.sum("n_turns").alias("turns"), F.sum("n_triples").alias("trip")
    ).collect()[0]
    assert m["turns"] == ref.n_turns
    assert m["trip"] == len(ref.triples)

    # vertices/edges consistent with triples
    vertices = spark.read.parquet(os.path.join(out, "vertices"))
    edges = spark.read.parquet(os.path.join(out, "edges"))
    assert vertices.count() == summary["n_vertices"]
    w = edges.agg(F.sum("weight").alias("w")).collect()[0]["w"]
    assert abs(w - sum(t["score"] for t in ref.triples)) < 1e-3


def test_resume_skips_committed(spark, corpus_path, tmp_path):
    out = str(tmp_path / "kg_resume")
    first = build_kg(spark, corpus_path, out, n_buckets=4)
    assert first["skipped_buckets"] == []
    snap = snapshot(corpus_path)[0]
    commits = committed_partitions(spark, os.path.join(out, "metrics"))
    assert snapshot_buckets(commits, snap, 4) == [0, 1, 2, 3]

    second = build_kg(spark, corpus_path, out, n_buckets=4)
    assert second["skipped_buckets"] == [0, 1, 2, 3]
    assert second["n_triples"] == 0  # nothing recomputed

    # triples were not duplicated by the resumed run
    triples = spark.read.parquet(os.path.join(out, "triples"))
    dup = (
        triples.groupBy("conv_id", "turn_idx", "subj", "pred", "obj")
        .count()
        .filter("count > 1")
        .count()
    )
    assert dup == 0


def _recount(spark, corpus_pdf, out, n_buckets):
    """Per-bucket (n_turns, n_triples, n_errors, link_score_hist) recounted
    without the metrics code: turns and error rows from the reference
    extractor run on each bucket's input rows, triples and the 0.1-wide
    score histogram from the written triples table."""
    convs = spark.createDataFrame(
        [(c,) for c in sorted(set(corpus_pdf["conv_id"]))], "conv_id string"
    )
    bucket_of = dict(
        convs.select(
            "conv_id", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
        ).collect()
    )
    buckets = corpus_pdf["conv_id"].map(bucket_of)
    triples = pq.read_table(
        os.path.join(out, "triples"), columns=["score", "bucket"]
    ).to_pandas()
    got = {}
    for b in range(n_buckets):
        ref = extract_corpus(corpus_pdf[buckets == b].to_dict("records"))
        scores = triples.loc[triples["bucket"].astype(int) == b, "score"]
        hist = (
            scores.map(lambda x: round(math.floor(x * 10) / 10.0, 1))
            .value_counts()
            .sort_index()
        )
        got[b] = (ref.n_turns, len(scores), ref.n_errors, list(hist.items()))
    return got


def _metrics_rows(out):
    m = pq.read_table(os.path.join(out, "metrics")).to_pylist()
    assert len({r["bucket"] for r in m}) == len(m), "one row per bucket"
    return {
        r["bucket"]: (
            r["n_turns"], r["n_triples"], r["n_errors"],
            [(h["bucket"], h["count"]) for h in r["link_score_hist"]],
        )
        for r in m
    }


def _keep_metrics(out, buckets):
    """Rewrite the metrics table keeping only `buckets`' rows: the state a
    crash leaves between the graph commit and the metrics commit."""
    path = os.path.join(out, "metrics")
    t = pq.read_table(path)
    kept = t.filter(
        t["bucket"].to_pandas().isin(buckets).to_numpy()
    )
    shutil.rmtree(path)
    os.makedirs(path)
    pq.write_table(kept, os.path.join(path, "part-0.parquet"))


@pytest.mark.parametrize("clustered", [True, False], ids=["broadcast", "fallback"])
def test_metrics_rows_equal_recount(
    spark, corpus_path, corpus_pdf, tmp_path, monkeypatch, clustered
):
    """The driver-built lineage rows equal an independent recount, on a
    fresh build and after a partial resume recomputed half the buckets —
    on the broadcast branch and on the shuffle-join fallback (forced by a
    mapping size estimate past the 64 MB broadcast gate), whose triples
    are cached and whose lineage counts wait for the triples write."""
    if not clustered:
        monkeypatch.setattr(canon, "mapping_bytes", lambda rows, chars: 1 << 30)
    out = str(tmp_path / "kg_recount")
    first = build_kg(spark, corpus_path, out, n_buckets=4)
    assert first["decisions"]["clustered_write"] is clustered
    want = _recount(spark, corpus_pdf, out, 4)
    assert _metrics_rows(out) == want
    assert first["n_triples"] == sum(w[1] for w in want.values())

    _keep_metrics(out, [0, 1])
    second = build_kg(spark, corpus_path, out, n_buckets=4)
    assert second["decisions"]["clustered_write"] is clustered
    assert second["skipped_buckets"] == [0, 1]
    assert second["n_triples"] == want[2][1] + want[3][1]
    assert _metrics_rows(out) == want == _recount(spark, corpus_pdf, out, 4)


def test_resume_after_crash_in_first_metrics_commit(spark, corpus_path, tmp_path):
    """A metrics dir holding only `_temporary/` (a crash inside the first
    metrics append) holds no commits: the build runs, a rerun skips every
    bucket, and a rerun under other bucketing is still refused."""
    out = str(tmp_path / "kg_wedged")
    os.makedirs(os.path.join(out, "metrics", "_temporary", "0"))
    first = build_kg(spark, corpus_path, out, n_buckets=4)
    assert first["skipped_buckets"] == [] and first["n_triples"] > 0
    second = build_kg(spark, corpus_path, out, n_buckets=4)
    assert second["skipped_buckets"] == [0, 1, 2, 3]
    with pytest.raises(ValueError, match="different n_buckets"):
        build_kg(spark, corpus_path, out, n_buckets=8)
