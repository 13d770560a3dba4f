"""Integrity audit (plans/validate.py): a freshly built KG passes every
check, and each seeded corruption trips exactly the check that owns it."""

import glob
import os
import shutil

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from node_feedparser_spark.plans.pipeline import build_kg
from node_feedparser_spark.plans.validate import validate_kg

# Spark jobs and tasks one audit of the 4-bucket fixture build runs,
# counted as the build's BUILD_JOB_BUDGET is: lower them when a change
# removes audit jobs or tasks, never raise them to pass
AUDIT_JOB_BUDGET = 37
AUDIT_TASK_BUDGET = 72


@pytest.fixture(scope="module")
def kg_dir(spark, corpus_path, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("audit") / "kg")
    build_kg(spark, corpus_path, out, n_buckets=4)
    return out


def _by_name(report):
    return {c["name"]: c for c in report["checks"]}


def _rewrite(kg_copy: str, table: str, mutate) -> None:
    """Read one aggregate table, apply `mutate(pandas_df) -> pandas_df`,
    write it back under the ORIGINAL arrow schema (so a corruption test
    never trips on a dtype artifact of the rewrite itself)."""
    path = os.path.join(kg_copy, table)
    orig = pq.read_table(path)
    pdf = mutate(orig.to_pandas())
    for f in glob.glob(os.path.join(path, "*.parquet")):
        os.remove(f)
    pq.write_table(
        pa.Table.from_pandas(pdf, schema=orig.schema, preserve_index=False),
        os.path.join(path, "part-corrupt.parquet"),
    )


@pytest.fixture()
def kg_copy(kg_dir, tmp_path):
    dst = str(tmp_path / "kg")
    shutil.copytree(kg_dir, dst)
    return dst


def test_clean_build_passes_everything(spark, kg_dir, count_jobs):
    report, n_jobs, n_tasks = count_jobs(lambda: validate_kg(spark, kg_dir))
    assert n_jobs <= AUDIT_JOB_BUDGET, n_jobs
    assert n_tasks <= AUDIT_TASK_BUDGET, n_tasks
    assert report["ok"], report
    assert report["n_fail"] == 0 and report["n_warn"] == 0
    assert report["n_triples"] > 0
    statuses = {c["status"] for c in report["checks"]}
    assert statuses == {"pass"}


def test_split_ingest_passes_structurally(spark, corpus_pdf, tmp_path):
    """After a two-run incremental merge every structural invariant still
    holds; alias ownership may legitimately warn (incremental-ER
    divergence, see tests/test_graph_merge.py) but must not fail."""
    mask = corpus_pdf["conv_id"].map(lambda c: (sum(c.encode()) % 2) == 0)
    out = str(tmp_path / "kg")
    for i, half in enumerate((corpus_pdf[mask], corpus_pdf[~mask])):
        p = str(tmp_path / f"half{i}.parquet")
        half = half.copy()
        half["ts"] = half["ts"].astype("datetime64[us]")
        half.to_parquet(p, index=False)
        build_kg(spark, p, out, n_buckets=4)
    report = validate_kg(spark, out)
    assert report["n_fail"] == 0, report
    assert report["ok"]
    by = _by_name(report)
    assert by["metrics_reconcile_per_partition"]["status"] == "pass"
    assert by["mention_mass_conserved"]["status"] == "pass"
    assert by["weight_mass_conserved"]["status"] == "pass"


def test_empty_buckets_commit_and_resume(spark, corpus_path, tmp_path):
    """More buckets than conversations: every run bucket, empty or not,
    gets one lineage row, so the commit marker matches the metrics table
    and a rerun skips every bucket."""
    n_buckets = 256
    out = str(tmp_path / "kg")
    build_kg(spark, corpus_path, out, n_buckets=n_buckets)
    metrics = pq.read_table(os.path.join(out, "metrics")).to_pandas()
    assert sorted(metrics["bucket"]) == list(range(n_buckets))
    assert (metrics["n_turns"] == 0).any()  # the fixture leaves buckets empty
    report = validate_kg(spark, out)
    assert report["ok"], report
    rerun = build_kg(spark, corpus_path, out, n_buckets=n_buckets)
    assert rerun["skipped_buckets"] == list(range(n_buckets))
    assert rerun["n_triples"] == 0


def test_crash_in_first_metrics_commit_is_caught(spark, kg_copy):
    """A crash inside the first metrics commit leaves data, aggregates and
    graph_state.json but a metrics dir holding only `_temporary/`: the
    audit reads that as no commits and fails the two checks that compare
    against the metrics table, instead of raising on schema inference."""
    metrics = os.path.join(kg_copy, "metrics")
    shutil.rmtree(metrics)
    os.makedirs(os.path.join(metrics, "_temporary", "0"))
    report = validate_kg(spark, kg_copy)
    by = _by_name(report)
    assert not report["ok"]
    assert by["graph_state_matches_metrics"]["status"] == "fail"
    assert by["graph_state_matches_metrics"]["observed"]["metrics_only"] == []
    assert by["metrics_reconcile_per_partition"]["status"] == "fail"
    bad = by["metrics_reconcile_per_partition"]["observed"]
    assert bad and all(r["metrics"] == 0 for r in bad)


def test_dropped_vertices_break_refs_and_mention_mass(spark, kg_copy):
    _rewrite(kg_copy, "vertices", lambda pdf: pdf.iloc[: len(pdf) // 2])
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["triple_refs_resolve"]["status"] == "fail"
    assert by["edge_refs_resolve"]["status"] == "fail"
    assert by["mention_mass_conserved"]["status"] == "fail"


def test_tampered_metrics_count_is_caught(spark, kg_copy):
    def bump(pdf):
        pdf = pdf.copy()
        pdf.loc[pdf.index[0], "n_triples"] += 1
        return pdf

    _rewrite(kg_copy, "metrics", bump)
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["metrics_reconcile_per_partition"]["status"] == "fail"
    bad = by["metrics_reconcile_per_partition"]["observed"]
    assert len(bad) == 1 and bad[0]["metrics"] == bad[0]["triples"] + 1


def test_duplicated_edge_breaks_pk_and_weight_mass(spark, kg_copy):
    import pandas as pd

    _rewrite(
        kg_copy, "edges",
        lambda pdf: pd.concat([pdf, pdf.iloc[[0]]], ignore_index=True),
    )
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["edges_pk_unique"]["status"] == "fail"
    assert by["weight_mass_conserved"]["status"] == "fail"


def test_foreign_state_hash_is_caught(spark, kg_copy):
    import json

    p = os.path.join(kg_copy, "graph_state.json")
    with open(p) as f:
        state = json.load(f)
    state["partition_hashes"].append("f" * 40)
    with open(p, "w") as f:
        json.dump(state, f)
    by = _by_name(validate_kg(spark, kg_copy))
    assert by["graph_state_matches_metrics"]["status"] == "fail"
    assert by["graph_state_matches_metrics"]["observed"]["state_only"] == [
        "f" * 40
    ]


def test_shared_alias_fails(spark, kg_copy):
    def share(pdf):
        pdf = pdf.copy()
        aliases = list(pdf.loc[pdf.index[0], "aliases"])
        donor = next(
            a for a in pdf.loc[pdf.index[1], "aliases"] if a not in aliases
        )
        pdf.at[pdf.index[0], "aliases"] = aliases + [donor]
        return pdf

    _rewrite(kg_copy, "vertices", share)
    report = validate_kg(spark, kg_copy)
    by = _by_name(report)
    # hardened in round 4: merge_vertices re-emits single-owner alias
    # sets, so a shared alias is always a real corruption -> fail
    assert by["alias_single_owner"]["status"] == "fail"
    assert not report["ok"] and report["n_fail"] == 1
