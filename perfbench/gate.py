"""Correctness gate applied to every KG the benchmark builds.

A build passes when
- ``validate_kg`` reports ``ok``;
- its fingerprint (n_turns, n_triples, n_errors, n_vertices, n_edges and the
  rounded edge-weight mass) equals the one recorded for the same seed, size
  and program source by the first build that saw them;
- fresh_build: the replica-0 triples equal the
  pure-Python reference extractor's output on the base corpus (P = R = 1);
- entity_dense: every planted alias group maps to exactly one entity_id and
  no two groups share one.

Each check returns a list of failure strings; an empty list is a pass.
"""

from __future__ import annotations

import glob
import hashlib
import json
import os

from pyspark.sql import functions as F

KEY = ["conv_id", "turn_idx", "subj", "pred", "obj"]


def code_digest(root: str) -> str:
    """Hash of the program source, so recorded fingerprints never outlive
    the code that produced them."""
    h = hashlib.sha1()
    pattern = os.path.join(root, "node_feedparser_spark", "**", "*.py")
    for p in sorted(glob.glob(pattern, recursive=True)):
        h.update(os.path.relpath(p, root).encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()[:16]


def fingerprint(spark, out_dir: str, audit: dict) -> dict:
    m = (
        spark.read.parquet(os.path.join(out_dir, "metrics"))
        .agg(F.sum("n_turns").alias("t"), F.sum("n_errors").alias("e"))
        .collect()[0]
    )
    w = spark.read.parquet(os.path.join(out_dir, "edges")).agg(
        F.sum("weight")
    ).collect()[0][0]
    return {
        "n_turns": int(m["t"] or 0),
        "n_triples": int(audit["n_triples"]),
        "n_errors": int(m["e"] or 0),
        "n_vertices": int(audit["n_vertices"]),
        "n_edges": int(audit["n_edges"]),
        "weight": round(float(w or 0.0), 3),
    }


def check_fingerprint(path: str, fp: dict) -> list[str]:
    """Compare with the fingerprint recorded at ``path``; record it if none."""
    if not os.path.exists(path):
        tmp = f"{path}.tmp-{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(fp, f, sort_keys=True)
        os.replace(tmp, path)
        return []
    with open(path) as f:
        want = json.load(f)
    return [] if want == fp else [f"fingerprint {fp} != recorded {want}"]


def reference_triples(base_path: str) -> set[tuple]:
    import pyarrow.parquet as pq

    from node_feedparser_spark.reference_extract import extract_corpus

    rows = pq.read_table(base_path).to_pylist()
    return {
        (t["conv_id"], int(t["turn_idx"]), t["subj"], t["pred"], t["obj"])
        for t in extract_corpus(rows).triples
    }


def check_reference(spark, out_dir: str, want: set[tuple]) -> list[str]:
    pdf = (
        spark.read.parquet(os.path.join(out_dir, "triples"))
        .filter(~F.col("conv_id").contains("#r"))
        .select(*KEY)
        .toPandas()
    )
    got = {
        (c, int(t), s, p, o)
        for c, t, s, p, o in pdf.itertuples(index=False, name=None)
    }
    errs = []
    if len(got) != len(pdf):
        errs.append(f"replica 0 holds {len(pdf) - len(got)} duplicate triples")
    if got != want:
        errs.append(
            f"replica 0 vs reference: {len(got - want)} extra, "
            f"{len(want - got)} missing of {len(want)}"
        )
    return errs


def check_groups(spark, out_dir: str, groups: list[list[str]]) -> list[str]:
    t = spark.read.parquet(os.path.join(out_dir, "triples"))
    pairs = (
        t.select(F.col("subj").alias("s"), F.col("subj_id").alias("id"))
        .union(t.select(F.col("obj").alias("s"), F.col("obj_id").alias("id")))
        .filter(~F.col("s").startswith("conv:"))
        .distinct()
        .toPandas()
    )
    ids: dict[str, set] = {}
    for s, i in pairs.itertuples(index=False, name=None):
        ids.setdefault(s, set()).add(int(i))
    owner: dict[int, int] = {}
    errs = []
    for g, surfaces in enumerate(groups):
        found = set().union(*(ids.get(s, set()) for s in surfaces))
        if len(found) != 1:
            errs.append(f"group {surfaces[0]} maps to {len(found)} entity ids")
            continue
        (eid,) = found
        if eid in owner:
            errs.append(
                f"groups {groups[owner[eid]][0]} and {surfaces[0]} share entity {eid}"
            )
        owner[eid] = g
    return errs[:5] + ([f"... {len(errs) - 5} more"] if len(errs) > 5 else [])
