"""Transcript source + snapshot manifest.

The north rule's input is an Iceberg table; this sandbox has no Iceberg
runtime, so the source reads parquet with the fixed TRANSCRIPTS schema
(schema-on-write, never inference — reference discipline, index.d.ts) and
emulates the snapshot identity Iceberg would give us: a deterministic
snapshot_id derived from the input file listing (names + sizes + mtimes).
Lineage rows in the metrics table reference this snapshot_id, which is what
makes resume-without-recompute sound: a changed input produces a different
snapshot_id and invalidates prior commits (SURVEY.md §4 'resumability').
"""

from __future__ import annotations

import hashlib
import os

from pyspark.sql import DataFrame, SparkSession

from ..schemas import TRANSCRIPTS


def snapshot(path: str) -> tuple[str, int]:
    """(snapshot_id, input_bytes) of a parquet file/directory from one walk
    of its listing: a deterministic content identity (names + sizes +
    mtimes) and the total size of its data files, which sizes the build's
    corpus exchange (plans/pipeline.exchange_partitions)."""
    entries = []
    n_bytes = 0
    if os.path.isdir(path):
        for root, _, files in os.walk(path):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                st = os.stat(p)
                n_bytes += st.st_size
                entries.append(f"{os.path.relpath(p, path)}:{st.st_size}:{int(st.st_mtime)}")
    else:
        st = os.stat(path)
        n_bytes = st.st_size
        entries.append(f"{os.path.basename(path)}:{st.st_size}:{int(st.st_mtime)}")
    digest = hashlib.sha1("\n".join(sorted(entries)).encode()).hexdigest()
    return f"snap-{digest[:16]}", n_bytes


def read_transcripts(spark: SparkSession, path: str) -> DataFrame:
    """Scan with the declared schema so Catalyst can prune/push down against
    known column types; no inference pass over the data."""
    return spark.read.schema(TRANSCRIPTS).parquet(path)
