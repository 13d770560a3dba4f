"""Seeded inputs for the KG-build workloads, cached on disk.

Every input is a pure function of (workload kind, seed, size parameters,
GENERATOR_VERSION); the cache key hashes all four, so a changed generator
or size never reuses a stale corpus.  Inputs are written with an explicit
Arrow schema: pandas would type an all-null ``tool`` column as INT32 and the
declared-schema scan would refuse the file.

Kinds:
- ``fresh``: the datagen fixture corpus (every hostile class plus the
  mega-thread), replicated.  Replica 0 keeps the original conv_ids,
  so its triples can be compared with the pure-Python reference extractor;
  replica k renames conv_ids to ``<conv_id>#r<k>``.
- ``dense``: clean turns over planted entities whose surfaces are a
  random-letter canonical name, an upper-case variant and doubled-letter
  typo variants.  Names sharing three or more character 3-grams are
  rejected, so every cross-group 3-gram Jaccard stays far below the fuzzy
  threshold and no MinHash band bucket turns hot.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import string

import pyarrow as pa
import pyarrow.parquet as pq

GENERATOR_VERSION = 2

ARROW_SCHEMA = pa.schema(
    [
        ("conv_id", pa.string()),
        ("turn_idx", pa.int32()),
        ("role", pa.string()),
        ("text", pa.string()),
        ("tool", pa.string()),
        ("ts", pa.timestamp("us")),
    ]
)

# The first build_kg in a JVM costs ~26 s on 4 cores even for a few thousand
# turns (planning, codegen and JIT dominate), and a run must fit its budget
# on a host that loses up to 30 % of its CPU time to neighbours, so the full
# sizes stay small.  Every size fills all buckets the benchmark builds with:
# an empty bucket makes validate_kg fail graph_state_matches_metrics.
SIZES = {
    "full": {
        "fresh": {"scale": 2.0, "replicas": 8},
        "dense": {"entities": 800, "turns": 3200},
    },
    "tiny": {
        "fresh": {"scale": 1.0, "replicas": 6},
        "dense": {"entities": 300, "turns": 1200},
    },
}


def cache_dir(root: str, kind: str, seed: int, params: dict) -> str:
    key = json.dumps(
        {"kind": kind, "seed": seed, "params": params, "v": GENERATOR_VERSION},
        sort_keys=True,
    )
    digest = hashlib.sha1(key.encode()).hexdigest()[:16]
    return os.path.join(root, "cache", f"{kind}-s{seed}-{digest}")


def _cached(path: str, build) -> tuple[str, bool]:
    """Return (path, hit).  On a miss, ``build(tmp)`` fills a temporary dir
    that is renamed into place only when complete, so an interrupted run
    never leaves a half-written entry behind."""
    if os.path.isdir(path):
        return path, True
    tmp = f"{path}.tmp-{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    build(tmp)
    os.replace(tmp, path)
    return path, False


def write_rows(path: str, df) -> None:
    """pandas transcript frame -> parquet with the declared Arrow schema."""
    df = df.assign(ts=df["ts"].astype("datetime64[us]"))
    table = pa.Table.from_pandas(
        df[ARROW_SCHEMA.names], schema=ARROW_SCHEMA, preserve_index=False
    )
    pq.write_table(table, path, row_group_size=max(4096, len(df) // 8))


# --------------------------------------------------------------------- fresh


def fresh_corpus(root: str, seed: int, scale: float, replicas: int):
    """-> (cache dir, hit).  Holds base.parquet (replica 0 as generated) and
    corpus/ (one file per replica)."""
    from node_feedparser_spark.datagen import generate_transcripts

    def build(tmp: str) -> None:
        base = generate_transcripts(seed=seed, scale=scale)
        write_rows(os.path.join(tmp, "base.parquet"), base)
        os.makedirs(os.path.join(tmp, "corpus"))
        for k in range(replicas):
            rep = base if k == 0 else base.assign(conv_id=base["conv_id"] + f"#r{k}")
            write_rows(os.path.join(tmp, "corpus", f"part-{k:03d}.parquet"), rep)

    params = {"scale": scale, "replicas": replicas}
    return _cached(cache_dir(root, "fresh", seed, params), build)


# --------------------------------------------------------------------- dense

_FILLER = "we saw that then later again today here also so".split()
_TEMPLATES = (
    "{a} uses {b}",
    "{a} depends on {b}",
    "{a} runs on {b}",
    "{a} connects to {b}",
    "{a} is part of {b}",
)


def _grams(name: str) -> set[str]:
    padded = f" {name.lower()} "
    return {padded[i : i + 3] for i in range(len(padded) - 2)}


def _names(rng: random.Random, n: int) -> list[str]:
    """n random-letter names, any two sharing at most two 3-grams."""
    index: dict[str, list[int]] = {}
    out: list[str] = []
    while len(out) < n:
        name = "".join(
            rng.choice(string.ascii_lowercase) for _ in range(rng.randrange(7, 11))
        ).capitalize()
        grams = _grams(name)
        shared: dict[int, int] = {}
        for g in grams:
            for j in index.get(g, ()):
                shared[j] = shared.get(j, 0) + 1
        if any(c >= 3 for c in shared.values()):
            continue
        for g in grams:
            index.setdefault(g, []).append(len(out))
        out.append(name)
    return out


def _typo(rng: random.Random, name: str) -> str:
    """Double one lower-case letter: 3-gram Jaccard to the name >= 0.6."""
    i = rng.randrange(1, len(name))
    return name[:i] + name[i] + name[i:]


def dense_groups(seed: int, entities: int) -> list[list[str]]:
    """Planted alias groups: [canonical, UPPER, typo, typo]."""
    rng = random.Random(seed)
    groups = []
    for name in _names(rng, entities):
        typos = []
        while len(typos) < 2:
            t = _typo(rng, name)
            if t not in typos:
                typos.append(t)
        groups.append([name, name.upper(), *typos])
    return groups


def _dense_frame(seed: int, groups: list[list[str]], turns: int):
    import pandas as pd

    rng = random.Random(seed + 1)
    # every canonical surface is mentioned first, so each typo variant has
    # its canonical form present to connect to
    order = list(range(len(groups)))
    rng.shuffle(order)
    rows = []
    for t in range(turns):
        clauses = []
        for _ in range(rng.randrange(1, 3)):
            pair = []
            for _ in range(2):
                if order:
                    pair.append(groups[order.pop()][0])
                else:
                    pair.append(rng.choice(rng.choice(groups)))
            tmpl = rng.choice(_TEMPLATES)
            clauses.append(tmpl.format(a=pair[0], b=pair[1]))
        pre = " ".join(rng.choices(_FILLER, k=rng.randrange(1, 4)))
        text = f"{pre} " + " and ".join(clauses) + f" {rng.choice(_FILLER)}"
        rows.append(
            {
                "conv_id": f"dense-{t // 4:06d}",
                "turn_idx": t % 4,
                "role": ("user", "assistant")[t % 2],
                "text": text,
                "tool": None,
                "ts": pd.Timestamp("2025-01-06") + pd.Timedelta(seconds=t),
            }
        )
    df = pd.DataFrame(rows, columns=ARROW_SCHEMA.names)
    return df.sample(frac=1.0, random_state=seed).reset_index(drop=True)


def dense_corpus(root: str, seed: int, entities: int, turns: int):
    """-> (cache dir, hit).  Holds corpus.parquet and groups.json."""

    def build(tmp: str) -> None:
        groups = dense_groups(seed, entities)
        write_rows(os.path.join(tmp, "corpus.parquet"), _dense_frame(seed, groups, turns))
        with open(os.path.join(tmp, "groups.json"), "w") as f:
            json.dump(groups, f)

    params = {"entities": entities, "turns": turns}
    return _cached(cache_dir(root, "dense", seed, params), build)
