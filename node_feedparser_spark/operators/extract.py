"""Distributed triple extraction — the Spark face of reference_extract.

Design (SURVEY.md §3.1 'Spark lifecycle equivalent'):
- extraction is per-turn, so it needs NO per-conversation grouping and NO
  shuffle: `mapInPandas` over whatever partitioning the scan produced.
  Mega-thread skew (FIXTURES.md `mega-`) therefore cannot create an
  extraction straggler — rows of one conversation spread across splits.
- the only required shuffle before extraction is first-wins dedupe of
  duplicate (conv_id, turn_idx) keys, a window over a deterministic total
  order (reference 'first guid wins', lib/feedparser.js:538; SURVEY.md A2).
- error containment: a turn whose extraction raises yields a single
  pred='__error__' row instead of failing the task (reference error-resume,
  lib/feedparser.js:140-154); the pipeline routes those rows to the metrics
  table (the analog of parser.errors).

Fast/slow split inside the Arrow batch (round 2): the per-row
`extract_turn` spec call costs ~36 µs/row, dominated by 9 small regex
invocations and per-triple dict appends.  The overwhelming majority of
rows are CLEAN — no markup '<', no mojibake marker, no control chars, no
exotic unicode whitespace, non-null turn_idx — and for those
`normalize_text` reduces to `str.strip()` and the grammar is plain ASCII
regex.  Clean rows therefore take a vectorized path: every normalized
text in the batch is joined into ONE mega-string on a '\\x00' separator
(a character the dirty screen guarantees absent and no grammar atom can
match, so matches cannot cross rows and \\b behaves identically at row
boundaries), each relation pattern and the mention pattern run ONCE per
batch instead of once per row, and match positions map back to rows via
searchsorted over the row-offset array.  Dirty rows keep the exact
per-row spec path (`extract_turn`), which also owns error containment.
Set-equality of the two paths holds because the within-turn dedupe key
(subj, pred, obj) fully determines the score — pattern/tool/mention
triples are structurally disjoint (entity surfaces cannot contain ':',
preds are distinct) — pinned by tests/test_vectorized_extract.py on the
full fixture corpus.  This is the reference's own fast/slow discipline:
sax's fast character scan with an escape hatch to expensive handling
only where the input demands it (/root/reference/lib/feedparser.js:82-101).

No per-row Python UDFs anywhere — Arrow-batched `mapInPandas` /
`pandas_udf` only, with the per-row spec loop confined to the screened
dirty minority (BASELINE.json input_hint).
"""

from __future__ import annotations

import re
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.functions import pandas_udf

from ..constants import (
    ENTITY_RE,
    MOJIBAKE_MARKERS,
    RELATION_PATTERNS,
    SCORE_MENTION,
    SCORE_PATTERN,
    SCORE_TOOL,
)
from ..reference_extract import STOPWORDS, extract_turn
from ..functions.normalize import normalize_text
from ..schemas import TRIPLES_RAW

ERROR_PRED = "__error__"

# The reference guards sax against pathological nodes with a 16 MB token
# buffer cap (configurable; /root/reference/lib/feedparser.js:82-90).  The
# Arrow analog: a single multi-hundred-MB turn text would inflate every
# Arrow batch and Python worker it flows through, so text is clamped at
# this byte cap BEFORE extraction; the clamped row still extracts from the
# truncated prefix (sax resumes after the buffer error) and one
# pred='__error__' row with obj='overflow:<bytes>' flows to the metrics
# side channel (A6 discipline).  None = unlimited (the reference's
# MAX_BUFFER_LENGTH: Infinity).
MAX_TEXT_BYTES = 16 * 1024 * 1024

# Rows whose text contains any of these need the exact per-row path:
# control chars (normalize_text strips them), '<' (whitelist HTML strip),
# mojibake markers (encoding repair), exotic unicode whitespace (Python
# str.strip() vs plain trim), DEL.  tool needs NO screen here: the
# vectorized path applies Python str.strip() to it, which is the spec.
_DIRTY_RE = re.compile(
    "[\x00-\x08\x0b\x0c\x0e-\x1f\x7f<"
    "\x85\xa0\u1680\u2000-\u200a\u2028\u2029\u202f\u205f\u3000]"
    "|" + "|".join(re.escape(m) for m in MOJIBAKE_MARKERS)
)
_SEP = "\x00"  # in the dirty class above -> guaranteed absent from clean rows
_EMPTY_OUT = {
    "conv_id": [], "turn_idx": [], "subj": [], "pred": [], "obj": [],
    "score": [],
}


def dedupe_first_wins(
    transcripts: DataFrame, partition_prefix: tuple[str, ...] = ()
) -> DataFrame:
    """Keep the first row per (conv_id, turn_idx) under the spec's
    deterministic total order (ts, text ascending, nulls first).

    One shuffle on (conv_id, turn_idx).  At 10^12 turns this key is nearly
    unique so the window is cheap and skew-free: partitioning is by hash of
    the *composite* key, so even a mega-thread's turns spread uniformly.

    partition_prefix (round 3, exchange fusion): extra leading partitionBy
    columns that MUST each be a pure function of (conv_id, turn_idx) — they
    then refine nothing (every group is still exactly one (conv_id,
    turn_idx) key) but let Catalyst ELIDE this window's exchange when the
    input is already repartitioned on those columns, so one upstream
    shuffle can serve both the dedupe and a downstream bucketed write
    (plans/pipeline.py build_kg).  Equality with the unprefixed plan is
    pinned by tests/test_write_plan.py.
    """
    w = Window.partitionBy(*partition_prefix, "conv_id", "turn_idx").orderBy(
        F.col("ts").asc_nulls_first(), F.col("text").asc_nulls_first()
    )
    return (
        transcripts.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


class ExtractionError(ValueError):
    """Raised in fail_fast (strict) mode when a turn cannot be extracted —
    the analog of the reference's `resume_saxerror: false` aborting the
    parse on the first handled error (lib/feedparser.js:76-91,140-154;
    test/bad.js:92-121)."""


def _extract_rows_spec(
    pdf: pd.DataFrame, fail_fast: bool = False, normalize: bool = True
) -> pd.DataFrame:
    """Exact per-row spec path: one `extract_turn` call per row.  Owns error
    containment — a row whose extraction raises (or whose turn_idx is null)
    yields a single pred='__error__' row instead of failing the task; in
    fail_fast mode it raises ExtractionError instead (strict mode)."""
    out: dict[str, list] = {
        "conv_id": [], "turn_idx": [], "subj": [], "pred": [],
        "obj": [], "score": [],
    }
    for conv_id, turn_idx, role, text, tool in zip(
        pdf["conv_id"], pdf["turn_idx"], pdf["role"], pdf["text"], pdf["tool"]
    ):
        # schema-violating keys (null turn_idx) must not kill the task
        # — and must not kill the ERROR handler either, so the safe
        # index is computed before the try (error-resume discipline,
        # /root/reference/lib/feedparser.js:140-154)
        ti = None if pd.isna(turn_idx) else int(turn_idx)
        try:
            if ti is None:
                raise ValueError("null turn_idx")
            triples, _ = extract_turn(conv_id, ti, role, text, tool, normalize)
        except Exception as exc:
            if fail_fast:
                raise ExtractionError(
                    f"extraction failed at ({conv_id!r}, {ti!r}): {exc}"
                ) from exc
            triples = [
                {
                    "conv_id": conv_id, "turn_idx": -1 if ti is None else ti,
                    "subj": None, "pred": ERROR_PRED, "obj": None,
                    "score": 0.0,
                }
            ]
        for t in triples:
            for k in out:
                out[k].append(t[k])
    return pd.DataFrame(out)


def _finditer_rows(pattern, big: str, starts: np.ndarray):
    """Run one compiled pattern over the batch mega-string; return
    (row_index_array, match_list).  Matches cannot cross the \\x00 row
    separators (no grammar atom matches \\x00), so global finditer over the
    mega-string visits exactly the matches per-row finditer would."""
    matches = list(pattern.finditer(big))
    if not matches:
        return np.empty(0, dtype=np.int64), matches
    pos = np.fromiter(
        (m.start() for m in matches), dtype=np.int64, count=len(matches)
    )
    return np.searchsorted(starts, pos, side="right") - 1, matches


# Cheap literal substring implied by each relation pattern: a row that does
# not contain the literal cannot match the pattern, and native str.find is
# a memmem scan (GB/s) vs ~30 MB/s for the backtracking regex.  "is a"
# covers "is an?" because "is an" contains "is a".
_PHRASE_LITERALS: dict[str, str] = {
    "is_a": "is a",
    "part_of": "is part of",
    "uses": "uses",
    "created": "created",
    "runs_on": "runs on",
    "depends_on": "depends on",
    "connects_to": "connects to",
    "maintains": "maintains",
}


def _rows_containing(big: str, starts: np.ndarray, literal: str) -> np.ndarray:
    """Row indices whose text contains `literal` (which never contains the
    separator, so hits cannot cross rows)."""
    hits = []
    p = big.find(literal)
    while p != -1:
        hits.append(p)
        p = big.find(literal, p + 1)
    if not hits:
        return np.empty(0, dtype=np.int64)
    ridx = np.searchsorted(starts, np.asarray(hits, dtype=np.int64), "right") - 1
    return np.unique(ridx)


def _scan_rows(pattern, rows: np.ndarray, norm: np.ndarray):
    """finditer restricted to a row subset: build a sub-mega-string of just
    those rows, scan once, map local row indices back to global ones."""
    sub = [norm[i] for i in rows]
    sub_lens = np.fromiter((len(s) for s in sub), dtype=np.int64, count=len(sub))
    sub_starts = np.zeros(len(sub), dtype=np.int64)
    if len(sub) > 1:
        np.cumsum(sub_lens[:-1] + 1, out=sub_starts[1:])
    local_ridx, matches = _finditer_rows(pattern, _SEP.join(sub), sub_starts)
    return rows[local_ridx], matches


def _not_stopword(values: list[str]) -> np.ndarray:
    """Vectorized spec `_is_entity`: STOPWORDS contains only single words,
    so `surface in STOPWORDS` already implies 'no space'."""
    return ~pd.Index(values).isin(STOPWORDS)


def _extract_clean(pdf: pd.DataFrame) -> pd.DataFrame:
    """Vectorized extraction for pre-screened clean rows (no dirty text
    chars, non-null turn_idx).  For these rows normalize_text == str.strip()
    and extract_turn cannot raise, so no per-row error handling is needed.

    Emits the same triple SET as the spec path; within-turn keep-first
    dedupe becomes drop_duplicates, legal because (subj, pred, obj)
    determines score (module docstring)."""
    n = len(pdf)
    conv = pdf["conv_id"].to_numpy(dtype=object)
    tid = pdf["turn_idx"].to_numpy()
    norm = pdf["text"].fillna("").str.strip().to_numpy(dtype=object)

    lens = np.fromiter((len(s) for s in norm), dtype=np.int64, count=n)
    starts = np.zeros(n, dtype=np.int64)
    if n > 1:
        np.cumsum(lens[:-1] + 1, out=starts[1:])
    big = _SEP.join(norm)

    # master prefilter: every grammar atom starts with [A-Z], so rows with
    # zero capitals can produce neither pattern nor mention triples.  One
    # numpy pass over the codepoint array (utf-32 view of the mega-string).
    cps = np.frombuffer(big.encode("utf-32-le"), dtype=np.uint32)
    upper_cum = np.zeros(len(cps) + 1, dtype=np.int64)
    np.cumsum((cps >= 65) & (cps <= 90), out=upper_cum[1:])
    has_caps = (upper_cum[starts + lens] - upper_cum[starts]) > 0

    ridx_parts: list[np.ndarray] = []
    subj_parts: list[list] = []
    pred_parts: list[np.ndarray] = []
    obj_parts: list[list] = []
    score_parts: list[np.ndarray] = []

    def _push(ridx, subj, pred_arr, obj, score):
        ridx_parts.append(ridx)
        subj_parts.append(subj)
        pred_parts.append(pred_arr)
        obj_parts.append(obj)
        score_parts.append(np.full(len(ridx), score))

    for pred, pattern in RELATION_PATTERNS:
        cand_rows = _rows_containing(big, starts, _PHRASE_LITERALS[pred])
        cand_rows = cand_rows[has_caps[cand_rows]]
        if not len(cand_rows):
            continue
        ridx, matches = _scan_rows(pattern, cand_rows, norm)
        if not len(matches):
            continue
        subj = [m.group(1) for m in matches]
        obj = [m.group(2) for m in matches]
        keep = _not_stopword(subj) & _not_stopword(obj)
        _push(
            ridx[keep],
            [s for s, k in zip(subj, keep) if k],
            np.full(int(keep.sum()), pred, dtype=object),
            [o for o, k in zip(obj, keep) if k],
            SCORE_PATTERN,
        )

    # tool triples: spec is `str(tool).strip()` non-empty -> conv invokes tool
    tool_stripped = pdf["tool"].dropna().astype(str).str.strip()
    tool_stripped = tool_stripped[tool_stripped != ""]
    if len(tool_stripped):
        t_ridx = (
            pdf.index.get_indexer(tool_stripped.index)
            if not pdf.index.equals(pd.RangeIndex(n))
            else tool_stripped.index.to_numpy()
        )
        t_ridx = np.asarray(t_ridx, dtype=np.int64)
        _push(
            t_ridx,
            ["conv:" + str(c) for c in conv[t_ridx]],
            np.full(len(t_ridx), "invokes", dtype=object),
            ("tool:" + tool_stripped).tolist(),
            SCORE_TOOL,
        )

    cap_rows = np.nonzero(has_caps)[0]
    ridx, matches = (
        _scan_rows(ENTITY_RE, cap_rows, norm)
        if len(cap_rows)
        else (np.empty(0, dtype=np.int64), [])
    )
    if len(matches):
        surf = [m.group(0) for m in matches]
        keep = _not_stopword(surf)
        m_ridx = ridx[keep]
        _push(
            m_ridx,
            ["conv:" + str(c) for c in conv[m_ridx]],
            np.full(len(m_ridx), "mentions", dtype=object),
            [s for s, k in zip(surf, keep) if k],
            SCORE_MENTION,
        )

    if not ridx_parts:
        return pd.DataFrame(_EMPTY_OUT)
    all_ridx = np.concatenate(ridx_parts)
    cand = pd.DataFrame(
        {
            "_r": all_ridx,
            "subj": np.concatenate([np.asarray(p, dtype=object) for p in subj_parts])
            if subj_parts
            else [],
            "pred": np.concatenate(pred_parts),
            "obj": np.concatenate([np.asarray(p, dtype=object) for p in obj_parts]),
            "score": np.concatenate(score_parts),
        }
    )
    cand.drop_duplicates(["_r", "subj", "pred", "obj"], inplace=True)
    r = cand["_r"].to_numpy()
    return pd.DataFrame(
        {
            "conv_id": conv[r],
            "turn_idx": tid[r].astype(np.int64),
            "subj": cand["subj"].to_numpy(),
            "pred": cand["pred"].to_numpy(),
            "obj": cand["obj"].to_numpy(),
            "score": cand["score"].to_numpy(),
        }
    )


def _clamp_overflow(
    pdf: pd.DataFrame, max_text_bytes: int, fail_fast: bool
) -> tuple[pd.DataFrame, pd.DataFrame | None]:
    """MAX_BUFFER_LENGTH analog (reference lib/feedparser.js:82-90): clamp
    turn text at `max_text_bytes` UTF-8 bytes.  Returns (pdf-with-clamped-
    text, overflow-error-rows-or-None).  Cheap two-stage screen: a string
    over the byte cap must exceed cap/4 characters (UTF-8 is <= 4 B/char),
    so only those rows pay an encode; the common batch returns untouched."""
    text = pdf["text"]
    maybe = text.notna() & (text.str.len() > max_text_bytes // 4)
    if not maybe.any():
        return pdf, None
    over_rows: list[int] = []
    over_bytes: list[int] = []
    for i in np.nonzero(maybe.to_numpy())[0]:
        nb = len(text.iat[int(i)].encode("utf-8"))
        if nb > max_text_bytes:
            over_rows.append(int(i))
            over_bytes.append(nb)
    if not over_rows:
        return pdf, None
    if fail_fast:
        r = pdf.iloc[over_rows[0]]
        raise ExtractionError(
            f"turn text overflow at ({r['conv_id']!r}, {r['turn_idx']!r}): "
            f"{over_bytes[0]} bytes > cap {max_text_bytes}"
        )
    pdf = pdf.copy()
    tcol = pdf.columns.get_loc("text")
    for i in over_rows:
        # truncate on the byte cap, dropping any split trailing codepoint
        clamped = (
            pdf.iat[i, tcol].encode("utf-8")[:max_text_bytes].decode(
                "utf-8", "ignore"
            )
        )
        pdf.iat[i, tcol] = clamped
    ti = pdf["turn_idx"].iloc[over_rows]
    overflow = pd.DataFrame(
        {
            "conv_id": pdf["conv_id"].iloc[over_rows].to_numpy(),
            "turn_idx": [
                -1 if pd.isna(t) else int(t) for t in ti
            ],
            "subj": [None] * len(over_rows),
            "pred": [ERROR_PRED] * len(over_rows),
            "obj": [f"overflow:{nb}" for nb in over_bytes],
            "score": [0.0] * len(over_rows),
        }
    )
    return pdf, overflow


def _extract_batches(
    batches: Iterator[pd.DataFrame],
    fail_fast: bool = False,
    normalize: bool = True,
    max_text_bytes: int | None = MAX_TEXT_BYTES,
) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        if pdf.empty:
            continue
        pdf = pdf.reset_index(drop=True)
        overflow = None
        if max_text_bytes is not None:
            pdf, overflow = _clamp_overflow(pdf, max_text_bytes, fail_fast)
        if overflow is not None:
            yield overflow
        text = pdf["text"]
        dirty = (
            text.notna()
            & text.str.contains(_DIRTY_RE, regex=True, na=False)
        ) | pdf["turn_idx"].isna()
        n_dirty = int(dirty.sum())
        # clean rows: normalize_text == str.strip(), so the vectorized path
        # is valid for BOTH normalize modes; only dirty rows differ
        if n_dirty == 0:
            yield _extract_clean(pdf)
        elif n_dirty == len(pdf):
            yield _extract_rows_spec(pdf, fail_fast, normalize)
        else:
            yield pd.concat(
                [
                    _extract_clean(pdf[~dirty].reset_index(drop=True)),
                    _extract_rows_spec(pdf[dirty], fail_fast, normalize),
                ],
                ignore_index=True,
            )


def extract_triples(
    turns: DataFrame,
    fail_fast: bool = False,
    normalize: bool = True,
    max_text_bytes: int | None = MAX_TEXT_BYTES,
) -> DataFrame:
    """transcript turns -> raw triples via Arrow-batched mapInPandas.

    Input must already be deduped (dedupe_first_wins).  Output carries
    (conv_id, turn_idx) so document order is reconstructible downstream via
    a window — order is data, not physical layout (SURVEY.md W1).

    fail_fast=True is strict mode (the reference's resume_saxerror:false):
    the first unextractable turn raises ExtractionError and fails the job
    instead of flowing to the error side channel.

    normalize=False is the reference's `normalize: false` option
    (lib/feedparser.js:77; test/api.js:51): dirty rows are extracted from
    raw trimmed text with no repair; clean rows are unaffected (for them
    normalization already reduces to str.strip()).

    max_text_bytes is the reference's MAX_BUFFER_LENGTH option
    (lib/feedparser.js:82-90, default 16 MB): turn text over the cap is
    clamped before extraction (triples still come from the prefix), an
    'overflow:<bytes>' error row flows to metrics, and None disables the
    cap (the reference's Infinity).  In fail_fast mode an oversized turn
    raises, like sax's unrecovered buffer error in strict mode.
    """
    cols = ["conv_id", "turn_idx", "role", "text", "tool"]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        return _extract_batches(batches, fail_fast, normalize, max_text_bytes)

    return turns.select(*cols).mapInPandas(run, schema=TRIPLES_RAW)


@pandas_udf(T.StringType())
def normalize_text_udf(texts: pd.Series) -> pd.Series:
    """Vectorized per-turn normalization; byte-identical to the pure-Python
    spec because it calls the same function (per-turn text equality gate)."""
    return texts.map(normalize_text)
