"""SFT export stage — transcripts into packed (prompt, response) training
rows.

The training-data exit door of the transcript side of the pipeline:
conversations are profiled (operators/profile.conversation_profile),
degenerate threads dropped, assistant turns become (prompt, response)
pairs over a bounded context window (operators/sft.sft_pairs), and every
pair gets its packing coordinates for ``capacity``-token training
sequences (operators/packing.sequence_pack — the two-phase distributed
prefix sum, no global window).  One parquet table ``pairs/`` comes out, each row
carrying both the training text and where it lands in the packed stream,
so a loader can materialize sequence files with a local group-by-seq_id
pass and no further shuffles.

Pack order is ``pair_id = xxhash64(conv_id, turn_idx) >>> 1`` (folded
into [0, 2⁶³) because sequence_pack range-buckets on ``hi − lo``, which
overflows a long across the full signed hash space) — deterministic,
numeric, and uniformly spread so the prefix-sum buckets balance; hash
order also SHUFFLES conversations across training sequences, which is
what a pretraining loader wants (adjacent pairs from one thread would
otherwise correlate within a batch).  A 63-bit collision would merely
merge two rows' pack slots — probability ~n²/2⁶⁴, disclosed rather than
guarded.

Scale shape: one conv_id shuffle shared by the profile and the pair
window, one left-semi join against the conv-count-sized keep set, the
packing prefix sum's bounded bucket exchanges, and one pair_id join of
the pack map back onto the pairs.  All string/window/integer work stays
in the JVM.
"""

from __future__ import annotations

import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.extract import dedupe_first_wins
from ..operators.packing import sequence_pack
from ..operators.profile import conversation_profile
from ..operators.sft import sft_pairs
from ..sources.transcripts import read_transcripts


def build_sft(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    context_turns: int = 4,
    capacity: int = 2048,
    min_turns: int = 2,
    min_response_chars: int = 1,
) -> dict:
    """Run transcripts -> profiled filter -> SFT pairs -> packing map ->
    ``<output_dir>/pairs`` parquet.  Returns a summary dict."""
    t0 = time.monotonic()
    # first-wins ingest dedupe (the build_kg discipline): duplicated
    # (conv_id, turn_idx) rows would make the context window's ORDER BY
    # nondeterministic between equal keys — after this, turn_idx is unique
    # per conversation and every downstream window is total-ordered.
    tr = dedupe_first_wins(read_transcripts(spark, input_path))
    keep = (
        conversation_profile(tr)
        .filter(F.col("n_turns") >= int(min_turns))
        .select("conv_id")
    )
    pairs = sft_pairs(
        tr.join(keep, "conv_id", "left_semi"),
        context_turns=context_turns,
        min_response_chars=min_response_chars,
    ).withColumn(
        # logical >>1 folds the hash into [0, 2^63): sequence_pack range-
        # buckets on (hi - lo), which would overflow a long for ids
        # spanning the full signed 64-bit space
        "pair_id",
        F.shiftrightunsigned(
            F.xxhash64(F.col("conv_id"), F.col("turn_idx")), 1
        ),
    )
    train_text = F.concat_ws(" ", F.col("prompt"), F.col("response"))
    pack = sequence_pack(
        pairs.select("pair_id", train_text.alias("text")),
        capacity=capacity,
        id_col="pair_id",
    )
    out = pairs.join(pack, "pair_id")
    out.write.mode("overwrite").parquet(f"{output_dir}/pairs")

    written = spark.read.parquet(f"{output_dir}/pairs")
    agg = written.agg(
        F.count(F.lit(1)).alias("n_pairs"),
        F.countDistinct("conv_id").alias("n_conversations"),
        F.sum("n_tokens").alias("total_tokens"),
    ).first()
    total = int(agg["total_tokens"] or 0)
    return {
        "n_pairs": int(agg["n_pairs"]),
        "n_conversations": int(agg["n_conversations"]),
        "total_tokens": total,
        "n_sequences": (total + capacity - 1) // capacity if total else 0,
        "capacity": capacity,
        "context_turns": context_turns,
        "output_dir": output_dir,
        "wall_s": round(time.monotonic() - t0, 3),
    }
