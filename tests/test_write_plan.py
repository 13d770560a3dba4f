"""Plan-shape gates for the two triples write frames (plans/pipeline.py:
triples_write_frame, the fallback's salted repartition, and
triples_clustered_frame over fuse_write_partitioning's exchange): the two
properties that decide write-phase cost at cluster scale hold for both.

1. The per-row-constant columns (lineage struct, snap literal) are
   computed ABOVE the co-locating exchange — shuffling them would roughly
   double exchange bytes (measured: 2->8 scaling efficiency 0.640 ->
   0.716-0.770 after moving them).
2. The sub-split salt is decorrelated from the bucket hash — a salt of
   xxhash64(conv_id) % sub is FULLY determined by the bucket whenever sub
   divides n_buckets, silently collapsing every bucket into one write
   task (found live: every bench config had sub | n_buckets).
"""

from pyspark.sql import functions as F

from node_feedparser_spark.operators.extract import dedupe_first_wins
from node_feedparser_spark.plans.pipeline import (
    exchange_partitions,
    fuse_write_partitioning,
    partition_hash,
    triples_clustered_frame,
    triples_write_frame,
    write_sub,
)

SNAP = "snap-0123456789abcdef"


def _triples(spark, n_convs=200, n_buckets=4):
    return (
        spark.range(0, n_convs * 5, 1, 4)
        .select(
            F.concat(F.lit("conv-"), F.col("id") % n_convs).alias("conv_id"),
            (F.col("id") % 7).cast("int").alias("turn_idx"),
            F.concat(F.lit("s"), F.col("id") % 50).alias("subj"),
            F.lit("mentions").alias("pred"),
            F.concat(F.lit("o"), F.col("id") % 30).alias("obj"),
            F.lit(0.5).alias("score"),
            F.xxhash64(F.col("id") % 50).alias("subj_id"),
            F.xxhash64(F.col("id") % 30).alias("obj_id"),
            # lateral alias: conv_id here is the REAL string built above,
            # so the bucket-salt correlation the frame must avoid is
            # faithfully present in the fixture
            F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets))
            .cast("int")
            .alias("bucket"),
        )
    )


def _write_frames(spark):
    """Both frames build_kg can write, over the same triples: the
    fallback's, and the broadcast branch's over the fused exchange."""
    return {
        "fallback": triples_write_frame(_triples(spark), SNAP, 4, 4),
        "clustered": triples_clustered_frame(
            fuse_write_partitioning(_triples(spark), 4, 4, 16), SNAP, 4
        ),
    }


def test_constants_attach_above_the_exchange(spark):
    for name, frame in _write_frames(spark).items():
        plan = frame._jdf.queryExecution().optimizedPlan().toString()
        # tree prints parents first: the Project computing lineage must
        # sit ABOVE (= print before) the repartition node
        i_lineage = plan.index("partition_hash")
        i_exchange = plan.index("RepartitionByExpression")
        assert i_lineage < i_exchange, (name, plan)
        # and the repartition itself must not carry lineage/snap in its
        # output
        repart_tail = plan[i_exchange:]
        assert "partition_hash" not in repart_tail, (name, plan)


def test_salt_subsplits_each_bucket(spark):
    # n_buckets=4, par=4 -> sub=4, which DIVIDES n_buckets: the correlated
    # salt (xxhash64(conv_id) % sub) would put every bucket in exactly one
    # task.  With 200 convs (~50 per bucket) a decorrelated salt leaves a
    # single-task bucket with probability ~4 * 0.25^50 — impossible.  The
    # fused exchange must also keep each bucket within `sub` partitions.
    assert write_sub(4, 4) == 4
    for name, frame in _write_frames(spark).items():
        spread = (
            frame.withColumn("pid", F.spark_partition_id())
            .groupBy("bucket")
            .agg(F.count_distinct("pid").alias("n_tasks"))
            .collect()
        )
        assert len(spread) == 4, name
        for row in spread:
            assert 1 < row["n_tasks"] <= 4, (name, spread)


def test_frame_schema_is_the_table_contract(spark):
    for name, frame in _write_frames(spark).items():
        assert frame.columns == [
            "conv_id", "turn_idx", "subj", "pred", "obj", "score",
            "subj_id", "obj_id", "lineage", "bucket", "snap",
        ], name
        for row in (
            frame.select("bucket", "lineage", "snap").distinct().collect()
        ):
            assert row["snap"] == SNAP
            assert row["lineage"]["snapshot_id"] == SNAP
            assert row["lineage"]["partition_hash"] == partition_hash(
                SNAP, 4, row["bucket"]
            )


# --- round-3 exchange fusion (fuse_write_partitioning +
# triples_clustered_frame + the prefixed dedupe window): one corpus shuffle
# serves both the first-wins dedupe and the bucketed write.


def _turns(spark, n_convs=60, n_buckets=4):
    df = spark.range(0, n_convs * 8, 1, 4).select(
        F.concat(F.lit("conv-"), F.col("id") % n_convs).alias("conv_id"),
        # %5 over 8 rows/conv: repeated (conv_id, turn_idx) keys so the
        # dedupe window has real duplicates to drop
        (F.col("id") % 5).cast("int").alias("turn_idx"),
        F.lit("user").alias("role"),
        F.concat(F.lit("text "), F.col("id")).alias("text"),
        F.lit(None).cast("string").alias("tool"),
        (F.col("id") % 3).cast("timestamp").alias("ts"),
    )
    return df.withColumn(
        "bucket", F.pmod(F.xxhash64("conv_id"), F.lit(n_buckets)).cast("int")
    )


def test_fused_dedupe_has_single_exchange(spark):
    """The prefixed window must ELIDE its exchange: the whole
    dedupe-after-fuse plan carries exactly the one (bucket, wsalt)
    repartition — a second hashpartitioning(conv_id, turn_idx) exchange
    would mean the fusion silently regressed to two corpus shuffles.
    Holds at every exchange size, fewer partitions than buckets too."""
    for n_partitions in (8, 3):
        fused = dedupe_first_wins(
            fuse_write_partitioning(_turns(spark), 4, 2, n_partitions),
            partition_prefix=("bucket", "wsalt"),
        )
        p = fused._jdf.queryExecution().executedPlan().toString()
        assert p.count("Exchange") == 1, p
        assert "hashpartitioning(bucket#" in p, p
        assert f", {n_partitions})" in p, p


def test_prefixed_dedupe_equals_unprefixed(spark):
    """bucket and wsalt are pure functions of (conv_id, turn_idx), so the
    prefixed window's groups — and therefore its survivors — are identical
    to the plain (conv_id, turn_idx) window's."""
    turns = _turns(spark)
    plain = dedupe_first_wins(turns).select(
        "conv_id", "turn_idx", "text"
    )
    fused = dedupe_first_wins(
        fuse_write_partitioning(turns, 4, 2, 8),
        partition_prefix=("bucket", "wsalt"),
    ).select("conv_id", "turn_idx", "text")
    assert plain.exceptAll(fused).count() == 0
    assert fused.exceptAll(plain).count() == 0


def test_clustered_frame_adds_no_exchange(spark):
    """triples_clustered_frame must not repartition: the whole point is
    that the write consumes the fused clustering as-is."""
    frame = triples_clustered_frame(_triples(spark), SNAP, 4)
    p = frame._jdf.queryExecution().optimizedPlan().toString()
    assert "Repartition" not in p, p
    assert frame.columns == [
        "conv_id", "turn_idx", "subj", "pred", "obj", "score",
        "subj_id", "obj_id", "lineage", "bucket", "snap",
    ]


def test_fused_clustering_bounds_files_per_bucket(spark):
    """Physically: after fuse_write_partitioning, every bucket's rows live
    in at most `sub` partitions (that bound — not task count — is what caps
    files per bucket when the write skips its repartition).  The bound
    holds whatever the exchange size, fewer partitions than buckets
    included.  The lower bound — every bucket spreads over more than one
    partition — is test_salt_subsplits_each_bucket's."""
    n_buckets, sub = 4, 2
    assert write_sub(n_buckets, 2) == sub
    for n_partitions in (n_buckets * sub, n_buckets - 1):
        fused = fuse_write_partitioning(
            _turns(spark), n_buckets, sub, n_partitions
        )
        assert fused.rdd.getNumPartitions() == n_partitions
        spread = (
            fused.withColumn("pid", F.spark_partition_id())
            .groupBy("bucket")
            .agg(F.count_distinct("pid").alias("n_tasks"))
            .collect()
        )
        assert len(spread) == n_buckets
        for row in spread:
            assert row["n_tasks"] <= sub, spread


def test_exchange_partitions_scale_with_input():
    """The fused exchange is sized to the input: an input of at most `par`
    scan splits gets `par` partitions (one per core), any larger one the
    full n_buckets * sub fan-out — never an in-between count, and never
    fewer partitions than cores."""
    mb = 128 << 20
    n_buckets, par = 8, 4
    sub = write_sub(n_buckets, par)
    assert exchange_partitions(n_buckets, sub, par, 150_000, mb) == par
    assert exchange_partitions(n_buckets, sub, par, 0, mb) == par
    assert exchange_partitions(n_buckets, sub, par, par * mb, mb) == par
    assert exchange_partitions(n_buckets, sub, par, par * mb + 1, mb) == 16
    assert exchange_partitions(n_buckets, sub, par, 6 * mb + 1, mb) == 16
    assert exchange_partitions(n_buckets, sub, par, 10 << 30, mb) == n_buckets * sub
    for input_bytes in (0, 1, mb, 5 * mb, 1 << 40):
        for n_buckets, par in ((1, 1), (4, 16), (32, 4), (256, 64)):
            sub = write_sub(n_buckets, par)
            n = exchange_partitions(n_buckets, sub, par, input_bytes, mb)
            assert n in (par, n_buckets * sub) and n >= par
