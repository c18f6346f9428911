"""`rosbag info` analog — the reference's stats companion
(rosbag_example.cpp:14-77): per-topic aggregation (count, bytes, min/max
stamp, first-seen type), rolled up per type and globally, with derived
frequency / data-rate metrics (rosbag_example.cpp:28-34, 71-72).

One groupBy + one rollup over the bag scan — the reference's three
sequential hash-map passes collapse into two Spark aggregations (partial
aggregation map-side; the rollup shares the shuffle)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from rosbag2parquet_spark.sources import conn_dim_df, open_bag, read_messages
from rosbag2parquet_spark.sources.baglike import bag_format


def bag_info(spark: SparkSession, path: str) -> DataFrame:
    """Per-(datatype, topic) stats + per-type and global rollup rows
    (topic NULL → per-type subtotal; both NULL → grand total). Definition
    text is never read, so a pre-Iron .db3 needs no ``msgdefs``."""
    bag = open_bag(path)
    msgs = read_messages(spark, bag)
    conns = conn_dim_df(spark, bag.conn_rows)
    joined = msgs.join(F.broadcast(conns), msgs.conn_id == conns.connection_id)
    agg = (
        joined.rollup("datatype", "topic")
        .agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum(F.length("data")).alias("total_bytes"),
            F.min("time_ns").alias("min_ns"),
            F.max("time_ns").alias("max_ns"),
        )
    )
    span_s = (F.col("max_ns") - F.col("min_ns")) / 1e9
    return agg.select(
        F.coalesce("datatype", F.lit("<all>")).alias("datatype"),
        F.coalesce("topic", F.lit("<all>")).alias("topic"),
        "n_msgs",
        "total_bytes",
        F.when(span_s > 0, F.round(F.col("n_msgs") / span_s, 3)).alias("freq_hz"),
        F.when(span_s > 0, F.round(F.col("total_bytes") / span_s, 1)).alias(
            "bytes_per_s"
        ),
    )


def print_info(spark: SparkSession, path: str) -> None:
    """Human-oriented summary (the reference prints to stdout,
    rosbag_example.cpp:67-76)."""
    df = bag_info(spark, path).orderBy("datatype", "topic")
    rows = df.collect()
    print(f"bag: {path}")
    for r in rows:
        tag = "TOTAL" if r.datatype == "<all>" else f"{r.datatype} {r.topic}"
        freq = f" @ {r.freq_hz} Hz" if r.freq_hz is not None else ""
        print(f"  {tag}: {r.n_msgs} msgs, {r.total_bytes} bytes{freq}")
    if bag_format(path) == "mcap":
        from rosbag2parquet_spark.sources.mcap import (
            mcap_attachment_stats,
            mcap_metadata,
        )

        # sizes come from AttachmentIndex records when the file is indexed
        # — no payload bytes read to print a listing
        for name, media, nbytes in mcap_attachment_stats(path):
            print(f"  attachment: {name} ({media}, {nbytes} bytes)")
        for name, kv in mcap_metadata(path):
            pairs = ", ".join(f"{k}={v}" for k, v in sorted(kv.items()))
            print(f"  metadata: {name}: {pairs}")


def layout_info(spark: SparkSession, layout_dir: str) -> DataFrame:
    """`bag_info` over a CONVERTED layout instead of a bag: the same
    per-(datatype, topic) stats + rollup rows. Layouts written since r8
    persist the aggregates as a ``Stats`` table (reference TODO #2.1 —
    one row per batch x connection), so info is a rollup of a
    KILOBYTE-scale table: at 100 TB, `rosbag info` answers without
    touching Messages at all. Legacy layouts fall back to the
    column-pruned Messages scan (still no per-type blob ever read — the
    reason the metadata tables exist, FlattenedRosWriter.cpp:49-137).
    Both paths compute identical values (sums/mins/maxes re-aggregate
    exactly); pinned in tests/test_convert_bag.py."""
    import os

    conns = spark.read.parquet(os.path.join(layout_dir, "Connections"))
    stats_path = os.path.join(layout_dir, "Stats")
    if os.path.isdir(stats_path):
        rows = spark.read.parquet(stats_path)
        joined = rows.join(F.broadcast(conns), "connection_id")
        agg = joined.rollup("datatype", "topic").agg(
            F.sum("n_messages").alias("n_msgs"),
            F.sum("total_bytes").alias("total_bytes"),
            F.min("min_time_ns").alias("min_ns"),
            F.max("max_time_ns").alias("max_ns"),
        )
    else:
        msgs = spark.read.parquet(
            os.path.join(layout_dir, "Messages")
        ).select(
            "connection_id",
            "size",
            (
                F.col("time_sec").cast("long") * 1_000_000_000
                + F.col("time_nsec")
            ).alias("time_ns"),
        )
        joined = msgs.join(F.broadcast(conns), "connection_id")
        agg = joined.rollup("datatype", "topic").agg(
            F.count(F.lit(1)).alias("n_msgs"),
            F.sum("size").alias("total_bytes"),
            F.min("time_ns").alias("min_ns"),
            F.max("time_ns").alias("max_ns"),
        )
    span_s = (F.col("max_ns") - F.col("min_ns")) / 1e9
    return agg.select(
        F.coalesce("datatype", F.lit("<all>")).alias("datatype"),
        F.coalesce("topic", F.lit("<all>")).alias("topic"),
        "n_msgs",
        "total_bytes",
        F.when(span_s > 0, F.round(F.col("n_msgs") / span_s, 3)).alias("freq_hz"),
        F.when(span_s > 0, F.round(F.col("total_bytes") / span_s, 1)).alias(
            "bytes_per_s"
        ),
    )


def print_layout_info(spark: SparkSession, layout_dir: str) -> None:
    import os

    df = layout_info(spark, layout_dir).orderBy("datatype", "topic")
    print(f"layout: {layout_dir}")
    for r in df.collect():
        tag = "TOTAL" if r.datatype == "<all>" else f"{r.datatype} {r.topic}"
        freq = f" @ {r.freq_hz} Hz" if r.freq_hz is not None else ""
        print(f"  {tag}: {r.n_msgs} msgs, {r.total_bytes} bytes{freq}")
    tables = sorted(
        d for d in os.listdir(layout_dir)
        if os.path.isdir(os.path.join(layout_dir, d))
    )
    print(f"  tables: {', '.join(tables)}")
