"""Sources: fixture catalog, message-definition schema compiler, bag-style
log source emulation (reference S1/S4 — rosbag2parquet.cpp:41-63,
MessageTable.cpp:305-361).

:func:`open_bag` is the ONE place that knows the four bag grammars —
rosbag 2.0, SBAG, ROS 2 ``.db3`` and MCAP: it detects the grammar once and
returns a :class:`Bag` holding everything the driver needs (Connections
rows, seqno bucket width, offset bound, rosbag chunk refs), and
:func:`read_messages` is the one reader dispatch over it. Every ingest
entry point (``info.bag_info``, ``convert_bag``, ``convert_bags``,
``resume_convert_bag``) goes through these two; the per-grammar modules
keep only their own scan/read primitives."""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import NamedTuple


class ConnRow(NamedTuple):
    """One row of the engine's Connections dim (reference README.md:35-42).
    ``msg_def`` is None for a type whose definition could not be resolved
    (a pre-Iron .db3 without caller ``msgdefs``); absent callerid/latching
    are "" in every grammar, so one logical connection has ONE identity."""

    connection_id: int
    topic: str
    datatype: str
    md5sum: str
    msg_def: "str | None"
    callerid: str
    latching: str


CONN_SCHEMA = (
    "connection_id int, topic string, datatype string, md5sum string, "
    "msg_def string, callerid string, latching string"
)


def conn_dim_df(spark, rows):
    """The Connections dim frame over driver-side rows."""
    return spark.createDataFrame(list(rows), CONN_SCHEMA)


@dataclass(frozen=True)
class Bag:
    """One opened bag file: its detected grammar plus the driver-side scan
    results every consumer shares (one header walk per file)."""

    path: str
    format: str  # 'rosbag' | 'sbag' | 'rosbag2' | 'mcap'
    conn_rows: "tuple[ConnRow, ...]"
    #: seqno bucket width sized to THIS bag's offset encoding, so the
    #: driver-side prefix-sum map stays ≤ ~64 entries whatever the size
    width: int
    #: upper bound on any offset (sizes the fleet's per-bag bucket slot)
    max_offset: int
    #: rosbag ChunkRefs, threaded into the DataSource planner (a separate
    #: Python worker that would otherwise re-walk the header)
    chunks: "tuple | None" = None

    @property
    def serialization(self) -> str:
        """Payload serialization the per-type decode dispatches on."""
        if self.format == "mcap":
            from rosbag2parquet_spark.sources.mcap import mcap_serialization

            return mcap_serialization(self.path)
        return "cdr" if self.format == "rosbag2" else "ros1"


def open_bag(path: str, msgdefs: "dict[str, str] | None" = None) -> Bag:
    """Detect ``path``'s grammar and walk its header once. Magic bytes win;
    the extension only breaks the tie for unreadable/magicless files, so
    the matching reader raises its own precise error instead of the wrong
    grammar's. ``.db3`` definitions resolve embedded-first (Iron+
    ``message_definitions``) with ``msgdefs`` overriding/filling."""
    from rosbag2parquet_spark.sources.baglike import bag_format

    fmt = bag_format(path) or ("rosbag" if path.endswith(".bag") else "sbag")
    chunks = None
    if fmt == "rosbag":
        from rosbag2parquet_spark.sources.rosbag import (
            offset_shift,
            scan_rosbag,
            seqno_bucket_width,
        )

        conns, chunk_list = scan_rosbag(path)  # memoized: one walk per file
        width = seqno_bucket_width(path)
        max_offset = (len(chunk_list) + 1) << offset_shift(chunk_list)
        chunks = tuple(chunk_list)
    elif fmt == "rosbag2":
        import sqlite3

        from rosbag2parquet_spark.sources.rosbag2 import (
            read_embedded_msgdefs,
            read_topics,
        )

        resolved = read_embedded_msgdefs(path)
        resolved.update(msgdefs or {})
        # md5sum/callerid/latching: the sqlite3 storage carries none
        rows = [
            (t.topic_id, t.name, t.datatype, "", resolved.get(t.datatype),
             "", "")
            for t in read_topics(path)
        ]
        con = sqlite3.connect(f"file:{path}?mode=ro", uri=True)
        try:
            (hi,) = con.execute("SELECT max(id) FROM messages").fetchone()
        finally:
            con.close()
        # offsets are DENSE rowids, not byte positions
        max_offset = (hi or 0) + 1
        width = max(1, -(-max_offset // 64))
    elif fmt == "mcap":
        from rosbag2parquet_spark.sources.mcap import (
            mcap_connection_rows,
            offset_shift,
            scan_mcap,
            seqno_bucket_width,
        )

        scan = scan_mcap(path)
        rows = mcap_connection_rows(path)
        width = seqno_bucket_width(path)
        if scan.chunks:
            max_offset = (len(scan.chunks) + 1) << offset_shift(scan.chunks)
        else:
            max_offset = os.path.getsize(path) + 1
    else:
        from rosbag2parquet_spark.sources.baglike import read_header

        conns, _ = read_header(path)
        # offsets are dense file byte positions
        size = os.path.getsize(path)
        width = max(100_000, size // 64 + 1)
        max_offset = size + 1
    if fmt in ("rosbag", "sbag"):
        rows = [
            (c.conn_id, c.topic, c.datatype, c.md5sum, c.msg_def,
             c.callerid or "", c.latching or "")
            for c in conns
        ]
    return Bag(
        path, fmt, tuple(ConnRow(*r) for r in rows), width, max_offset, chunks
    )


def read_messages(
    spark,
    bag: Bag,
    num_partitions: int = 8,
    *,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    conn_ids: "list[int] | None" = None,
    start_offset: "int | None" = None,
    start_chunk: "int | None" = None,
    on_error: str = "fail",
):
    """(offset, time_ns, conn_id, data) for any grammar. Time and
    connection bounds push into the source plan where the container can
    skip (rosbag ChunkInfo, MCAP ChunkIndex, the .db3 sqlite WHERE), and
    those readers apply them exactly; SBAG has no index to skip with, so
    the exact filters are applied here for it alone.

    Resume cursors: ``start_offset`` where offsets are append-stable —
    .db3 (sqlite rowids) and SBAG (byte offsets under pure append);
    rosbag/MCAP offsets are synthetic chunk-index encodings whose shift can
    change as the file grows, so it is refused there. ``start_chunk`` is
    the MCAP chunk-index cursor."""
    fmt = bag.format
    if start_offset is not None and fmt in ("rosbag", "mcap"):
        raise ValueError(
            f"start_offset resume is not supported for {fmt}: its offsets "
            "are synthetic chunk-index encodings, not append-stable; "
            "convert new files via the fleet append instead"
        )
    if start_chunk is not None and fmt != "mcap":
        raise ValueError(f"start_chunk is an MCAP cursor; {fmt} has no chunks")
    if fmt == "rosbag":
        from rosbag2parquet_spark.sources.rosbag import read_rosbag

        df = read_rosbag(
            spark, bag.path, num_partitions=num_partitions,
            chunks=list(bag.chunks), start_ns=start_ns, end_ns=end_ns,
            conn_ids=conn_ids,
        )
    elif fmt == "mcap":
        from rosbag2parquet_spark.sources.mcap import read_mcap

        df = read_mcap(
            spark, bag.path, num_partitions=num_partitions,
            start_ns=start_ns, end_ns=end_ns, conn_ids=conn_ids,
            on_error=on_error, start_chunk=start_chunk,
        )
    elif fmt == "rosbag2":
        from rosbag2parquet_spark.sources.rosbag2 import read_rosbag2

        df = read_rosbag2(
            spark, bag.path, num_partitions=num_partitions,
            start_ns=start_ns, end_ns=end_ns, conn_ids=conn_ids,
            start_offset=start_offset,
        )
    else:
        from pyspark.sql import functions as F

        from rosbag2parquet_spark.sources.baglike import read_bag

        df = read_bag(
            spark, bag.path, num_partitions=num_partitions,
            start_offset=start_offset,
        )
        if conn_ids is not None:
            df = df.filter(F.col("conn_id").isin([int(c) for c in conn_ids]))
        if start_ns is not None:
            df = df.filter(F.col("time_ns") >= start_ns)
        if end_ns is not None:
            df = df.filter(F.col("time_ns") < end_ns)
    return df
