"""A bag-style binary log format + custom Spark Python DataSource reader —
the real S1 (reference rosbag2parquet.cpp:41-63: sequential scan of a binary
message log) rather than the parquet-fixture stand-in.

Format ("SBAG", little-endian, deliberately bag-shaped — a header of
connection records followed by length-prefixed timestamped messages):

    magic   4s   b"SBAG"
    n_conn  u32
    per connection: u32 conn_id, u16 len + topic, u16 len + datatype,
                    u16 len + md5sum, u32 len + msg_def
    then messages until EOF:
      u32 record_len (payload portion that follows)
      u32 conn_id
      u64 time_ns
      payload bytes (record_len - 12)

The DataSource splits the message region into byte-range partitions at
record boundaries (an index of offsets is built once, driver-side, from a
single sequential header scan — the same pass the reference's View setup
does). Each partition yields (offset, time_ns, conn_id, data) rows; offset
is the stable within-file position used for seqno assignment downstream
(contiguous global seqno = rank of offset — no timestamp ties possible).

This is the distributed analog of the reference's single loop: N partitions
scan disjoint byte ranges in parallel; schema inference for the per-type
tables then uses the msg_def text from the header via
:mod:`rosbag2parquet_spark.sources.msgdef` — exactly the reference's
two-layer design (connections metadata + schema-driven payload decode).
"""

from __future__ import annotations

import os
import struct
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition
from pyspark.sql import types as T

MAGIC = b"SBAG"

MESSAGE_SCHEMA = T.StructType(
    [
        T.StructField("offset", T.LongType(), False),
        T.StructField("time_ns", T.LongType(), False),
        T.StructField("conn_id", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ]
)


@dataclass
class ConnectionInfo:
    conn_id: int
    topic: str
    datatype: str
    md5sum: str
    msg_def: str
    # optional rosbag connection-header extras (reference records them in
    # Connections, FlattenedRosWriter.cpp:209-224); absent in SBAG fixtures
    callerid: str | None = None
    latching: str | None = None


# ------------------------------------------------------------------ writer


def write_bag(
    path: str,
    connections: list[ConnectionInfo],
    messages: list[tuple[int, int, bytes]],  # (conn_id, time_ns, payload)
) -> None:
    """Write a bag file (tests + fixtures; the reference writes its test bag
    the same way, rosbag2parquet_test.cpp:160-197)."""
    with open(path, "wb") as f:
        f.write(MAGIC)
        f.write(struct.pack("<I", len(connections)))
        for c in connections:
            f.write(struct.pack("<I", c.conn_id))
            for s in (c.topic, c.datatype, c.md5sum):
                b = s.encode()
                f.write(struct.pack("<H", len(b)) + b)
            b = c.msg_def.encode()
            f.write(struct.pack("<I", len(b)) + b)
        for conn_id, time_ns, payload in messages:
            f.write(struct.pack("<I", 12 + len(payload)))
            f.write(struct.pack("<IQ", conn_id, time_ns))
            f.write(payload)


def bag_format(path: str) -> "str | None":
    """Detect the bag grammar from MAGIC BYTES: ``'rosbag'`` (the public
    rosbag 2.0 version line) | ``'sbag'`` | ``None``. Content wins over
    extension — a rosbag with a nonstandard extension must still dispatch
    to the rosbag reader, not be parsed as SBAG and fail mid-fleet."""
    try:
        with open(path, "rb") as f:
            head = f.read(13)
    except OSError:
        return None
    if head.startswith(b"#ROSBAG V2.0\n"):  # rosbag.py's MAGIC (no circular import)
        return "rosbag"
    if head[:4] == MAGIC:
        return "sbag"
    if head.startswith(b"SQLite format"):  # rosbag2 .db3 storage container
        return "rosbag2"
    if head.startswith(b"\x89MCAP0\r\n"):  # MCAP container
        return "mcap"
    return None


def _read_exact(f, n: int, path: str) -> bytes:
    """``f.read(n)`` checked for short reads: a file cut mid-field returns
    PARTIAL bytes that would otherwise decode silently (struct.error only
    fires when a later fixed-size unpack happens to run short)."""
    b = f.read(n)
    if len(b) != n:
        raise ValueError(
            f"{path}: truncated SBAG header at byte {f.tell()} "
            f"(wanted {n} bytes, got {len(b)})"
        )
    return b


def read_header(path: str) -> tuple[list[ConnectionInfo], int]:
    """Parse the connection header; return (connections, msg_region_start).
    Truncation anywhere in the header raises a clear ValueError (every read
    is length-checked) — never a silent partial header."""
    with open(path, "rb") as f:
        if f.read(4) != MAGIC:
            raise ValueError(f"{path}: not an SBAG file")
        (n_conn,) = struct.unpack("<I", _read_exact(f, 4, path))
        conns = []
        for _ in range(n_conn):
            (cid,) = struct.unpack("<I", _read_exact(f, 4, path))
            strs = []
            for _ in range(3):
                (ln,) = struct.unpack("<H", _read_exact(f, 2, path))
                strs.append(_read_exact(f, ln, path).decode())
            (ln,) = struct.unpack("<I", _read_exact(f, 4, path))
            msg_def = _read_exact(f, ln, path).decode()
            conns.append(ConnectionInfo(cid, *strs, msg_def))
        return conns, f.tell()


def _index_offsets(path: str, start: int) -> list[int]:
    """One sequential pass over record-length prefixes → record offsets.
    Cheap (seeks only); the scan of payload bytes happens distributed."""
    offsets = []
    size = os.path.getsize(path)
    with open(path, "rb") as f:
        pos = start
        while pos + 4 <= size:
            f.seek(pos)
            (rec_len,) = struct.unpack("<I", f.read(4))
            if pos + 4 + rec_len > size:
                raise ValueError(
                    f"{path}: record at {pos} claims {rec_len} bytes but the "
                    f"file ends at {size} — truncated bag"
                )
            offsets.append(pos)
            pos += 4 + rec_len
    return offsets


# -------------------------------------------------------------- datasource


class _BagPartition(InputPartition):
    def __init__(self, path: str, offsets: list[int]):
        self.path = path
        self.offsets = offsets


class _BagReader(DataSourceReader):
    def __init__(self, options):
        self.path = options.get("path")
        self.n_partitions = int(options.get("numPartitions", "8"))
        # incremental-resume cursor: records below this byte offset are
        # dropped at PLAN time (the index walk is seeks-only; no payload
        # below the cursor is ever read by an executor)
        self.start_offset = int(options.get("startOffset", "0"))

    def partitions(self):
        _, start = read_header(self.path)
        offsets = _index_offsets(self.path, start)
        if self.start_offset:
            offsets = [o for o in offsets if o >= self.start_offset]
        if not offsets:  # header-only bag: one empty partition, zero rows
            return [_BagPartition(self.path, [])]
        n = max(1, min(self.n_partitions, len(offsets)))
        chunk = (len(offsets) + n - 1) // n
        return [
            _BagPartition(self.path, offsets[i : i + chunk])
            for i in range(0, len(offsets), chunk)
        ]

    #: rows per Arrow batch — bounds task memory for blob-heavy bags
    BATCH_ROWS = 2048

    def read(self, partition: _BagPartition):
        # yield pyarrow RecordBatches, not row tuples: the Python DataSource
        # row path serializes per record (measured ~3× slower on a 95 MB
        # blob-dominated bag); Arrow batches move columnar buffers
        import pyarrow as pa

        offs: list[int] = []
        times: list[int] = []
        conns: list[int] = []
        blobs: list[bytes] = []

        def batch():
            return pa.record_batch(
                [
                    pa.array(offs, pa.int64()),
                    pa.array(times, pa.int64()),
                    pa.array(conns, pa.int32()),
                    pa.array(blobs, pa.binary()),
                ],
                names=["offset", "time_ns", "conn_id", "data"],
            )

        with open(partition.path, "rb") as f:
            for off in partition.offsets:
                f.seek(off)
                (rec_len,) = struct.unpack("<I", f.read(4))
                # corrupt-record guards (the reference asserts full
                # consumption): rec_len < 12 would turn the payload read
                # into read-to-EOF and silently swallow the partition
                if rec_len < 12:
                    raise ValueError(
                        f"{partition.path}@{off}: record length {rec_len} < 12"
                    )
                conn_id, time_ns = struct.unpack("<IQ", f.read(12))
                payload = f.read(rec_len - 12)
                if len(payload) != rec_len - 12:
                    raise ValueError(
                        f"{partition.path}@{off}: truncated record — expected "
                        f"{rec_len - 12} payload bytes, got {len(payload)}"
                    )
                offs.append(off)
                times.append(time_ns)
                conns.append(conn_id)
                blobs.append(payload)
                if len(offs) >= self.BATCH_ROWS:
                    yield batch()
                    offs, times, conns, blobs = [], [], [], []
        if offs:
            yield batch()


class BagDataSource(DataSource):
    """spark.read.format("sbag").option("path", ...).load() — registered via
    ``spark.dataSource.register(BagDataSource)`` (the custom-source plan
    SURVEY.md §4 item 1 calls for)."""

    @classmethod
    def name(cls) -> str:
        return "sbag"

    def schema(self):
        return MESSAGE_SCHEMA

    def reader(self, schema):
        return _BagReader(self.options)


def register(spark: SparkSession) -> None:
    spark.dataSource.register(BagDataSource)


def read_bag(
    spark: SparkSession,
    path: str,
    num_partitions: int = 8,
    start_offset: "int | None" = None,
) -> DataFrame:
    register(spark)
    reader = (
        spark.read.format("sbag")
        .option("path", path)
        .option("numPartitions", str(num_partitions))
    )
    if start_offset is not None:
        reader = reader.option("startOffset", str(int(start_offset)))
    return reader.load()
