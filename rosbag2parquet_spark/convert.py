"""The end-to-end converter — the reference's whole program, Spark-first.

Reference lifecycle (``rosbag2parquet()``, rosbag2parquet.cpp:41-63 +
FlattenedRosWriter.cpp): scan the log once; per message emit metadata into
``Messages``; route the payload to a lazily-created per-type table with
flattened columns; attach ``connection_id`` and the raw blob; at close, write
``Connections`` and flush every table as SNAPPY parquet.

Spark formulation — one declarative DAG instead of a fused imperative loop:

- the "bag" is any DataFrame with (time, type, connection, payload) columns
  (fixtures: the ``events`` table — FIXTURES.md §3);
- global ``seqno`` via the scalable two-pass plan (operators.keys);
- ``Connections`` is a tiny dim distilled from the stream (distinct keys →
  dense ids via a broadcast-joined lookup);
- per-type demux is ONE partitioned write (``partitionBy(datatype)``) — the
  distributed analog of the reference's ``m_pertype`` routing map
  (FlattenedRosWriter.cpp:273-289): each output partition directory is a
  per-type table, and readers get partition pruning for free (the reference's
  "don't scan lidar to read GPS" goal, README.md:2-4);
- row-group sizing: the reference buffers 255 MB then flushes
  (TableBuffer.h:32, TableBuffer.cpp:164-174); Spark's parquet writer does
  the same internally — we expose ``maxRecordsPerFile``/block size knobs
  instead of reimplementing buffering.

Returns the same summary the reference's library API returns
(``info{bagname, count, size}``, rosbag2parquet.h:6-10).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from rosbag2parquet_spark.plans.ddl import load_script
from rosbag2parquet_spark.sources import ConnRow, conn_dim_df, open_bag, read_messages
from rosbag2parquet_spark.sources.msgdef import table_name_for_type
from rosbag2parquet_spark.sources.protobuf import PROTOBUF_DEF_PREFIX
from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX


@dataclass
class ConvertInfo:
    """Reference `info` struct (rosbag2parquet.h:6-10)."""

    bagname: str
    count: int
    size: float


def schema_fingerprint(schema) -> str:
    """md5 over the canonical (name, type) column list — the engine's analog
    of the reference's per-type md5sum identity (`assert(msg.getMD5Sum() ==
    iter->second.md5sum)`, FlattenedRosWriter.cpp:287): two datasets may
    share a table only if their schemas are identical. Nullability and
    metadata are excluded: parquet round-trips them lossily (everything
    reads back nullable), and the reference's md5 covers field layout, not
    constraints."""
    import hashlib

    canon = ";".join(f"{f.name}:{f.dataType.simpleString()}" for f in schema.fields)
    return hashlib.md5(canon.encode()).hexdigest()


def _read_existing_schema(spark: SparkSession, path: str):
    """The existing table's schema under the mergeSchema determinism rule
    (see the callers' docstrings). On an EXTERNALLY-produced table whose
    files carry genuinely conflicting types for one column, Spark's
    schema merge itself fails — re-raised here as the append guard's
    structured refusal (r12 advisor), so incompatible tables are
    rejected with the same actionable never-silently-coerced message on
    both code paths instead of surfacing a raw merge exception."""
    try:
        return spark.read.option("mergeSchema", "true").parquet(path).schema
    except Exception as e:
        # only the schema-merge conflict is ours to translate; anything
        # else (missing files, corrupt footers, permissions) keeps its
        # original face. Match Spark's merge-error markers, not a loose
        # substring — an unrelated error whose text embeds a path like
        # /data/merged/... must not be misclassified (r13 review)
        msg = str(e).lower()
        if not any(
            marker in msg
            for marker in (
                "failed to merge",
                "failed merging schema",
                "cannot_merge",
            )
        ):
            raise
        raise ValueError(
            f"append to {path}: existing files carry conflicting types "
            f"for the same column (schema merge failed: "
            f"{str(e).splitlines()[0]}) — type changes are never "
            "silently coerced"
        ) from e


def assert_append_compatible(spark: SparkSession, path: str, schema, evolve: bool = False):
    """Refuse to append into an existing table whose schema fingerprint
    differs — silent unionByName coercion would mask exactly the drift the
    reference's md5 assert exists to catch.

    ``evolve=True`` relaxes the guard to ADDITIVE evolution (the real-world
    fleet case the reference's hard md5 assert cannot ingest at all: a
    message definition gained or lost fields between recording sessions):
    columns present on BOTH sides must have identical types — a changed
    type is still refused — while added/removed columns are allowed; the
    caller pads the incoming batch to the union so every new file carries
    a superset schema. Returns the existing on-disk schema (None when the
    table doesn't exist yet) so the caller can pad.

    The existing schema is read with mergeSchema — the same determinism
    rule as `_pad_append_trailing` (r12): on a table whose files carry
    different (superset) schemas — repeated evolve appends, or the
    bag_index-mixed vintage — a plain read samples an arbitrary footer,
    making the evolve union pad (and the strict fingerprint verdict)
    vary run to run; the merged schema is the true union and is stable."""
    if not os.path.isdir(path):
        return None
    existing = _read_existing_schema(spark, path)
    if evolve:
        old = {f.name: f.dataType.simpleString() for f in existing.fields}
        new = {f.name: f.dataType.simpleString() for f in schema.fields}
        clash = sorted(n for n in old.keys() & new.keys() if old[n] != new[n])
        if clash:
            raise ValueError(
                f"evolve-append to {path}: column type conflicts "
                + ", ".join(f"{n}: {old[n]} != {new[n]}" for n in clash)
                + " (type changes are never silently coerced)"
            )
        return existing
    fp_old, fp_new = schema_fingerprint(existing), schema_fingerprint(schema)
    if fp_old != fp_new:
        raise ValueError(
            f"schema mismatch appending to {path}: existing md5 {fp_old} != "
            f"incoming {fp_new} (existing: {existing.simpleString()}, "
            f"incoming: {schema.simpleString()})"
        )
    return existing


#: the stream converter's per-type FIXED metadata columns, in layout
#: order (seqno, time, size, <flattened payload>, connection_id, data,
#: bag_index, datatype) — the single source for both the payload
#: reserved-name sanitization and the pertype select
_STREAM_PERTYPE_META = (
    "seqno", "time", "size", "connection_id", "data", "bag_index",
    "datatype",
)

#: Messages columns added AFTER the reference's 5-column layout, in the
#: order they were introduced (r8: the TODO-#6 header-stamp pair; r9: the
#: TODO-#7 derived timestamp; r10: the file-provenance ordinal of
#: FlattenedRosWriter.cpp:183). They are always TRAILING, so any older
#: layout's Messages schema is a column-prefix of a newer batch's.
_MESSAGES_OPTIONAL = ("header_stamp_sec", "header_stamp_nsec", "time", "bag_index")


def _pad_append_messages(
    spark: SparkSession, msg_path: str, messages: DataFrame
) -> DataFrame:
    """Append path for Messages across SCHEMA VINTAGES: a layout converted
    before the header-stamp pair (r8) or the derived ``time`` column (r9)
    must stay appendable — when the only difference is that the incoming
    batch carries trailing optional columns the on-disk files lack, the
    batch PROJECTS DOWN to the on-disk column set (never the reverse:
    old files are immutable, and NULL-padding them on read would claim
    the old batches recorded stamps they didn't). Any other difference
    still refuses via the fingerprint guard. (The shared projection rule
    lives in `_pad_append_trailing` — one implementation for Messages and
    the per-type tables, so the vintage semantics cannot drift.)"""
    messages = _pad_append_trailing(
        spark, msg_path, messages, optional=_MESSAGES_OPTIONAL
    )
    assert_append_compatible(spark, msg_path, messages.schema)
    return messages


def _pad_append_trailing(
    spark: SparkSession,
    path: str,
    df: DataFrame,
    optional: tuple = ("bag_index",),
) -> DataFrame:
    """Per-type analog of :func:`_pad_append_messages`: per-type tables
    gained a trailing ``bag_index`` provenance column in r11 (reference
    TODO FlattenedRosWriter.cpp:183 asks for a file ID on ALL entries) —
    appending into an older-vintage table PROJECTS the batch DOWN to the
    on-disk column set (old files are immutable; per-row ordinals simply
    don't exist there and the provenance reader falls back to the seqno
    join). Any other difference still refuses via the fingerprint guard.

    The existing schema is read with mergeSchema: on a MIXED-vintage table
    (some files stamped, some not) a plain read samples an arbitrary
    footer, so whether the batch keeps or projects away the stamp would be
    nondeterministic run to run (reads stay correct via the mixed marker,
    but the file vintages written would diverge unpredictably). The merged
    schema is deterministic — it includes the stamp, so strict appends
    into a mixed table keep stamping."""
    if not os.path.isdir(path):
        return df
    existing = _read_existing_schema(spark, path)
    have = [f.name for f in existing.fields]
    extra = [c for c in df.columns if c not in have]
    if (
        extra
        and set(extra) <= set(optional)
        and set(have) <= set(df.columns)
    ):
        projected = df.select(*have)
        if schema_fingerprint(projected.schema) == schema_fingerprint(existing):
            return projected
    return df


def read_layout_table(spark: SparkSession, layout_dir: str, table: str) -> DataFrame:
    """Read a converted-layout table with schema merging ON — required for
    layouts built with ``evolve=True`` appends, where files carry different
    (superset) schemas; harmless elsewhere (one footer more to read)."""
    return (
        spark.read.option("mergeSchema", "true")
        .parquet(os.path.join(layout_dir, table))
    )


#: marker file an evolve-append drops in a per-type table dir when it
#: stamps bag_index into a table whose older files predate the stamp —
#: the O(1) mixed-vintage signal `pertype_with_provenance` dispatches on
#: (underscore-prefixed, so parquet listings ignore it). The evolve
#: append is the only converter path that can create a mix (the strict
#: path projects the batch down); a mix assembled by hand outside the
#: converter API must carry the marker too.
_BAG_INDEX_MIXED_MARKER = "_bag_index_mixed"


def _all_files_have_column(table_dir: str, column: str) -> bool:
    """True iff EVERY parquet file under ``table_dir`` carries ``column``
    in its footer schema — the exhaustive homogeneity check (driver-side
    metadata reads, O(#files)). The provenance READER dispatches on the
    O(1) `_BAG_INDEX_MIXED_MARKER` instead; this helper is the
    verification tool tests pin the marker contract with."""
    import pyarrow.parquet as _pq

    found = False
    for root, _dirs, files in os.walk(table_dir):
        for fn in files:
            if not fn.endswith(".parquet"):
                continue
            found = True
            if column not in _pq.read_schema(os.path.join(root, fn)).names:
                return False
    return found


def checked_union(a: DataFrame, b: DataFrame) -> DataFrame:
    """unionByName guarded by schema-fingerprint equality (reference
    FlattenedRosWriter.cpp:287) — multi-file union-as-one-table (E6) is only
    sound for identical schemas."""
    fa, fb = schema_fingerprint(a.schema), schema_fingerprint(b.schema)
    if fa != fb:
        raise ValueError(
            f"union of incompatible schemas: {a.schema.simpleString()} vs "
            f"{b.schema.simpleString()}"
        )
    return a.unionByName(b)


#: codecs every Spark 3.5+/4.x build writes and every mainstream parquet
#: reader (Spark, DuckDB, pyarrow, Trino) reads back
_COMPRESSIONS = ("snappy", "zstd", "gzip", "lz4", "uncompressed")


def _check_compression(codec: str) -> None:
    if codec not in _COMPRESSIONS:
        raise ValueError(
            f"compression must be one of {_COMPRESSIONS}, got {codec!r}"
        )


def convert(
    spark: SparkSession,
    stream: DataFrame,
    out_dir: str,
    *,
    time_col: str = "ts",
    type_col: str = "event_type",
    conn_col: str = "user_id",
    size_col: str = "value",
    payload_col: str = "props",
    max_mbs: float | None = None,
    max_records_per_file: int = 1_000_000,
    order_cols: list[str] | None = None,
    payload_schema=None,
    mode: str = "overwrite",
    compression: str = "snappy",
    bag_index: int | None = None,
) -> ConvertInfo:
    """Convert a message-stream DataFrame into the reference's output layout:
    ``Messages``, ``Connections``, and per-type partitioned tables under
    ``out_dir``. ``max_mbs`` reproduces the reference's byte-bounded scan
    limit (rosbag2parquet.cpp:56-58). ``mode='append'`` adds to an existing
    output ONLY if every table's schema fingerprint matches (the reference's
    md5sum identity check, FlattenedRosWriter.cpp:287). ``compression``:
    the reference hardcodes SNAPPY (MessageTable.cpp:324); ``zstd`` trades
    ~15-25% more CPU for markedly smaller files — usually the right call
    when the output is read many times at 100 TB."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    _check_compression(compression)

    # ---- seqno: global order in stream order (reference FlattenedRosWriter.cpp:256)
    # via the scalable two-pass plan (range shuffle + per-partition offsets —
    # operators.keys.assign_seqno); no single-partition exchange anywhere.
    # Pass order_cols ending in a unique column for a well-defined total order.
    from rosbag2parquet_spark.operators.keys import assign_seqno

    msg_path = os.path.join(out_dir, "Messages")
    conn_path = os.path.join(out_dir, "Connections")

    seq = assign_seqno(stream, order_cols or [time_col, conn_col])
    if mode == "append" and os.path.isdir(msg_path):
        # the reference declares seqno unique within the output
        # (FlattenedRosWriter.cpp:57) and README makes it the cross-table
        # join key — an appended batch continues after the existing max
        # (parquet column stats make the max a metadata-only read)
        prev_max = spark.read.parquet(msg_path).agg(F.max("seqno")).collect()[0][0]
        if prev_max is not None:
            seq = seq.withColumn(
                "seqno", (F.col("seqno") + F.lit(prev_max + 1)).cast("long")
            )

    if max_mbs is not None:
        # byte-bounded limit (reference rosbag2parquet.cpp:56-58) — the
        # bucketed two-pass running sum over seqno (contiguous ints → dense
        # buckets); window partitioned by bucket, no global-order window
        from rosbag2parquet_spark.operators.relational import running_sum_scalable

        seq = (
            running_sum_scalable(
                seq, "seqno", F.col(size_col).cast("decimal(18,4)"), 1_000_000
            )
            .filter(F.col("__running") <= max_mbs * (1 << 20))
            .drop("__b", "__running")
        )

    seq = seq.cache()  # read by three sinks below — one materialization

    # ---- Connections dim (reference FlattenedRosWriter.cpp:90-137, 209-224):
    # distinct (connection, datatype) keys → dense connection_id. On append,
    # keys already in the existing dim KEEP their ids (only genuinely-new
    # keys are appended, numbered after the existing max) — blind re-append
    # wrote duplicate rows with conflicting id→callerid mappings.
    conn_dtype = stream.schema[conn_col].dataType
    keys = seq.select(
        F.col(conn_col).alias("callerid"), F.col(type_col).alias("datatype")
    ).distinct()
    base_id = 0
    existing_conns = None
    if mode == "append" and os.path.isdir(conn_path):
        existing_conns = spark.read.parquet(conn_path)
        base_id = (
            existing_conns.agg(F.max("connection_id")).collect()[0][0] or -1
        ) + 1
        keys = keys.join(
            F.broadcast(
                existing_conns.select(
                    F.col("callerid").cast(conn_dtype).alias("callerid"),
                    "datatype",
                )
            ),
            on=["callerid", "datatype"],
            how="left_anti",
        )
    conn_w = Window.orderBy("callerid", "datatype")
    connections = (
        keys
        .withColumn("connection_id", F.row_number().over(conn_w) - 1 + base_id)
        .select(
            "connection_id",
            F.concat(F.lit("/topic/"), F.col("datatype")).alias("topic"),
            "datatype",
            F.md5(F.concat_ws("|", "callerid", "datatype")).alias("md5sum"),
            F.lit("").alias("msg_def"),
            F.col("callerid").cast("string").alias("callerid"),
        )
    )

    # connection resolution = broadcast hash probe (reference's unordered_map,
    # FlattenedRosWriter.cpp:172-178). callerid is cast back to the STREAM's
    # conn_col dtype — a hardcoded numeric cast would silently NULL every
    # connection_id for string connection keys. On append the probe side is
    # the UNION of kept existing ids and freshly-numbered new keys.
    full_dim = (
        connections
        if existing_conns is None
        else connections.unionByName(existing_conns)
    )
    lookup = full_dim.select(
        "connection_id",
        F.col("callerid").cast(conn_dtype).alias(conn_col),
        F.col("datatype").alias(type_col),
    )
    resolved = seq.join(F.broadcast(lookup), on=[conn_col, type_col], how="left")

    # ---- Messages table (reference FlattenedRosWriter.cpp:180-207):
    # (seqno, time_sec, time_nsec, size, connection_id) — the reference's
    # exact column set (README.md:26-32); time decomposed per S7
    # floor semantics via non-negative pmod (integer-exact; `div` truncates
    # toward zero, which would yield negative nsec for pre-epoch timestamps)
    us = F.unix_micros(F.col(time_col))
    rem = F.pmod(us, F.lit(1_000_000))
    sec = F.expr(f"(unix_micros(`{time_col}`) - pmod(unix_micros(`{time_col}`), 1000000)) div 1000000")
    messages = resolved.select(
        "seqno",
        sec.cast("int").alias("time_sec"),
        (rem * 1000).cast("int").alias("time_nsec"),
        F.col(size_col).alias("size"),
        "connection_id",
        # SBAG payloads are JSON — no leading ros Header to extract; the
        # column pair exists so every converter emits ONE Messages shape
        # (reference TODO #6: "adding nulls for msgs without header stamp")
        F.lit(None).cast("int").alias("header_stamp_sec"),
        F.lit(None).cast("int").alias("header_stamp_nsec"),
        # reference TODO #7 ("want native timestamps"): the derived
        # TimestampType view of the same instant, MICROSECOND precision
        # (parquet TIMESTAMP(MICROS); the sec/nsec pair remains the
        # bit-exact ns-precision record) — trailing so older layouts stay
        # a column-prefix (see _pad_append_messages)
        F.col(time_col).alias("time"),
        # file provenance (reference TODO FlattenedRosWriter.cpp:183) —
        # NULL by default on this path (a DataFrame stream has no source
        # file), but a caller converting a KNOWN batch of a larger corpus
        # passes its ordinal so appended conversions stay distinguishable
        # (the DataFrame analog of the fleet path's per-bag stamp)
        F.lit(bag_index).cast("int").alias("bag_index"),
    )
    # per-connection batch stats (reference TODO #2/#2.1) — same shape as
    # the bag converters' Stats table
    stats = resolved.groupBy("connection_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_messages"),
        (F.min(F.unix_micros(F.col(time_col))) * 1000).alias("min_time_ns"),
        (F.max(F.unix_micros(F.col(time_col))) * 1000).alias("max_time_ns"),
        F.sum(F.col(size_col).cast("long")).cast("long").alias("total_bytes"),
    )
    stats_path = os.path.join(out_dir, "Stats")

    writer_opts = {
        "maxRecordsPerFile": str(max_records_per_file),
        "compression": compression,
    }
    if mode == "append":
        messages = _pad_append_messages(spark, msg_path, messages)
        assert_append_compatible(spark, conn_path, connections.schema)
        assert_append_compatible(spark, stats_path, stats.schema)
    messages.write.options(**writer_opts).mode(mode).parquet(msg_path)
    # append writes only the genuinely-new dim rows (existing ids kept)
    connections.write.options(**writer_opts).mode(mode).parquet(conn_path)
    stats.write.options(**writer_opts).mode(mode).parquet(stats_path)

    # ---- per-type demux: ONE partitioned write (reference GetHandler routing,
    # FlattenedRosWriter.cpp:273-289). Layout per MessageTable.cpp:326-343:
    # seqno, flattened payload fields, connection_id, raw data blob. The
    # payload is decoded and recursively flattened (S5) when a schema is
    # given; the raw blob is carried verbatim regardless
    # (FlattenedRosWriter.cpp:229-253).
    flat_cols = []
    if payload_schema is not None:
        from rosbag2parquet_spark.operators.keys import flatten_select_cols

        resolved = resolved.withColumn(
            "__payload", F.from_json(F.col(payload_col), payload_schema)
        )
        # reserved = this table's fixed metadata columns (the single
        # tuple the select below is built from): a payload field named
        # data/bag_index/... sanitizes with trailing underscores (the bag
        # decoders' msgdef.RESERVED_COLUMNS rule), so the stamp below —
        # and the provenance reader's column dispatch — is UNCONDITIONAL
        flat_cols = flatten_select_cols(
            payload_schema, "__payload",
            reserved=frozenset(_STREAM_PERTYPE_META),
        )

    # write-time provenance stamp on the per-type rows too (reference
    # TODO FlattenedRosWriter.cpp:183 "we should add a file ID to ALL
    # entries"): map-side literal, so pertype_with_provenance is a
    # projection + broadcast name resolve — no seqno join. Trailing
    # (before the partition column), like Messages' optional columns.
    # Column order follows _STREAM_PERTYPE_META — extend that tuple, not
    # this select, when adding a metadata column.
    meta_exprs = {
        "seqno": F.col("seqno"),
        "time": F.col(time_col).alias("time"),
        "size": F.col(size_col).alias("size"),
        "connection_id": F.col("connection_id"),
        "data": F.col(payload_col).cast("binary").alias("data"),
        "bag_index": F.lit(bag_index).cast("int").alias("bag_index"),
        "datatype": F.col(type_col).alias("datatype"),
    }
    assert set(meta_exprs) == set(_STREAM_PERTYPE_META)
    head = [meta_exprs[c] for c in ("seqno", "time", "size")]
    tail = [
        meta_exprs[c]
        for c in ("connection_id", "data", "bag_index", "datatype")
    ]
    pertype = resolved.select(*head, *flat_cols, *tail)
    pertype_path = os.path.join(out_dir, "pertype")
    if mode == "append":
        # older-vintage layouts (pre-r11 per-type tables) lack the trailing
        # stamp — project the batch down rather than refuse
        pertype = _pad_append_trailing(spark, pertype_path, pertype)
        assert_append_compatible(spark, pertype_path, pertype.schema)
    (
        # sortWithinPartitions, NOT repartition(datatype): hashing on the
        # type key alone collapses each type onto ONE reducer (a bag is
        # usually dominated by one blob-heavy type — reference README.md:89)
        # and shuffles every payload byte. Sorting within the existing
        # partitions keeps the write fully parallel, zero-shuffle, and the
        # committer still emits one file per (task, type) under each
        # partition directory.
        pertype.sortWithinPartitions("datatype")
        .write.options(**writer_opts)
        .mode(mode)
        .partitionBy("datatype")
        .parquet(pertype_path)
    )

    # ---- DDL script (reference S17: vertica_load_tables.sql, utils.h:99-136)
    tables = {
        "Messages": messages.schema,
        "Connections": connections.schema,
        "Stats": stats.schema,
    }
    for row in full_dim.select("datatype").distinct().collect():
        tables[table_name_for_type(row.datatype)] = pertype.drop("datatype").schema
    with open(os.path.join(out_dir, "load_tables.sql"), "w") as f:
        f.write(load_script(tables))

    count = seq.count()
    size = seq.agg(F.sum(size_col)).collect()[0][0] or 0.0
    seq.unpersist()
    return ConvertInfo(bagname=out_dir, count=count, size=float(size))


def convert_bag(
    spark: SparkSession,
    bag_path: str,
    out_dir: str,
    *,
    num_partitions: int = 32,
    arrays: str = "skip",
    unsigned: str = "signed",
    topics: "list[str] | None" = None,
    start_ns: "int | None" = None,
    end_ns: "int | None" = None,
    max_mbs: "float | None" = None,
    max_records_per_file: int = 1_000_000,
    compression: str = "snappy",
    msgdefs: "dict[str, str] | None" = None,
    on_error: str = "fail",
) -> ConvertInfo:
    """The reference's whole program over a real bag file (.bag = rosbag
    2.0, .db3 = ROS 2 rosbag2 sqlite3 storage with CDR payloads — schema
    read from the embedded ``message_definitions`` table when present
    (Iron+), else supplied via ``msgdefs`` — else SBAG): one
    FLATTENED typed table per message type — each
    decoded with its own msg_def through the schema compiler — plus the
    ``Messages``/``Connections`` metadata tables and DDL script. Layout per
    reference MessageTable.cpp:305-343: seqno, flattened fields,
    connection_id, raw data blob.

    Plan shape: the bag scans once per consumer (cached); seqno is the
    bucketed two-pass rank of the in-file offset (unique, bag-ordered);
    each per-type table is a connection-filtered slice decoded via the
    vectorized mapInPandas tiers and stitched to its global seqno by an
    offset-keyed join (offset is unique, so the join is 1:1).
    ``arrays='blobs'`` additionally extracts uint8[] payload fields as
    binary columns (multimodal mode).

    ``topics``/``start_ns``/``end_ns`` convert a SUBSET (the classic
    `rosbag filter` workflow): topic selection prunes whole connections
    BEFORE the scan consumes their payloads (the filter pushes to the
    conn_id column the source emits), the time range is a scan filter, and
    seqno renumbers contiguously over the kept rows — the output is a
    self-contained layout, not a view."""
    from rosbag2parquet_spark.operators.keys import assign_seqno

    _validate_convert_paths(bag_path, out_dir)
    if os.path.isdir(bag_path):
        # a recorded rosbag2 DIRECTORY (metadata.yaml + storage shards) —
        # the multi-shard fleet path with the manifest's stream order
        if topics is not None or start_ns is not None or end_ns is not None:
            raise ValueError(
                "topics/start_ns/end_ns subset conversion is per-file; "
                "convert the directory without filters or pass one shard"
            )
        return convert_bags(
            spark,
            bag_path,
            out_dir,
            num_partitions=num_partitions,
            arrays=arrays,
            unsigned=unsigned,
            max_mbs=max_mbs,
            max_records_per_file=max_records_per_file,
            compression=compression,
            msgdefs=msgdefs,
            on_error=on_error,
        )

    # start/end/topics push into the SOURCE plan where the container can
    # skip (rosbag ChunkInfo, MCAP ChunkIndex, the .db3 sqlite WHERE);
    # read_messages applies them exactly either way
    bag = open_bag(bag_path, msgdefs)
    fmt = bag.format
    conn_rows = list(bag.conn_rows)
    keep_ids = None
    if topics is not None:
        wanted = set(topics)
        conn_rows = [r for r in conn_rows if r.topic in wanted]
        if not conn_rows:
            raise ValueError(
                f"no connections match topics {topics!r} in {bag_path}"
            )
        keep_ids = [r.connection_id for r in conn_rows]
    _require_msg_defs(bag_path, conn_rows)
    serialization = bag.serialization
    msgs = read_messages(
        spark, bag, num_partitions, start_ns=start_ns, end_ns=end_ns,
        conn_ids=keep_ids, on_error=on_error,
    )

    # explicit bucket sized to THIS bag's offset encoding: the default
    # integer bucket (div 100000) makes ~2^shift/1e5 map entries per chunk
    # on the sparse (chunk_index << shift) offsets — a planning blow-up on
    # multi-GB bags (ADVICE r2)
    seq = assign_seqno(
        msgs, ["offset"], bucket=F.expr(f"offset div {bag.width}")
    )
    if max_mbs is not None:
        # the reference's byte-bounded scan limit applies to BAG input
        # (rosbag2parquet.cpp:56-58: stop once cumulative payload bytes
        # pass the cap) — the bucketed two-pass running sum over seqno,
        # same construction as the stream converter's
        from rosbag2parquet_spark.operators.relational import (
            running_sum_scalable,
        )

        seq = (
            running_sum_scalable(
                seq, "seqno",
                F.length("data").cast("decimal(18,4)"), 1_000_000,
            )
            .filter(F.col("__running") <= max_mbs * (1 << 20))
            .drop("__b", "__running")
        )
    seq = seq.cache()
    att_df = None
    md_df = None
    if fmt == "mcap":
        # MCAP side-car files (calibration YAML, intrinsics, URDF —
        # Attachment records; rosbag has no analog) land as their own
        # table so nothing in the bag is left behind — SAME 7-column
        # provenance shape as the fleet path (bag_index/bag), so single
        # and fleet conversions interchange and appends fingerprint-match
        from rosbag2parquet_spark.sources.mcap import mcap_attachments

        rows = [
            (0, os.path.basename(bag_path), n, m, lt, ct, bytes(d))
            for lt, ct, n, m, d in mcap_attachments(bag_path)
        ]
        if rows:
            att_df = spark.createDataFrame(rows, _ATTACHMENTS_SCHEMA)
        md_rows = _metadata_rows(bag_path, 0)
        if md_rows:
            md_df = spark.createDataFrame(md_rows, _METADATA_SCHEMA)
    # the Bags manifest (one row, ordinal 0) — single and fleet layouts
    # resolve provenance identically; resume re-ingests the SAME file, so
    # its append passes no manifest delta (the row already stands)
    bags_df = spark.createDataFrame(
        [(0, os.path.basename(bag_path), bag_path, fmt)], _BAGS_SCHEMA
    )
    count, size = _write_bag_tables(
        seq,
        conn_rows,
        out_dir,
        arrays=arrays,
        unsigned=unsigned,
        max_records_per_file=max_records_per_file,
        compression=compression,
        serialization=serialization,
        on_error=on_error,
        attachments_df=att_df,
        metadata_df=md_df,
        bags_df=bags_df,
    )
    if (
        topics is None and start_ns is None and end_ns is None
        and max_mbs is None
    ):
        # complete, unfiltered conversion: record the incremental-resume
        # cursor so a GROWN bag (the .db3 recorder appends rows in place)
        # can convert only its delta later (resume_convert_bag)
        tail = seq.agg(
            F.max("offset").alias("mo"),
            F.max_by("time_ns", "offset").alias("lt"),
        ).collect()[0]
        _write_ingest_state(
            out_dir, bag_path, fmt,
            last_offset=tail.mo, last_time_ns=tail.lt,
            count=count, arrays=arrays, unsigned=unsigned,
            serialization=serialization,
        )
    seq.unpersist()
    return ConvertInfo(bagname=bag_path, count=count, size=float(size))


#: incremental-resume sidecar, written beside the layout tables by every
#: complete unfiltered single-bag conversion
INGEST_STATE = "_ingest_state.json"


def _write_ingest_state(
    out_dir: str,
    bag_path: str,
    fmt: str,
    *,
    last_offset: "int | None",
    last_time_ns: "int | None",
    count: int,
    arrays: str,
    unsigned: str,
    serialization: str,
) -> None:
    state = {
        "version": 1,
        "bag": os.path.basename(bag_path),
        "format": fmt,
        # cursor: first unconverted offset (rowid for .db3, byte offset
        # for SBAG); (last_offset, last_time_ns) is the identity probe a
        # resume re-reads from the bag to prove the converted prefix is
        # still the same recording (a re-recorded bag must not silently
        # append-corrupt the layout)
        "next_offset": (last_offset + 1) if last_offset is not None else 0,
        "last_offset": last_offset,
        "last_time_ns": last_time_ns,
        "count": int(count),
        "arrays": arrays,
        "unsigned": unsigned,
        "serialization": serialization,
    }
    if fmt == "sbag":
        from rosbag2parquet_spark.sources.baglike import read_header

        # offsets are header-relative byte positions: a changed header
        # (new connections declared) shifts every record — the resume
        # refuses when this moves
        state["msg_region_start"] = read_header(bag_path)[1]
    if fmt == "mcap":
        # the MCAP cursor is the CHUNK index (synthetic message offsets
        # can re-encode as the file grows, but a real appender never
        # rewrites closed chunks): store the converted chunk-prefix
        # length plus the last chunk's identity so a re-recorded file is
        # detected before any write
        state.update(_mcap_chunk_cursor(bag_path))
    tmp = os.path.join(out_dir, INGEST_STATE + ".tmp")
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, os.path.join(out_dir, INGEST_STATE))


def _mcap_chunk_cursor(bag_path: str) -> dict:
    from rosbag2parquet_spark.sources.mcap import scan_mcap

    scan = scan_mcap(bag_path)
    cur = {"n_chunks": len(scan.chunks)}
    if scan.chunks:
        last = scan.chunks[-1]
        cur["last_chunk"] = {
            "records_off": last.records_off,
            "records_size": last.records_size,
            "start_time": last.start_time,
            "end_time": last.end_time,
        }
    return cur


def _probe_last_row(bag_path: str, fmt: str, offset: int) -> "int | None":
    """time_ns of the record at ``offset``, or None if absent — the
    identity probe resume uses (O(1): one b-tree lookup / one seek)."""
    if fmt == "rosbag2":
        import sqlite3

        con = sqlite3.connect(f"file:{bag_path}?mode=ro", uri=True)
        try:
            row = con.execute(
                "SELECT timestamp FROM messages WHERE id = ?", (int(offset),)
            ).fetchone()
        finally:
            con.close()
        return None if row is None else int(row[0])
    import struct

    size = os.path.getsize(bag_path)
    if offset + 16 > size:
        return None
    with open(bag_path, "rb") as f:
        f.seek(offset)
        rec_len, _conn, time_ns = struct.unpack("<IIQ", f.read(16))
    if rec_len < 12 or offset + 4 + rec_len > size:
        return None
    return time_ns


def resume_convert_bag(
    spark: SparkSession,
    bag_path: str,
    out_dir: str,
    *,
    num_partitions: int = 32,
    max_records_per_file: int = 1_000_000,
    compression: str = "snappy",
    msgdefs: "dict[str, str] | None" = None,
    on_error: str = "fail",
) -> ConvertInfo:
    """Convert only the DELTA of a bag that has GROWN since the layout was
    built — the live-recording ingest shape (a ROS 2 .db3 recorder INSERTs
    rows into the same file for hours; re-converting the whole bag per
    pass is O(bag), this is O(new rows)).

    The cursor comes from the ``_ingest_state.json`` sidecar every
    complete unfiltered :func:`convert_bag` writes. Correctness rests on
    an append-stable cursor, supported per grammar: ``.db3`` (sqlite
    rowids; the WHERE id >= cursor rides the primary-key b-tree), SBAG
    (byte offsets under pure append, pruned at PLAN time), and MCAP
    (the cursor is the CHUNK index — a real appender extends the chunk
    list and rewrites only the summary, so already-converted chunks drop
    at PLAN time; delta offsets stay monotone after the prefix even if
    the offset shift re-encodes, because seqno is assigned within the
    delta only). rosbag 2.0 is refused (an appended .bag needs a reindex
    that may reframe chunks; its ingest story is the fleet append over
    new FILES, convert_bags(mode='append')). Before touching anything
    the identity of the converted prefix is proven — .db3/SBAG re-read
    the last converted record and compare its timestamp, MCAP compares
    the last converted chunk's (offset, size, time-bounds) identity — so
    a re-recorded (restarted) bag at the same path is refused instead of
    silently append-corrupting the layout. New messages append with
    seqno continuing after the existing max; new connections (new topics
    mid-recording — normal for .db3/MCAP) extend the dim keeping
    existing ids; new MCAP attachments diff-append; every touched table
    passes the schema-fingerprint guard. Resuming after growth equals
    converting the grown bag in one shot — test-pinned.

    The reference has no incremental story (rosbag2parquet.cpp converts
    whole files); this is the operational upgrade a 100 TB fleet needs."""
    from rosbag2parquet_spark.operators.keys import assign_seqno

    state_path = os.path.join(out_dir, INGEST_STATE)
    if not os.path.isfile(state_path):
        raise ValueError(
            f"{out_dir}: no {INGEST_STATE} — resume needs a layout built "
            "by a complete unfiltered convert_bag (filtered/fleet layouts "
            "carry no cursor)"
        )
    with open(state_path) as f:
        state = json.load(f)
    bag = open_bag(bag_path, msgdefs)
    fmt = bag.format
    if os.path.basename(bag_path) != state["bag"] or fmt != state["format"]:
        raise ValueError(
            f"{bag_path} ({fmt}) does not match the layout's recorded bag "
            f"{state['bag']} ({state['format']})"
        )
    if fmt == "rosbag":
        raise ValueError(
            "resume is not supported for rosbag: an appended .bag needs a "
            "reindex that may reframe chunks; ingest new FILES via "
            "convert_bags(mode='append') instead"
        )
    if fmt == "sbag" and state.get("msg_region_start") is not None:
        from rosbag2parquet_spark.sources.baglike import read_header

        now_start = read_header(bag_path)[1]
        if now_start != state["msg_region_start"]:
            raise ValueError(
                f"{bag_path}: header changed since conversion "
                f"({state['msg_region_start']} -> {now_start} bytes) — "
                "byte offsets shifted; re-convert from scratch"
            )

    _require_msg_defs(bag_path, bag.conn_rows)

    arrays = state["arrays"]
    unsigned = state["unsigned"]
    serialization = state["serialization"]
    att_df = None
    md_df = None
    start_offset = start_chunk = None
    if fmt == "mcap":
        from rosbag2parquet_spark.sources.mcap import scan_mcap

        scan = scan_mcap(bag_path)
        n_prev = int(state["n_chunks"])
        if len(scan.chunks) < n_prev:
            raise ValueError(
                f"{bag_path}: {len(scan.chunks)} chunks, layout converted "
                f"{n_prev} — the bag shrank (re-recorded); re-convert"
            )
        if n_prev:
            last = scan.chunks[n_prev - 1]
            want = state["last_chunk"]
            got = {
                "records_off": last.records_off,
                "records_size": last.records_size,
                "start_time": last.start_time,
                "end_time": last.end_time,
            }
            if got != want:
                raise ValueError(
                    f"{bag_path}: chunk {n_prev - 1} identity changed "
                    f"({want} -> {got}) — the bag was re-recorded, not "
                    "grown; re-convert from scratch"
                )
        if bag.serialization != serialization:
            raise ValueError(
                f"{bag_path}: serialization changed since conversion"
            )
        start_chunk = n_prev
        att_df = _new_attachments_df(spark, bag_path, out_dir)
        md_df = _new_metadata_df(spark, bag_path, out_dir)
    else:
        if state["last_offset"] is not None:
            got = _probe_last_row(bag_path, fmt, state["last_offset"])
            if got != state["last_time_ns"]:
                raise ValueError(
                    f"{bag_path}: record at offset {state['last_offset']} "
                    f"has time_ns {got}, layout recorded "
                    f"{state['last_time_ns']} — the bag was re-recorded, "
                    "not grown; re-convert from scratch"
                )
        start_offset = int(state["next_offset"])
    msgs = read_messages(
        spark, bag, num_partitions, start_offset=start_offset,
        start_chunk=start_chunk, on_error=on_error,
    )

    # dim reconciliation: existing ids are kept verbatim; a grown bag may
    # DECLARE new connections (new topics mid-recording) — those append.
    # An existing id whose identity changed means a different recording.
    existing = {
        r.connection_id: tuple(r)
        for r in spark.read.parquet(
            os.path.join(out_dir, "Connections")
        ).collect()
    }
    # new_rows is always a list (possibly EMPTY) — None under append would
    # re-write the full dim as duplicate rows
    new_rows = []
    for r in bag.conn_rows:
        if r.connection_id in existing:
            if tuple(r) != existing[r.connection_id]:
                raise ValueError(
                    f"connection {r.connection_id} changed identity since "
                    f"conversion: {existing[r.connection_id]} -> {tuple(r)}"
                )
        else:
            new_rows.append(r)
    cached = assign_seqno(
        msgs, ["offset"], bucket=F.expr(f"offset div {bag.width}")
    ).cache()
    seq = cached
    tail = seq.agg(
        F.count("*").alias("n"),
        F.max("offset").alias("mo"),
        F.max_by("time_ns", "offset").alias("lt"),
    ).collect()[0]
    if tail.n == 0 and att_df is None and md_df is None:
        cached.unpersist()
        return ConvertInfo(bagname=bag_path, count=0, size=0.0)
    prev_max = (
        spark.read.parquet(os.path.join(out_dir, "Messages"))
        .agg(F.max("seqno")).collect()[0][0]
    )
    if prev_max is not None:
        seq = seq.withColumn(
            "seqno", (F.col("seqno") + F.lit(int(prev_max) + 1)).cast("long")
        )
    count, size = _write_bag_tables(
        seq,
        bag.conn_rows,
        out_dir,
        arrays=arrays,
        unsigned=unsigned,
        max_records_per_file=max_records_per_file,
        compression=compression,
        serialization=serialization,
        on_error=on_error,
        mode="append",
        new_conn_rows=new_rows,
        attachments_df=att_df,
        metadata_df=md_df,
    )
    _write_ingest_state(
        out_dir, bag_path, fmt,
        last_offset=tail.mo, last_time_ns=tail.lt,
        count=int(state["count"]) + count,
        arrays=arrays, unsigned=unsigned, serialization=serialization,
    )
    cached.unpersist()
    return ConvertInfo(bagname=bag_path, count=count, size=float(size))


def _new_attachments_df(
    spark: SparkSession, bag_path: str, out_dir: str
) -> "DataFrame | None":
    """Attachments of the grown MCAP NOT yet in the layout's Attachments
    table (identity = the full record tuple) — a resume appends exactly
    the side-car files the recorder added since the last pass."""
    from rosbag2parquet_spark.sources.mcap import mcap_attachments

    bag = os.path.basename(bag_path)
    rows = [
        (0, bag, n, m, lt, ct, bytes(d))
        for lt, ct, n, m, d in mcap_attachments(bag_path)
    ]
    if not rows:
        return None
    att_path = os.path.join(out_dir, "Attachments")
    seen = set()
    if os.path.isdir(att_path):
        seen = {
            (r.bag, r.name, r.media_type, r.log_time, r.create_time,
             bytes(r.data))
            for r in spark.read.parquet(att_path).collect()
        }
    fresh = [r for r in rows if (r[1], *r[2:6], r[6]) not in seen]
    if not fresh:
        return None
    return spark.createDataFrame(fresh, _ATTACHMENTS_SCHEMA)


def _new_metadata_df(
    spark: SparkSession, bag_path: str, out_dir: str
) -> "DataFrame | None":
    """Metadata rows of the grown MCAP NOT yet in the layout's Metadata
    table (identity = the full flattened row) — new named key-value
    records the recorder added since the last pass diff-append."""
    rows = _metadata_rows(bag_path, 0)
    if not rows:
        return None
    md_path = os.path.join(out_dir, "Metadata")
    seen = set()
    if os.path.isdir(md_path):
        seen = {
            (r.bag, r.name, r.key, r.value)
            for r in spark.read.parquet(md_path).collect()
        }
    fresh = [r for r in rows if (r[1], r[2], r[3], r[4]) not in seen]
    if not fresh:
        return None
    return spark.createDataFrame(fresh, _METADATA_SCHEMA)


#: MCAP side-car attachments with bag provenance — ONE shape for single-bag
#: and fleet conversions (bag_index is the batch-relative bag ordinal,
#: continued across appends like seqno)
_ATTACHMENTS_SCHEMA = (
    "bag_index int, bag string, name string, media_type string, "
    "log_time long, create_time long, data binary"
)

#: MCAP named key-value Metadata records (recorder version, vehicle id —
#: the spec's other side-car class) flattened to one row per key, SAME
#: bag provenance as Attachments so the two tables' ordinals agree
_METADATA_SCHEMA = (
    "bag_index int, bag string, name string, key string, value string"
)

#: fleet manifest — one row per source bag per conversion, the table the
#: reference TODO's "file ID" (FlattenedRosWriter.cpp:183) resolves
#: through: Messages.bag_index → (bag name, path, grammar). Written by
#: `convert_bags` for EVERY grammar (Metadata/Attachments exist only
#: where the container format carries them; the manifest always does)
_BAGS_SCHEMA = "bag_index int, bag string, path string, format string"


def _metadata_rows(bag_path: str, bag_index: int) -> list:
    """Metadata records of one MCAP as _METADATA_SCHEMA rows; an empty-map
    record keeps a (name, NULL, NULL) row so the record itself survives."""
    from rosbag2parquet_spark.sources.mcap import mcap_metadata

    base = os.path.basename(bag_path)
    rows = []
    for name, kv in mcap_metadata(bag_path):
        items = list(kv.items()) or [(None, None)]
        rows += [(bag_index, base, name, k, v) for k, v in items]
    return rows


def _pad_union(datatype: str, frames: "list[DataFrame]") -> DataFrame:
    """Union per-definition-version frames of one type, padding each to the
    union column set with typed NULLs; a column typed differently across
    versions is refused (never silently coerced). Single-frame calls (the
    non-evolve norm) return the frame untouched."""
    if len(frames) == 1:
        return frames[0]
    types: dict[str, object] = {}
    for f in frames:
        for fld in f.schema.fields:
            seen = types.get(fld.name)
            if seen is not None and seen.simpleString() != fld.dataType.simpleString():
                raise ValueError(
                    f"{datatype}: column {fld.name!r} typed "
                    f"{seen.simpleString()} and {fld.dataType.simpleString()} "
                    "across definition versions (type changes are never "
                    "silently coerced)"
                )
            types.setdefault(fld.name, fld.dataType)
    out = None
    for f in frames:
        missing = [n for n in types if n not in set(f.columns)]
        for n in missing:
            f = f.withColumn(n, F.lit(None).cast(types[n]))
        f = f.select(*types.keys())
        out = f if out is None else out.unionByName(f)
    return out


def _leading_stamp_offset(
    datatype: str, msg_def: str, serialization: str
) -> "int | None":
    """Payload byte offset (0-based; CDR offsets include the 4-byte
    encapsulation) of the leading std_msgs/Header's stamp — 8 bytes of
    little-endian (sec, nsec) int32 pairs — or None when the type does
    not lead with a fixed-prefix Header (reference TODO #6,
    rosbag2parquet.cpp:27: "emit a header timestamp to the same global
    parquet table (requires adding nulls for msgs without header
    stamp)"). Handles both Header shapes: ros1 (uint32 seq, time stamp,
    string frame_id — stamp at +4) and ros2 (builtin_interfaces/Time
    stamp first — stamp at the origin)."""
    from rosbag2parquet_spark.sources.decode import _FIXED_SIZE
    from rosbag2parquet_spark.sources.jsonschema import JSON_DEF_PREFIX
    from rosbag2parquet_spark.sources.msgdef import (
        TIME_TYPES,
        _resolve,
        parse_msgdef,
    )
    from rosbag2parquet_spark.sources.protobuf import PROTOBUF_DEF_PREFIX

    if serialization not in ("ros1", "cdr") or not msg_def.strip():
        return None
    if msg_def.startswith((PROTOBUF_DEF_PREFIX, JSON_DEF_PREFIX)):
        return None
    try:
        specs = parse_msgdef(datatype, msg_def)
        root = specs[datatype]
    except Exception:
        return None
    if not root.fields:
        return None
    f0 = root.fields[0]
    if f0.is_array or f0.type_name.rsplit("/", 1)[-1] != "Header":
        return None
    pkg = root.full_name.split("/")[0] if "/" in root.full_name else ""
    hdr = _resolve(f0.type_name, pkg, specs)
    if hdr is None:
        return None
    off = 4 if serialization == "cdr" else 0  # CDR: post-encapsulation

    def align(o: int, sz: int) -> int:
        if serialization != "cdr":
            return o
        return o + (-(o - 4)) % min(sz, 8)

    for f in hdr.fields:
        if f.is_array:
            return None
        if f.type_name in TIME_TYPES:
            return align(off, 4)
        if f.type_name not in _FIXED_SIZE:
            # the ros2 spelling: builtin_interfaces/Time stamp — a nested
            # struct of exactly two 4-byte ints (sec, nanosec)
            sub = _resolve(f.type_name, pkg, specs)
            if (
                f.name == "stamp"
                and sub is not None
                and len(sub.fields) == 2
                and all(
                    (not sf.is_array)
                    and _FIXED_SIZE.get(sf.type_name) == 4
                    for sf in sub.fields
                )
            ):
                return align(off, 4)
            return None
        sz = _FIXED_SIZE[f.type_name]
        off = align(off, sz) + sz
    return None


def _le32_sql(off0: int) -> str:
    """Little-endian uint32 at 0-based payload offset ``off0`` as a pure
    Catalyst expression (per-byte hex -> conv -> shift; 4 JVM-side terms,
    no Python): the blob-prefix read the header-stamp column rides on."""
    return (
        "("
        + " + ".join(
            f"shiftleft(CAST(conv(hex(substring(data, {off0 + 1 + i}, 1)),"
            f" 16, 10) AS BIGINT), {8 * i})"
            for i in range(4)
        )
        + ")"
    )


def _header_stamp_exprs(
    conn_rows, serialization: str
) -> "tuple[str, str]":
    """(sec_sql, nsec_sql) for the Messages table's nullable
    ``header_stamp_sec``/``header_stamp_nsec`` columns: connections whose
    type leads with a fixed-prefix Header decode the stamp JVM-side from
    the raw blob prefix (grouped by byte offset — one CASE arm per
    distinct offset, not per connection); everything else is NULL. A
    too-short payload is NULL, not garbage."""
    by_off: "dict[int, list[int]]" = {}
    for c in conn_rows:
        o = _leading_stamp_offset(c.datatype, c.msg_def, serialization)
        if o is not None:
            by_off.setdefault(o, []).append(c.connection_id)
    if not by_off:
        return "CAST(NULL AS INT)", "CAST(NULL AS INT)"
    def _as_i32(u32_sql: str) -> str:
        # EXPLICIT signed reinterpretation (u32 >= 2^31 -> negative), the
        # reference's own INT32 storage for time pairs. A bare
        # CAST(long AS INT) is NOT safe here: under ANSI mode (Spark 4's
        # default) an overflowing cast throws instead of wrapping —
        # caught by the edge-value equivalence test.
        return (
            f"CAST({u32_sql} - CASE WHEN {u32_sql} >= 2147483648"
            f" THEN 4294967296 ELSE 0 END AS INT)"
        )

    # CDR payloads declare their endianness in the encapsulation header
    # (bytes 0-1: 0x0001 = little-endian CDR). The typed decoders gate on
    # it per message; Messages is written BEFORE the per-type decode runs,
    # so without this guard a big-endian payload would land garbage stamps
    # here before the typed pass fails loudly — non-LE payloads yield NULL
    # stamps instead (advisor r8).
    le_guard = (
        " AND substring(data, 1, 2) = X'0001'"
        if serialization == "cdr"
        else ""
    )
    sec, nsec = "CASE", "CASE"
    for o, cids in sorted(by_off.items()):
        ids = ",".join(str(i) for i in sorted(cids))
        guard = f"conn_id IN ({ids}) AND length(data) >= {o + 8}{le_guard}"
        sec += f" WHEN {guard} THEN {_as_i32(_le32_sql(o))}"
        nsec += f" WHEN {guard} THEN {_as_i32(_le32_sql(o + 4))}"
    return sec + " ELSE CAST(NULL AS INT) END", nsec + " ELSE CAST(NULL AS INT) END"


def _validate_convert_paths(in_path: str, out_dir: str) -> None:
    """Reference TODO #1 (rosbag2parquet.cpp:21: "check input/output path
    validity before opening rosbag — want to fail quickly"): an invalid
    output must fail BEFORE any scan/decode work, not after it."""
    if not os.path.exists(in_path):
        raise FileNotFoundError(f"input bag not found: {in_path}")
    parent = os.path.dirname(os.path.abspath(out_dir)) or "."
    if not os.path.isdir(parent):
        raise NotADirectoryError(
            f"output parent directory does not exist: {parent}"
        )
    if not os.access(parent, os.W_OK):
        raise PermissionError(f"output parent not writable: {parent}")
    if os.path.isfile(out_dir):
        raise NotADirectoryError(f"output path is a file: {out_dir}")


def _write_bag_tables(
    seq: DataFrame,
    conn_rows: "list[ConnRow]",
    out_dir: str,
    *,
    arrays: str,
    max_records_per_file: int,
    unsigned: str = "signed",
    compression: str = "snappy",
    serialization: str = "ros1",
    on_error: str = "fail",
    mode: str = "overwrite",
    evolve: bool = False,
    new_conn_rows: "list[ConnRow] | None" = None,
    attachments_df: "DataFrame | None" = None,
    metadata_df: "DataFrame | None" = None,
    bags_df: "DataFrame | None" = None,
    base_bag_index: int = 0,
) -> tuple[int, float]:
    """Shared table-writing tail of :func:`convert_bag`/:func:`convert_bags`:
    ``seq`` already carries ``seqno``; write ``Messages``, ``Connections``,
    one flattened typed table per datatype, and the DDL script.

    ``seq`` rows carry seqno and the raw blob through the decoder in one
    pass (keep_cols) — no stitch join; see the inline comment at the
    per-type decode.

    ``mode='append'`` adds the batch to an existing layout: every touched
    table passes the schema-fingerprint guard (the reference's md5 identity
    check, FlattenedRosWriter.cpp:287), new per-type tables create their
    own dirs, and ``new_conn_rows`` (the genuinely-NEW dim rows only)
    land on disk while the full ``conn_rows`` still drive the per-type
    decode."""
    if mode not in ("overwrite", "append"):
        raise ValueError(f"mode must be overwrite|append, got {mode!r}")
    if serialization == "cdr":
        from rosbag2parquet_spark.sources.rosbag2 import (
            decode_messages_cdr as decode_messages,
        )
    else:
        from rosbag2parquet_spark.sources.decode import decode_messages

    # tiny dim, driver-side (reference snapshots it at open)
    conns_out = conn_dim_df(
        seq.sparkSession,
        conn_rows if new_conn_rows is None else new_conn_rows,
    )
    _check_compression(compression)

    # ---- Messages (seqno, time_sec, time_nsec, size, connection_id)
    writer_opts = {
        "maxRecordsPerFile": str(max_records_per_file),
        "compression": compression,
    }
    sec = F.expr("(time_ns - pmod(time_ns, 1000000000)) div 1000000000")
    # per-row FILE-PROVENANCE ordinal (reference TODO FlattenedRosWriter.
    # cpp:183 "we should add a file ID to all entries") — stamped into
    # Messages AND (since r11) every per-type table. Fleet seq frames
    # carry the batch-relative index; single-bag conversions are ordinal
    # base_bag_index (0 for a fresh layout; a resume re-ingests the SAME
    # file, so the ordinal stays).
    bag_ordinal = (
        (F.col("bag_index") + F.lit(base_bag_index)).cast("int")
        if "bag_index" in seq.columns
        else F.lit(base_bag_index).cast("int")
    )
    # header stamp (reference TODO #6): nullable int32 pair decoded from
    # the blob prefix for Header-led types, NULL for everything else
    hs_sec, hs_nsec = _header_stamp_exprs(conn_rows, serialization)
    messages = seq.select(
        "seqno",
        sec.cast("int").alias("time_sec"),
        F.pmod("time_ns", F.lit(1_000_000_000)).cast("int").alias("time_nsec"),
        F.length("data").alias("size"),
        F.col("conn_id").alias("connection_id"),
        F.expr(hs_sec).alias("header_stamp_sec"),
        F.expr(hs_nsec).alias("header_stamp_nsec"),
        # reference TODO #7 ("want native timestamps"): derived
        # TimestampType at MICROSECOND precision (floor of time_ns/1000 —
        # explicit floor semantics so pre-1970 stamps round down like
        # every bucket derivation here); the sec/nsec pair remains the
        # bit-exact ns record. Trailing column — older layouts stay a
        # prefix (see _pad_append_messages)
        F.timestamp_micros(
            F.expr("(time_ns - pmod(time_ns, 1000)) div 1000")
        ).alias("time"),
        # the provenance ordinal (shared expression above) — the same one
        # the Attachments/Metadata side-cars carry, resolvable to a path
        # via the Bags/Metadata tables. Trailing — older layouts stay a
        # prefix.
        bag_ordinal.alias("bag_index"),
    )
    # per-connection batch statistics (reference TODO #2/#2.1: the
    # `rosbag info` aggregates persisted beside the layout): shares the
    # cached scan, appends one row per (batch, connection) — exact global
    # per-connection stats are a tiny rollup of this table
    stats = seq.groupBy(F.col("conn_id").alias("connection_id")).agg(
        F.count(F.lit(1)).cast("long").alias("n_messages"),
        F.min("time_ns").alias("min_time_ns"),
        F.max("time_ns").alias("max_time_ns"),
        F.sum(F.length("data").cast("long")).cast("long").alias("total_bytes"),
    )
    msg_path = os.path.join(out_dir, "Messages")
    conn_path = os.path.join(out_dir, "Connections")
    stats_path = os.path.join(out_dir, "Stats")

    # ---- per-type grouping + identity validation BEFORE any write: a
    # refused append (md5 disagreement, schema drift) must leave the
    # existing layout untouched, not half-appended
    by_type: dict[str, list] = {}
    for c in conn_rows:
        by_type.setdefault(c.datatype, []).append(c)
    for datatype, cs in sorted(by_type.items()):
        # reference asserts one frozen schema per type (md5 identity,
        # FlattenedRosWriter.cpp:287); under evolve, definition VERSIONS of
        # a type may coexist (each connection decodes with its own def and
        # the table pads to the union — the per-type loop below)
        md5s = {c.md5sum for c in cs}
        if len(md5s) > 1 and not evolve:
            raise ValueError(
                f"{datatype}: connections disagree on md5sum {sorted(md5s)}"
            )

    # ---- one flattened typed table per datatype (lazy per-type handlers,
    # reference FlattenedRosWriter.cpp:273-289). The frames are BUILT AND
    # VALIDATED first (plan construction only, nothing executes) so every
    # refusal — strict fingerprint mismatch, evolve type conflict — fires
    # before ANY table is written; a refused append leaves the layout
    # untouched, never half-appended
    tables = {
        "Messages": messages.schema,
        "Connections": conns_out.schema,
        "Stats": stats.schema,
    }
    pertype_writes: list = []
    # the provenance ordinal rides THROUGH the decoders like seqno and the
    # raw blob (keep_cols): it is a 4-byte column already in the Arrow
    # batch, so stamping per-type tables at write time is map-side free —
    # the alternative (resolving it later via a seqno join against
    # Messages) shuffles the full-width per-type side at read time
    seq = seq.withColumn("__bag_index__", bag_ordinal)
    mark_mixed: set = set()  # table dirs that become mixed-vintage (evolve)
    for datatype, cs in sorted(by_type.items()):
        # one decode per DEFINITION VERSION: identical everywhere except
        # evolve mode, where connections of the same type may carry
        # different defs — each group decodes with ITS def and the groups
        # pad to the union (type conflicts refused by _pad_union)
        defgroups: dict[str, list] = {}
        for c in cs:
            defgroups.setdefault(c.msg_def, []).append(c)
        group_frames = []
        for msg_def, gcs in sorted(defgroups.items()):
            conn_ids = [c.connection_id for c in gcs]
            # seqno and the raw blob ride THROUGH the decoder (keep_cols)
            # instead of being stitched back by an offset join: the payload
            # already crosses into the Python worker to be decoded, so
            # returning it in the same Arrow batch is free — the join
            # formulation re-shuffled every blob byte a second time
            # (pertype stage on the 95 MB walkthrough: 3.6 s → 1.5 s cold,
            # 1.1 s → 0.8 s warm, same session A/B). The raw column is
            # renamed for the decode so a flattened payload field named
            # `data` (e.g. CompressedImage.data in blobs mode) cannot
            # capture it.
            slice_df = seq.filter(
                F.col("conn_id").isin(conn_ids)
            ).withColumnRenamed("data", "__raw__")
            if not msg_def.strip():
                # blob-preserving fallback: no decodable schema text for
                # this type (e.g. an MCAP ros2idl-encoded schema) — the
                # typed columns are absent but nothing is lost: seqno +
                # connection + the raw payload blob still land, and a
                # later pass with real msgdefs can flatten from this
                # table alone
                flat = slice_df.select(
                    "seqno", "conn_id", "__raw__", "__bag_index__"
                )
            elif msg_def.startswith(PROTOBUF_DEF_PREFIX):
                # protobuf channel (MCAP schema encoding 'protobuf'): the
                # msg_def slot carries the marked FileDescriptorSet; the
                # protobuf tier flattens with the same column conventions
                # as the ros decoders (sources/protobuf.py)
                from rosbag2parquet_spark.sources.protobuf import (
                    decode_messages_protobuf,
                )

                flat = decode_messages_protobuf(
                    slice_df,
                    datatype,
                    msg_def,
                    data_col="__raw__",
                    keep_cols=("seqno", "conn_id", "__raw__", "__bag_index__"),
                    arrays=arrays,
                    unsigned=unsigned,
                    on_error=on_error,
                )
            elif msg_def.startswith(JSON_DEF_PREFIX):
                # jsonschema channel (MCAP schema encoding 'jsonschema'):
                # decodes ENTIRELY JVM-side — from_json against the
                # schema-compiled StructType, no Python worker at all
                from rosbag2parquet_spark.sources.jsonschema import (
                    decode_messages_json,
                )

                flat = decode_messages_json(
                    slice_df,
                    datatype,
                    msg_def,
                    data_col="__raw__",
                    keep_cols=("seqno", "conn_id", "__raw__", "__bag_index__"),
                    arrays=arrays,
                    unsigned=unsigned,
                    on_error=on_error,
                )
            else:
                flat = decode_messages(
                    slice_df,
                    datatype,
                    msg_def,
                    data_col="__raw__",
                    keep_cols=("seqno", "conn_id", "__raw__", "__bag_index__"),
                    arrays=arrays,
                    unsigned=unsigned,
                    on_error=on_error,
                )
            group_frames.append(
                flat.withColumnRenamed("conn_id", "connection_id")
                .withColumnRenamed("__raw__", "data")
            )
        pertype = _pad_union(datatype, group_frames)
        # column order per MessageTable.cpp:326-343, plus the trailing r11
        # provenance stamp. The stamp is UNCONDITIONAL: a payload field
        # named bag_index sanitizes to bag_index_ in every decoder tier
        # (msgdef.RESERVED_COLUMNS), which the provenance reader's column
        # dispatch relies on — enforce the invariant loudly.
        value_cols = [
            c for c in pertype.columns
            if c not in ("seqno", "connection_id", "data", "__bag_index__")
        ]
        if "bag_index" in value_cols:
            raise AssertionError(
                f"{datatype}: decoder emitted a payload column named "
                "bag_index (RESERVED_COLUMNS sanitization must rename it)"
            )
        pertype = pertype.select(
            "seqno", *value_cols, "connection_id", "data",
            F.col("__bag_index__").alias("bag_index"),
        )
        table = table_name_for_type(datatype)
        table_path = os.path.join(out_dir, table)
        if mode == "append":
            if not evolve:
                # pre-r11 vintages: per-type tables without the trailing
                # stamp stay appendable (the batch projects down; evolve
                # mode instead treats bag_index as an additive column)
                pertype = _pad_append_trailing(
                    pertype.sparkSession, table_path, pertype
                )
            existing = assert_append_compatible(
                pertype.sparkSession, table_path, pertype.schema,
                evolve=evolve,
            )
            if (
                evolve
                and existing is not None
                and "bag_index" not in {f.name for f in existing.fields}
            ):
                # this append introduces the stamp into a table whose
                # older files predate it — the table becomes MIXED-vintage
                # and the provenance reader must take the seqno join (the
                # O(1) dispatch marker, written with the table below)
                mark_mixed.add(table_path)
            if evolve and existing is not None:
                # pad the batch to the UNION schema: columns the layout has
                # that this batch's definition dropped land as NULLs, so
                # every new file carries a superset schema; earlier files
                # keep theirs — read evolved layouts with mergeSchema=true
                # (the DDL script and read_layout_table do)
                missing = [
                    f for f in existing.fields
                    if f.name not in set(pertype.columns)
                ]
                for f in missing:
                    pertype = pertype.withColumn(
                        f.name, F.lit(None).cast(f.dataType)
                    )
                vals = [
                    c for c in pertype.columns
                    if c not in ("seqno", "connection_id", "data", "bag_index")
                ]
                # the stamp stays trailing unless the strict pad already
                # projected it away for an older-vintage table
                tail = (
                    ["bag_index"] if "bag_index" in pertype.columns else []
                )
                pertype = pertype.select(
                    "seqno", *vals, "connection_id", "data", *tail
                )
        pertype_writes.append((table, table_path, pertype))

    if mode == "append":
        messages = _pad_append_messages(
            messages.sparkSession, msg_path, messages
        )
        assert_append_compatible(messages.sparkSession, stats_path, stats.schema)
    # Messages goes FIRST and alone: its scan populates the `seq` cache
    # every later table reads; racing another job here would make both
    # compute the uncached partitions instead of one filling them for all
    messages.write.options(**writer_opts).mode(mode).parquet(msg_path)
    for table, table_path, pertype in pertype_writes:
        if table_path in mark_mixed:
            # the marker lands BEFORE the append commits: a crash between
            # the two must fail SAFE (a spurious marker only forces the
            # always-correct seqno-join fallback; the reverse order would
            # leave a committed mixed table unmarked, and the fast path
            # would then NULL-fill pre-append rows). The table dir exists
            # here — mark_mixed only ever holds existing append targets.
            with open(
                os.path.join(table_path, _BAG_INDEX_MIXED_MARKER), "w"
            ):
                pass  # empty marker; presence is the signal
    # r13 (guide §2.6): Connections, Stats and the per-type tables are
    # INDEPENDENT jobs over the now-cached `seq` — submitted from a small
    # thread pool so each job's task tail back-fills the executors the
    # others free, instead of serializing ~4 full job latencies. Every
    # append guard (schema fingerprint, mixed-vintage marker) already ran
    # above, so ordering between these writes carries no correctness
    # weight; a failure in any write re-raises at result() and fails the
    # conversion exactly as the sequential form did.
    from concurrent.futures import ThreadPoolExecutor

    def _write_table(df: DataFrame, path: str) -> None:
        df.write.options(**writer_opts).mode(mode).parquet(path)

    with ThreadPoolExecutor(max_workers=4) as _pool:
        _futs = [
            _pool.submit(_write_table, conns_out, conn_path),
            _pool.submit(_write_table, stats, stats_path),
        ]
        _futs += [
            _pool.submit(_write_table, pertype, table_path)
            for _, table_path, pertype in pertype_writes
        ]
        for _f in _futs:
            _f.result()
    for table, _table_path, pertype in pertype_writes:
        tables[table] = pertype.schema

    if attachments_df is not None:
        att_path = os.path.join(out_dir, "Attachments")
        if mode == "append":
            # same fingerprint guard as every other table — the unified
            # 7-column provenance shape appends cleanly across batches
            assert_append_compatible(
                attachments_df.sparkSession, att_path, attachments_df.schema
            )
        attachments_df.write.options(**writer_opts).mode(mode).parquet(
            att_path
        )
        tables["Attachments"] = attachments_df.schema

    if metadata_df is not None:
        md_path = os.path.join(out_dir, "Metadata")
        if mode == "append":
            assert_append_compatible(
                metadata_df.sparkSession, md_path, metadata_df.schema
            )
        metadata_df.write.options(**writer_opts).mode(mode).parquet(md_path)
        tables["Metadata"] = metadata_df.schema

    if bags_df is not None:
        bags_path = os.path.join(out_dir, "Bags")
        if mode == "append":
            assert_append_compatible(
                bags_df.sparkSession, bags_path, bags_df.schema
            )
        bags_df.write.options(**writer_opts).mode(mode).parquet(bags_path)
        tables["Bags"] = bags_df.schema

    if mode == "append":
        # the DDL script must list EVERY table in the layout, including
        # per-type tables from earlier batches this append didn't touch —
        # enumerate the dirs on disk (schema reads are footer-only)
        spark = seq.sparkSession
        for d in sorted(os.listdir(out_dir)):
            p = os.path.join(out_dir, d)
            if d not in tables and os.path.isdir(p):
                try:
                    tables[d] = (
                        spark.read.option("mergeSchema", "true").parquet(p).schema
                    )
                except Exception:
                    pass  # non-table dir (e.g. checkpoints)
    with open(os.path.join(out_dir, "load_tables.sql"), "w") as f:
        f.write(load_script(tables))

    # one job for both scalars (was two back-to-back actions on the
    # same cached frame)
    _row = seq.agg(
        F.count(F.lit(1)).alias("__n"),
        F.sum(F.length("data")).alias("__sz"),
    ).collect()[0]
    return int(_row["__n"]), float(_row["__sz"] or 0)


#: conn_id slot width in the combined (bag_index, conn_id) remap key — bags
#: with more than a million connections don't exist (rosbag caps well below)
_CONN_KEY_STRIDE = 1 << 20

#: above this many (bag, conn) entries the remap ships as a broadcast dim
#: instead of a create_map literal (literal size grows the compiled plan
#: per task; a 10k-bag fleet would embed ~100k lit pairs in one expression)
_REMAP_LITERAL_MAX = 1000


def _remap_key_col():
    """``(bag_index, conn_id) -> one LONG key`` for the global-connection
    remap. LONG arithmetic is load-bearing: int32 silently wraps (non-ANSI)
    at ``bag_index >= 2048`` (2048 * 2^20 == 2^31), the probe misses, and
    rows vanish — exactly the fleet size this path exists for."""
    return (
        F.col("bag_index").cast("long") * F.lit(_CONN_KEY_STRIDE)
        + F.col("conn_id").cast("long")
    )


def _require_msg_defs(path: str, conn_rows) -> None:
    """Refuse, before any Spark job, connections whose definition text is
    unresolved (a pre-Iron .db3 embeds none) — the decode needs it."""
    missing = sorted({r.datatype for r in conn_rows if r.msg_def is None})
    if missing:
        raise ValueError(
            f"{path}: no message definition for {missing} — the bag embeds "
            "none (pre-Iron storage has no message_definitions table); "
            "pass msgdefs={type: text}"
        )


def _looks_like_bag(path: str) -> bool:
    """Directory-mode admission: magic bytes only. A stray README or a
    partial download next to the bags must be skipped, and anything
    admitted must also DISPATCH correctly — one detector serves both."""
    from rosbag2parquet_spark.sources.baglike import bag_format

    return bag_format(path) is not None


def resolve_bag_paths(bags: "str | list[str]") -> list[str]:
    """A directory (bag files inside, sorted), a glob pattern (sorted
    matches), a single file, or an explicit list (kept in the given order —
    the order IS the global stream order, reference README.md:16).

    Directory listings are filtered to bag files (extension or magic
    bytes) so stray non-bag files don't fail mid-conversion; an existing
    literal path wins over glob interpretation (a '[' in a plain filename
    is a filename, not a character class)."""
    import glob as _glob

    if not isinstance(bags, str):
        paths = list(bags)
    elif os.path.isdir(bags):
        from rosbag2parquet_spark.sources.rosbag2 import rosbag2_dir_shards

        # a recorded rosbag2 directory carries its own shard manifest —
        # metadata.yaml's relative_file_paths IS the stream order (replay
        # order; alphabetical sorting does not guarantee it)
        shards = rosbag2_dir_shards(bags)
        if shards is not None:
            return shards
        paths = sorted(
            p
            for p in _glob.glob(os.path.join(bags, "*"))
            if os.path.isfile(p) and _looks_like_bag(p)
        )
    elif not os.path.exists(bags) and any(ch in bags for ch in "*?["):
        paths = sorted(p for p in _glob.glob(bags) if os.path.isfile(p))
    else:
        paths = [bags]
    if not paths:
        raise ValueError(f"no bag files found for {bags!r}")
    return paths


def convert_bags(
    spark: SparkSession,
    bags: "str | list[str]",
    out_dir: str,
    *,
    num_partitions: int = 32,
    arrays: str = "skip",
    unsigned: str = "signed",
    max_mbs: "float | None" = None,
    max_records_per_file: int = 1_000_000,
    compression: str = "snappy",
    msgdefs: "dict[str, str] | None" = None,
    on_error: str = "fail",
    mode: str = "overwrite",
    evolve: bool = False,
) -> ConvertInfo:
    """Convert a FLEET of bags into ONE table layout — the reference's
    "multiple compatible parquet files can be treated as a single file"
    claim (README.md:16) made explicit: seqno is continuous across bags in
    input order, and the Connections dim is reconciled by identity (same
    (topic, datatype, md5sum, msg_def, callerid, latching) tuple in two
    bags → one global connection_id, first-seen order).

    ``mode='append'`` converts NEW bags into an EXISTING layout — the
    daily-ingest shape (a recorder fleet lands new bags; rewriting the
    100 TB layout per batch is a non-starter): seqno continues after the
    existing max (a parquet column-stats read), connection identities
    already in the dim KEEP their ids (only genuinely-new identities are
    appended, numbered after them), and every touched table passes the
    schema-fingerprint guard. Appending batch B onto converted A equals
    converting [A, B] in one fleet — test-pinned.

    All four grammars fleet (``.bag``/SBAG = ros1, ``.db3``/MCAP-ros1/
    MCAP-cdr), including a recorded rosbag2 DIRECTORY (metadata.yaml names
    the shards in stream order); the only constraint is a homogeneous
    payload serialization across the fleet — the per-type decode dispatches
    once per type, so a ros1+cdr mix is refused up front.

    Scale shape: the per-bag header walk is driver-side but O(#chunks)
    cheap and runs concurrently across files (thread pool — I/O bound);
    message payloads stream through the same Arrow-batched executor-side
    readers as the single-bag path, unioned into one DAG. Seqno uses the
    bucketed two-pass plan with a per-bag bucket-index slot, so the offset
    map stays ~64 entries per bag regardless of bag sizes."""
    from concurrent.futures import ThreadPoolExecutor

    from rosbag2parquet_spark.operators.keys import assign_seqno

    paths = resolve_bag_paths(bags)  # raises on an empty resolution
    for p in paths:
        _validate_convert_paths(p, out_dir)
        if not _looks_like_bag(p):
            raise ValueError(
                f"{p}: no rosbag 2.0, SBAG, ROS 2 .db3 or MCAP magic bytes "
                "— not a bag"
            )
    # one header walk per file, concurrently (I/O bound)
    with ThreadPoolExecutor(max_workers=min(8, len(paths))) as pool:
        opened = list(pool.map(lambda p: open_bag(p, msgdefs), paths))
    for bag in opened:
        _require_msg_defs(bag.path, bag.conn_rows)

    serializations = sorted({bag.serialization for bag in opened})
    if len(serializations) > 1:
        raise ValueError(
            f"fleet mixes payload serializations {serializations} — the "
            "per-type decode dispatches once per type; convert the "
            "generations into separate layouts"
        )
    serialization = serializations[0] if serializations else "ros1"

    # ---- global Connections dim: first-seen identity across bags.
    # In append mode the dim is SEEDED from the existing layout so prior
    # identities KEEP their ids (a convert_bag layout keeps bag-local ids,
    # so the seed is not necessarily dense); new identities number after
    # the existing max.
    gid: dict[tuple, int] = {}
    dim_rows: list[tuple] = []
    n_seeded = 0
    next_id = 0
    prev_max_seqno = -1
    if mode == "append":
        conn_path = os.path.join(out_dir, "Connections")
        if os.path.isdir(conn_path):
            existing = (
                spark.read.parquet(conn_path)
                .orderBy("connection_id")
                .collect()
            )
            raw_ids: dict[tuple, int] = {}
            for r in existing:
                raw = tuple(r)[1:]
                if raw in raw_ids:
                    raise ValueError(
                        f"{conn_path}: duplicate connection identity for "
                        f"ids {raw_ids[raw]} and {r.connection_id} — corrupt "
                        "dim; cannot append"
                    )
                raw_ids[raw] = r.connection_id
                # every existing id is taken, including a skipped spelling's
                next_id = max(next_id, r.connection_id + 1)
                # layouts written before callerid/latching were normalized
                # hold NULL where open_bag now reports "" — and an append
                # onto one may hold both spellings; the first id keeps it
                key = (
                    r.topic, r.datatype, r.md5sum, r.msg_def,
                    r.callerid or "", r.latching or "",
                )
                if key in gid:
                    continue
                gid[key] = r.connection_id
                dim_rows.append(ConnRow(r.connection_id, *key))
            n_seeded = len(gid)
        msg_path = os.path.join(out_dir, "Messages")
        if os.path.isdir(msg_path):
            prev_max_seqno = (
                spark.read.parquet(msg_path).agg(F.max("seqno")).collect()[0][0]
            )
            prev_max_seqno = -1 if prev_max_seqno is None else int(prev_max_seqno)
    remap: dict[int, int] = {}  # bag_index*STRIDE + local conn_id -> global
    for i, bag in enumerate(opened):
        for row in bag.conn_rows:
            key = tuple(row[1:])
            if key not in gid:
                gid[key] = next_id
                next_id += 1
                dim_rows.append(ConnRow(gid[key], *key))
            remap[i * _CONN_KEY_STRIDE + row.connection_id] = gid[key]
    if not remap:
        raise ValueError(f"no connections found in any of {len(paths)} bag(s)")

    # ---- one unioned message stream, conn ids remapped to the global dim.
    # num_partitions is the TOTAL scan parallelism, allocated to each bag
    # proportional to its bytes: giving every bag the full count multiplies
    # tiny Python-datasource tasks by the fleet size (a 10k-bag fleet would
    # plan 320k partitions; measured 2.4x slowdown at 4 bags already)
    sizes = [os.path.getsize(bag.path) for bag in opened]
    total_bytes = sum(sizes) or 1
    union = None
    for i, bag in enumerate(opened):
        nparts = max(1, round(num_partitions * sizes[i] / total_bytes))
        msgs = read_messages(spark, bag, nparts, on_error=on_error)
        msgs = msgs.withColumn("bag_index", F.lit(i))
        union = msgs if union is None else checked_union(union, msgs)
    key = _remap_key_col()
    if len(remap) <= _REMAP_LITERAL_MAX:
        # small fleet: a map LITERAL probes per row with no join at all
        pairs: list = []
        for k, g in remap.items():
            pairs.extend([F.lit(k).cast("long"), F.lit(g)])
        looked_up = F.create_map(*pairs)[key]
    else:
        # large fleet: a 100k-entry create_map is a plan-size blowup (every
        # task compiles the literal); ship the remap as a broadcast-joined
        # dim instead — same no-shuffle property for the stream side
        remap_df = spark.createDataFrame(
            [(k, g) for k, g in remap.items()], "__rk bigint, __rg int"
        )
        union = union.withColumn("__rk", key).join(
            F.broadcast(remap_df), "__rk", "left"
        )
        looked_up = F.col("__rg")
    # a conn_id in the stream but absent from the header scan is corrupt
    # input — fail loudly instead of silently dropping those rows downstream
    union = union.withColumn(
        "conn_id",
        F.when(looked_up.isNotNull(), looked_up).otherwise(
            F.raise_error(
                F.concat(F.lit("unmapped connection key: "), key.cast("string"))
            )
        ),
    )
    if len(remap) > _REMAP_LITERAL_MAX:
        union = union.drop("__rk", "__rg")

    # ---- continuous seqno across bags: bucket = bag slot + in-bag bucket.
    # One shared width (the coarsest bag's) keeps every bag ≤ ~64 buckets;
    # the slot bound M guarantees bucket monotonicity in (bag_index, offset).
    width = max(bag.width for bag in opened)
    slot = 1 + max(bag.max_offset // width for bag in opened)
    seq = assign_seqno(
        union,
        ["bag_index", "offset"],
        bucket=F.expr(f"bag_index * {slot} + (offset div {width})"),
    )
    if mode == "append" and prev_max_seqno >= 0:
        # seqno is the cross-table join key and unique within the layout
        # (FlattenedRosWriter.cpp:57) — continue after the existing max
        seq = seq.withColumn(
            "seqno", (F.col("seqno") + F.lit(prev_max_seqno + 1)).cast("long")
        )
    if max_mbs is not None:
        # byte-bounded limit across the whole fleet in seqno order (the
        # reference's --max_mbs, rosbag2parquet.cpp:56-58); under append
        # the cap applies to THIS batch (seqno is batch-contiguous)
        from rosbag2parquet_spark.operators.relational import (
            running_sum_scalable,
        )

        base = prev_max_seqno + 1 if mode == "append" else 0
        seq = (
            running_sum_scalable(
                seq.withColumn(
                    "__rel", (F.col("seqno") - F.lit(base)).cast("long")
                ),
                "__rel",
                F.length("data").cast("decimal(18,4)"),
                1_000_000,
            )
            .filter(F.col("__running") <= max_mbs * (1 << 20))
            .drop("__b", "__running", "__rel")
        )
    seq = seq.cache()

    # append writes only the genuinely-new dim rows; the decode still sees
    # the full dim (a type may span old and new connections)
    new_conn_rows = dim_rows[n_seeded:] if mode == "append" else None

    # MCAP side-car attachments across the fleet, with bag provenance —
    # the shared 7-column shape; under append, bag_index continues after
    # the existing max (a column-stats read, like seqno) so provenance
    # ordinals stay globally unique across ingest batches
    att_df = None
    md_df = None
    att_rows = []
    md_rows = []
    base_bag_index = 0
    if mode == "append":
        # shared base over EVERY provenance carrier (Messages since r10,
        # the Attachments/Metadata side-cars since r7) so one bag's
        # ordinal agrees across all three tables and ingest batches
        prevs = []
        for t in ("Attachments", "Metadata", "Messages", "Bags"):
            tp = os.path.join(out_dir, t)
            if os.path.isdir(tp):
                tdf = spark.read.parquet(tp)
                if "bag_index" in tdf.columns:  # pre-r10 Messages lack it
                    prevs.append(
                        tdf.agg(F.max("bag_index").alias("m")).collect()[0].m
                    )
        prevs = [p for p in prevs if p is not None]
        base_bag_index = (max(prevs) if prevs else -1) + 1
    for i, bag in enumerate(opened):
        if bag.format == "mcap":
            from rosbag2parquet_spark.sources.mcap import mcap_attachments

            for lt, ct, aname, media, adata in mcap_attachments(bag.path):
                att_rows.append(
                    (base_bag_index + i, os.path.basename(bag.path),
                     aname, media, lt, ct, bytes(adata))
                )
            md_rows += _metadata_rows(bag.path, base_bag_index + i)
    if att_rows:
        att_df = spark.createDataFrame(att_rows, _ATTACHMENTS_SCHEMA)
    if md_rows:
        md_df = spark.createDataFrame(md_rows, _METADATA_SCHEMA)
    bags_df = spark.createDataFrame(
        [
            (base_bag_index + i, os.path.basename(bag.path), bag.path,
             bag.format)
            for i, bag in enumerate(opened)
        ],
        _BAGS_SCHEMA,
    )

    count, size = _write_bag_tables(
        seq,
        dim_rows,
        out_dir,
        arrays=arrays,
        unsigned=unsigned,
        max_records_per_file=max_records_per_file,
        compression=compression,
        serialization=serialization,
        on_error=on_error,
        mode=mode,
        evolve=evolve,
        new_conn_rows=new_conn_rows,
        attachments_df=att_df,
        metadata_df=md_df,
        bags_df=bags_df,
        base_bag_index=base_bag_index,
    )
    seq.unpersist()
    return ConvertInfo(
        bagname=",".join(os.path.basename(p) for p in paths),
        count=count,
        size=float(size),
    )


def pertype_with_provenance(
    spark: SparkSession, out_dir: str, table: str
) -> DataFrame:
    """Per-type rows WITH file provenance — the user-visible end of the
    reference TODO (FlattenedRosWriter.cpp:183 "we should add a file ID
    to all entries"). Since r11 every converter stamps ``bag_index`` into
    the per-type tables at write time (map-side free), so the normal path
    here is a PROJECTION plus a broadcast name resolve — nothing shuffles
    at any scale. Pre-r11 per-type tables lack the stamp and fall back to
    a join against ``Messages`` projected to its (seqno, bag_index) pair
    (seqno is the cross-table key, reference README.md:119-121; the
    Messages side is column-pruned to 12 bytes/row, but the per-type side
    does hash-shuffle on seqno — exactly the cost the write-time stamp
    removes). Either way ``bag_index`` resolves to the source bag's NAME
    via the ``Bags`` fleet manifest (every `convert_bags` layout has one;
    the Metadata side-car serves older/MCAP-only layouts; a
    DataFrame-stream layout has no files, so ``bag`` stays NULL there)."""
    pertype = read_layout_table(spark, out_dir, table)
    mixed = os.path.isfile(
        os.path.join(out_dir, table, _BAG_INDEX_MIXED_MARKER)
    )
    cols = pertype.columns
    # The fast path requires the stamp in the STAMPED position — after the
    # raw `data` blob (trailing for bag layouts, before `datatype` for the
    # stream layout). A pre-r11 table whose PAYLOAD had a field named
    # bag_index (the name only became RESERVED with the r11 stamp) carries
    # that payload column among the value columns — i.e. BEFORE data —
    # with no mixed marker; trusting it by name alone would serve payload
    # values as provenance ordinals. Positional dispatch sends such tables
    # to the always-correct seqno join instead.
    stamped = (
        "bag_index" in cols
        and "data" in cols
        and cols.index("bag_index") > cols.index("data")
    )
    if stamped and not mixed:
        out = pertype  # write-time stamp: projection only, no join
    else:
        # No stamp anywhere (pre-r11 table, or a payload column squatting
        # on the name pre-reservation), or a MIXED-vintage table
        # (evolve-append added the stamp to later files only, leaving the
        # marker — the mergeSchema read would NULL-fill pre-append rows
        # whose ordinals Messages still records): resolve via the seqno
        # join, which is complete for every vintage Messages covers.
        msgs = spark.read.parquet(os.path.join(out_dir, "Messages"))
        if "bag_index" in msgs.columns:
            msgs = msgs.select("seqno", "bag_index")
        else:
            # pre-r10 vintage: Messages never gained the provenance column
            # (appends into such a layout project it away — per-row
            # ordinals genuinely don't exist there), so every row reads
            # NULL rather than crashing the resolve
            msgs = msgs.select(
                "seqno", F.lit(None).cast("int").alias("bag_index")
            )
        # drop the partial mergeSchema column (mixed vintage) so the join
        # provides THE bag_index — never two same-named columns
        out = pertype.drop("bag_index").join(msgs, "seqno")
    # the name dim UNIONS both side-cars: a pre-Bags layout appended into
    # by a newer converter has a PARTIAL manifest (only the appended
    # ordinals) while the Metadata side-car still names the older bags —
    # preferring one table alone would NULL the other's names. Both
    # derive the name from basename(path), so same-ordinal rows agree
    # and distinct() collapses them; still one row per bag — a broadcast
    # dim by construction.
    dims = [
        spark.read.parquet(p).select("bag_index", "bag")
        for p in (
            os.path.join(out_dir, side_car)
            for side_car in ("Bags", "Metadata")
        )
        if os.path.isdir(p)
    ]
    if not dims:
        return out.withColumn("bag", F.lit(None).cast("string"))
    bags = dims[0]
    for d in dims[1:]:
        bags = bags.unionAll(d)
    return out.join(F.broadcast(bags.distinct()), "bag_index", "left")
