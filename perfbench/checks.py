"""Answer checks, run outside the timed region. Each returns a list of
problems; an empty list means the answer is correct. None of them use
Spark: converted layouts are read with pyarrow, query answers are compared
with DuckDB over the same Parquet files, corpus answers with the
operators' own DuckDB oracles."""

from __future__ import annotations

import math
import os

import numpy as np

from gen import CONN_IDS, IMAGE, IMU, STRING, BagTruth

PER_TYPE = {t: t.replace("/", "_") for t in (IMU, IMAGE, STRING)}
IMU_FIELDS = {
    "header_seq": ("seq", None),
    "header_stamp_sec": ("sec", None),
    "header_stamp_nsec": ("nsec", None),
    **{f"orientation_{a}": ("orientation", i) for i, a in enumerate("xyzw")},
    **{f"angular_velocity_{a}": ("angular_velocity", i) for i, a in enumerate("xyz")},
    **{f"linear_acceleration_{a}": ("linear_acceleration", i) for i, a in enumerate("xyz")},
}


def parquet_files(table_dir: str) -> list[str]:
    return sorted(
        os.path.join(table_dir, f)
        for f in os.listdir(table_dir)
        if f.endswith(".parquet") and not f.startswith((".", "_"))
    )


def load_layout(layout_dir: str) -> dict:
    """The tables the ingest check reads, as pyarrow tables sorted by
    seqno."""
    import pyarrow.parquet as papq

    tables = {}
    for name in ("Messages", *PER_TYPE.values()):
        t = papq.ParquetDataset(parquet_files(os.path.join(layout_dir, name))).read()
        tables[name] = t.sort_by("seqno")
    return tables


def check_layout(tables: dict, truth: BagTruth, blob_sample: np.ndarray) -> list[str]:
    """Messages count and seqno 0..n-1 in bag order; per-type row counts,
    seqnos and every Imu value; all String texts; the sampled image blobs
    byte for byte."""
    bad: list[str] = []

    def same(what: str, got, want) -> None:
        got, want = np.asarray(got), np.asarray(want)
        if got.shape != want.shape or not np.array_equal(got, want):
            bad.append(f"{what}: mismatch")

    m = tables["Messages"]
    if m.num_rows != truth.n:
        return [f"Messages has {m.num_rows} rows, bag has {truth.n}"]
    same("Messages.seqno", m["seqno"].to_numpy(), np.arange(truth.n))
    same("Messages.connection_id", m["connection_id"].to_numpy(), truth.conn_ids)
    t_ns = m["time_sec"].to_numpy().astype(np.int64) * 1_000_000_000 + m[
        "time_nsec"
    ].to_numpy()
    same("Messages.time", t_ns, truth.time_ns)
    same("Messages.size", m["size"].to_numpy(), truth.sizes)

    for dtype, name in PER_TYPE.items():
        t = tables[name]
        want = truth.seqnos(dtype)
        if t.num_rows != len(want):
            bad.append(f"{name} has {t.num_rows} rows, bag has {len(want)}")
            continue
        same(f"{name}.seqno", t["seqno"].to_numpy(), want)
        same(f"{name}.connection_id", t["connection_id"].to_numpy(),
             np.full(len(want), CONN_IDS[dtype]))
    if bad:
        return bad

    imu = tables[PER_TYPE[IMU]]
    for col, (field, i) in IMU_FIELDS.items():
        want = truth.imu[field] if i is None else truth.imu[field][:, i]
        same(f"Imu.{col}", imu[col].to_numpy(), want)
    texts = tables[PER_TYPE[STRING]]["data_"].to_pylist()
    if texts != truth.string_texts:
        bad.append("String.data_: mismatch")
    blobs = tables[PER_TYPE[IMAGE]]["data"]
    for k in blob_sample.tolist():
        if blobs[k].as_py() != truth.image_payloads[k]:
            bad.append(f"CompressedImage blob {k}: bytes differ")
    return bad


def layout_bytes(layout_dir: str) -> tuple[int, int, int]:
    """(parquet files, row groups, parquet bytes) under a layout."""
    import pyarrow.parquet as papq

    files = groups = size = 0
    for table in sorted(os.listdir(layout_dir)):
        d = os.path.join(layout_dir, table)
        if not os.path.isdir(d):
            continue
        for p in parquet_files(d):
            files += 1
            groups += papq.ParquetFile(p).metadata.num_row_groups
            size += os.path.getsize(p)
    return files, groups, size


# ---------------------------------------------------------------- row compare


def _close(a, b, abs_tol: float) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=abs_tol)
    if isinstance(a, (bytes, bytearray, memoryview)):
        return isinstance(b, (bytes, bytearray, memoryview)) and bytes(a) == bytes(b)
    return a == b


def compare_rows(got: list[tuple], want: list[tuple], abs_tol: float = 0.0) -> list[str]:
    """Order-insensitive row comparison; floats within ``abs_tol`` (or a
    1e-9 relative tolerance), everything else exact."""

    def key(r):  # floats excluded: tolerance-equal rows must sort alike
        return tuple("" if isinstance(v, float) else repr(v) for v in r)

    got = sorted((tuple(r) for r in got), key=key)
    want = sorted((tuple(r) for r in want), key=key)
    if len(got) != len(want):
        return [f"{len(got)} rows, expected {len(want)}"]
    for g, w in zip(got, want):
        if len(g) != len(w) or not all(_close(a, b, abs_tol) for a, b in zip(g, w)):
            return [f"row {g!r:.200} != expected {w!r:.200}"]
    return []


# ------------------------------------------------------- layout-query oracle


def duck_layout(layout_dir: str, bag_name: str):
    """A DuckDB connection with one view per layout table."""
    import duckdb

    con = duckdb.connect()
    for name in ("Messages", "Connections", *PER_TYPE.values()):
        files = parquet_files(os.path.join(layout_dir, name))
        con.execute(
            f"CREATE VIEW {name} AS SELECT * FROM read_parquet({files!r})"
        )
    con.execute(f"CREATE VIEW bagname AS SELECT '{bag_name}' AS bag")
    return con


def _info_rows(con) -> list[tuple]:
    rows = con.sql(
        """
        WITH j AS (
          SELECT c.datatype, c.topic, m.size,
                 CAST(m.time_sec AS BIGINT) * 1000000000 + m.time_nsec AS t
          FROM Messages m JOIN Connections c USING (connection_id))
        SELECT coalesce(datatype, '<all>'), coalesce(topic, '<all>'),
               count(*)::BIGINT, sum(size)::BIGINT, min(t), max(t)
        FROM j GROUP BY ROLLUP (datatype, topic)
        """
    ).fetchall()
    out = []
    for dt, tp, n, b, lo, hi in rows:
        span = (hi - lo) / 1e9
        out.append(
            (dt, tp, n, b,
             round(n / span, 3) if span > 0 else None,
             round(b / span, 1) if span > 0 else None)
        )
    return out


def expected(con, cls: str, params: dict) -> tuple[list[tuple], float]:
    """(expected rows, float tolerance) of one layout-query instance."""
    if cls in ("info", "bag-info"):
        # the rounded rates differ by at most one unit of the last place
        # between Spark's HALF_UP decimal round and Python's round
        return _info_rows(con), 0.2
    if cls == "time-slice":
        return con.sql(
            f"""
            SELECT count(*)::BIGINT, sum(angular_velocity_x),
                   min(linear_acceleration_z), max(orientation_w)
            FROM {PER_TYPE[IMU]}
            WHERE CAST(header_stamp_sec AS BIGINT) * 1000000000
                  + header_stamp_nsec BETWEEN {params['lo']} AND {params['hi']}
            """
        ).fetchall(), 1e-6
    if cls == "topic-agg":
        return con.sql(
            """
            SELECT c.topic, c.datatype, count(*)::BIGINT, sum(m.size)::BIGINT,
                   min(m.seqno), max(m.seqno)
            FROM Messages m JOIN Connections c USING (connection_id)
            GROUP BY c.topic, c.datatype
            """
        ).fetchall(), 0.0
    if cls == "provenance":
        return con.sql(
            f"""
            SELECT b.bag, count(*)::BIGINT, min(seqno), max(seqno)
            FROM {params['table']}, bagname b GROUP BY b.bag
            """
        ).fetchall(), 0.0
    if cls == "blob-fetch":
        return con.sql(
            f"""
            SELECT seqno, data FROM {PER_TYPE[IMAGE]}
            WHERE seqno BETWEEN {params['lo']} AND {params['hi']}
            """
        ).fetchall(), 0.0
    raise KeyError(cls)


# -------------------------------------------------------------- corpus oracle


def corpus_rows(pdf) -> list[tuple]:
    from tools.check_oracle import _pandas_rows

    return _pandas_rows(pdf)


def check_corpus(shard_dir: str, results: dict[str, tuple[list, list]], oracles: dict) -> dict[str, list[str]]:
    """Per operator, problems comparing its (columns, rows) answer with its
    DuckDB oracle over the same shard, canonicalized as
    ``tools/check_oracle.py`` does (type-tagged values, sorted rows, floats
    under both repr and %.17g)."""
    import duckdb

    con = duckdb.connect()
    for f in sorted(os.listdir(shard_dir)):
        if f.endswith(".parquet"):
            con.execute(
                f"CREATE VIEW {f[:-8]} AS SELECT * FROM '{os.path.join(shard_dir, f)}'"
            )
    out = {}
    for op, (cols, rows) in results.items():
        rel = con.sql(oracles[op])
        out[op] = compare_canonical(cols, rows, rel.columns, corpus_rows(rel.df()))
    return out


def compare_canonical(cols, rows, ocols, orows) -> list[str]:
    from tools.check_oracle import normalize

    if len(rows) != len(orows):
        return [f"{len(rows)} rows, oracle has {len(orows)}"]
    if sorted(cols) != sorted(ocols):
        return [f"columns {sorted(cols)} != oracle {sorted(ocols)}"]
    for fmt in ("repr", "17g"):
        _, a = normalize(rows, cols, float_fmt=fmt)
        _, b = normalize(orows, ocols, float_fmt=fmt)
        if a != b:
            diff = next((x, y) for x, y in zip(a, b) if x != y)
            return [f"values differ ({fmt}): {diff!r:.300}"]
    return []
