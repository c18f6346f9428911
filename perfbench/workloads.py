"""The benchmark's two workloads. Both are closed loops with one client:
the next operation starts only after the previous one returned and its
answer was checked. The timed region covers the program calls only; input
copies and answer checks sit between timed operations.

- ``ingest``: ``convert.convert_bag`` back to back, each call on a fresh
  copy of the seeded bag (a new path, so the program's path-keyed scan
  memo never hits: a real user converts each bag once). A traced run also
  times the converter's stages through their public functions and runs
  the six layout-query classes on each layout it writes.
- ``corpus``: passes of the seven corpus operators through
  ``__spark_entry__.queries()``, each pass over a seeded shard the session
  has not seen (the operators' shard-keyed memos never hit).
"""

from __future__ import annotations

import os
import shutil
import statistics
import sys
import time
from dataclasses import dataclass, field

import numpy as np

import checks
import gen
import tracing

LAYOUT_CLASSES = ("info", "bag-info", "time-slice", "topic-agg", "provenance", "blob-fetch")
CORPUS_OPS = (
    "dedup-exact", "dedup-minhash-lsh", "text-stats", "quality-score",
    "bm25-search", "knn", "embed-neardup",
)
DECODE_TYPES = {"imu": gen.IMU, "image": gen.IMAGE, "string": gen.STRING}
CONVERT_PARTITIONS = 32  # convert_bag's own default, used by the staged probes too
WARMUP_BAG = gen.BagSpec(n_imu=2_250, n_image=125, n_string=450)
WARMUP_SHARD = gen.ShardSpec(n_docs=200, n_vectors=100, near_dup_vectors=5)


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class Outcome:
    attempted: int = 0
    failed: int = 0
    self_tests: list[bool] = field(default_factory=list)
    op_s: list[float] = field(default_factory=list)
    layer: dict[str, float] = field(default_factory=dict)

    def record(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            print(f"WRONG {what}: {'; '.join(problems)[:500]}", file=sys.stderr)


class Workload:
    """Set-up ends with two untimed warm-up iterations. The first, cold one
    runs on a quarter-size input from the same generator: the one-off
    start-up costs it pays hardly depend on the input size. The second runs
    on a full-size input, because the second iteration of a session still
    runs 10-25% slower than later ones while the JVM compiles hot code."""

    def __init__(self, spark, tracer: tracing.Tracer, work: str, seed: int, seconds: float):
        self.spark, self.tracer = spark, tracer
        self.work, self.seed, self.seconds = work, seed, seconds
        self.out = Outcome()
        self.timed_groups: set[str] = set()
        self.samples: dict[str, list[dict]] = {}

    def span(self, name: str, op: str, timed: bool):
        """A top-level span; a timed one's Spark jobs count in ``spark.*``."""
        if not timed:
            return self.tracer.span(f"setup.{name}", op)
        self.timed_groups.add(f"perfbench-{len(self.tracer.spans)}")
        return self.tracer.span(name, op)

    def sample(self, name: str, sp: tracing.Span, **extra) -> None:
        self.samples.setdefault(name, []).append(
            {"s": sp.seconds, "jobs": sp.jobs, **extra}
        )

    def run(self) -> None:
        """Run iterations until the timed operations have taken ``seconds``,
        at least one. A traced run does exactly one: its per-layer probes
        make an iteration several times longer, and its figures are counts
        and single-call timings."""
        i = 0
        while i == 0 or (not self.tracer.enabled and sum(self.out.op_s) < self.seconds):
            self.iteration(i)
            i += 1
        for name, recs in self.samples.items():
            self.out.layer[f"{name}.p50_ms"] = median([r["s"] for r in recs]) * 1e3
            for key in ("jobs", "files_read", "rows_scanned_per_result"):
                if key in recs[0]:
                    self.out.layer[f"{name}.{key}"] = median([r[key] for r in recs])


# ------------------------------------------------------------------- ingest


class Ingest(Workload):
    def setup(self) -> None:
        os.makedirs(os.path.join(self.work, "bags"), exist_ok=True)
        self.bag = os.path.join(self.work, "bags", "source.bag")
        self.truth = gen.make_bag(self.bag, self.seed)
        self.bag_bytes = os.path.getsize(self.bag)
        self.layout_self_tested = self.rows_self_tested = False
        full = self.bag, self.truth
        self.bag = os.path.join(self.work, "bags", "small.bag")
        self.truth = gen.make_bag(self.bag, self.seed, WARMUP_BAG)
        shutil.rmtree(self.convert("warmup0", timed=False))
        self.bag, self.truth = full
        layout = self.convert("warmup1", timed=False)
        if self.tracer.enabled:
            self.queries(layout, timed=False)
        shutil.rmtree(layout)

    def fresh_bag(self, tag: str) -> str:
        path = os.path.join(self.work, "bags", f"{tag}.bag")
        shutil.copyfile(self.bag, path)
        return path

    def convert(self, tag: str, timed: bool) -> str:
        """Convert a fresh copy of the bag, check the layout, and return the
        layout dir."""
        from rosbag2parquet_spark.convert import convert_bag

        path = self.fresh_bag(tag)
        out = os.path.join(self.work, f"layout-{tag}")
        self.bag_name = os.path.basename(path)
        try:
            with self.span("convert.convert_bag", tag, timed) as sp:
                convert_bag(self.spark, path, out)
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.out.record(f"convert {tag}", [f"raised {e!r:.300}"])
            return out
        finally:
            if timed:
                self.out.op_s.append(sp.seconds)
            os.remove(path)
        tables = checks.load_layout(out)
        rng = np.random.default_rng([self.seed, 4])
        sample = np.sort(rng.choice(len(self.truth.image_payloads), 16, replace=False))
        self.out.record(f"convert {tag}", checks.check_layout(tables, self.truth, sample))
        files, groups, size = checks.layout_bytes(out)
        if timed:
            self.out.layer.update({
                "convert.jobs": sp.jobs, "convert.stages": sp.stages,
                "convert.tasks": sp.tasks, "convert.files_written": files,
                "convert.row_groups_written": groups, "convert.bytes_written": size,
                "convert.stored_bytes_ratio": size / self.bag_bytes,
            })
        if not self.layout_self_tested:
            self.layout_self_tested = True
            self.out.self_tests.append(self_test_layout(tables, self.truth, sample))
        return out

    def iteration(self, i: int) -> None:
        if self.tracer.enabled:
            lay = self.out.layer
            lay.update(self.staged(i))
        layout = self.convert(f"run{i}", timed=True)
        if self.tracer.enabled:
            lay["convert.remainder_s"] = self.out.op_s[-1] - (
                lay["sources.rosbag.read_s"]
                + sum(lay[f"sources.decode.{t}_self_s"] for t in DECODE_TYPES)
                + lay["operators.keys.seqno_self_s"]
            )
            self.queries(layout, timed=True)
        shutil.rmtree(layout, ignore_errors=True)

    def staged(self, i: int) -> dict[str, float]:
        """The converter's stages, each timed by calling the public function
        that implements it on a fresh copy of the bag (traced runs only).
        A decode's self time is its span minus a span of the same filtered
        scan alone; seqno's is its span minus the plain scan's."""
        from pyspark.sql import functions as F

        from rosbag2parquet_spark.operators.keys import assign_seqno
        from rosbag2parquet_spark.sources.decode import decode_messages
        from rosbag2parquet_spark.sources.rosbag import (
            read_rosbag, scan_rosbag, seqno_bucket_width,
        )

        spark, tag = self.spark, f"staged{i}"
        path = self.fresh_bag(tag)
        m: dict[str, float] = {}

        def noop(df) -> None:
            df.write.format("noop").mode("overwrite").save()

        def scan(conn_ids=None):
            return read_rosbag(
                spark, path, num_partitions=CONVERT_PARTITIONS, conn_ids=conn_ids
            )

        with self.tracer.span("sources.rosbag.scan_rosbag", tag) as sp:
            _, chunks = scan_rosbag(path)
        m["sources.rosbag.index_ms"] = sp.seconds * 1e3
        m["sources.rosbag.chunks"] = len(chunks)
        with self.tracer.span("sources.rosbag.read_rosbag", tag) as sp:
            noop(scan())
        m["sources.rosbag.read_s"] = read_s = sp.seconds
        rows = 0
        msgdefs = {c.datatype: c.msg_def for c in gen.connections()}
        for short, dtype in DECODE_TYPES.items():
            cid = [gen.CONN_IDS[dtype]]
            with self.tracer.span(f"sources.decode.{short}.scan", tag) as sp_scan:
                scan(cid).count()
            with self.tracer.span(f"sources.decode.{short}", tag) as sp_dec:
                rows += decode_messages(scan(cid), dtype, msgdefs[dtype]).count()
            m[f"sources.decode.{short}_self_s"] = sp_dec.seconds - sp_scan.seconds
        m["sources.decode.rows"] = rows
        width = seqno_bucket_width(path)
        with self.tracer.span("operators.keys.assign_seqno", tag) as sp:
            noop(assign_seqno(scan(), ["offset"], bucket=F.expr(f"offset div {width}")))
        m["operators.keys.seqno_self_s"] = sp.seconds - read_s
        os.remove(path)
        return m

    # ------------------------------------------------- layout-query classes

    def queries(self, layout: str, timed: bool) -> None:
        """Each layout-query class once, in seeded order, on ``layout``;
        every answer compared with DuckDB over the same Parquet files."""
        con = checks.duck_layout(layout, self.bag_name)
        rng = np.random.default_rng([self.seed, 6, len(self.tracer.spans)])
        for j in rng.permutation(len(LAYOUT_CLASSES)):
            cls = LAYOUT_CLASSES[int(j)]
            self.query(con, layout, cls, self.params(cls, rng), timed)
        con.close()

    def params(self, cls: str, rng) -> dict:
        t = self.truth
        if cls == "time-slice":
            lo_t, hi_t = int(t.time_ns.min()), int(t.time_ns.max())
            width = (hi_t - lo_t) // 10
            lo = int(rng.integers(lo_t, hi_t - width))
            return {"lo": lo, "hi": lo + width}
        if cls == "blob-fetch":
            img = t.seqnos(gen.IMAGE)
            k = int(rng.integers(0, len(img) - 16))
            return {"lo": int(img[k]), "hi": int(img[k + 15])}
        if cls == "provenance":
            tables = list(checks.PER_TYPE.values())
            return {"table": tables[int(rng.integers(0, len(tables)))]}
        return {}

    def frame(self, layout: str, cls: str, p: dict):
        """The DataFrame of one layout-query instance, built through the
        program's public functions."""
        from pyspark.sql import functions as F

        from rosbag2parquet_spark import info
        from rosbag2parquet_spark.convert import pertype_with_provenance, read_layout_table

        spark = self.spark
        if cls == "info":
            return info.layout_info(spark, layout)
        if cls == "bag-info":
            return info.bag_info(spark, self.bag)
        if cls == "time-slice":
            imu = read_layout_table(spark, layout, checks.PER_TYPE[gen.IMU])
            t = F.col("header_stamp_sec").cast("long") * 1_000_000_000 + F.col("header_stamp_nsec")
            return imu.filter(t.between(p["lo"], p["hi"])).agg(
                F.count(F.lit(1)), F.sum("angular_velocity_x"),
                F.min("linear_acceleration_z"), F.max("orientation_w"),
            )
        if cls == "topic-agg":
            msgs = read_layout_table(spark, layout, "Messages")
            conns = read_layout_table(spark, layout, "Connections")
            return msgs.join(conns, "connection_id").groupBy("topic", "datatype").agg(
                F.count(F.lit(1)), F.sum(F.col("size").cast("long")),
                F.min("seqno"), F.max("seqno"),
            )
        if cls == "provenance":
            return pertype_with_provenance(spark, layout, p["table"]).groupBy("bag").agg(
                F.count(F.lit(1)), F.min("seqno"), F.max("seqno"),
            )
        if cls == "blob-fetch":
            tbl = read_layout_table(spark, layout, checks.PER_TYPE[gen.IMAGE])
            return tbl.filter(F.col("seqno").between(p["lo"], p["hi"])).select("seqno", "data")
        raise KeyError(cls)

    def query(self, con, layout: str, cls: str, p: dict, timed: bool) -> None:
        name = f"query.{cls}"
        try:
            with self.tracer.span(name if timed else f"setup.{name}", name) as sp:
                df = self.frame(layout, cls, p)
                rows = [tuple(r) for r in df.collect()]
        except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
            self.out.record(name, [f"raised {e!r:.300}"])
            return
        want, tol = checks.expected(con, cls, p)
        self.out.record(f"{name} {p}", checks.compare_rows(rows, want, tol))
        if rows and not self.rows_self_tested:
            self.rows_self_tested = True
            # the comparison must flag an answer with one row missing
            self.out.self_tests.append(bool(checks.compare_rows(rows[1:], want, tol)))
        if timed:
            t0 = time.perf_counter()
            files, scanned = tracing.scan_metrics(df)
            self.tracer.overhead_s += time.perf_counter() - t0
            self.sample(name, sp, files_read=files,
                        rows_scanned_per_result=scanned / max(1, len(rows)))


# ------------------------------------------------------------------- corpus


class Corpus(Workload):
    def setup(self) -> None:
        import __spark_entry__

        self.ops = __spark_entry__.queries()
        self.oracles = __spark_entry__.oracle_sql()
        self.passes: list[float] = []
        self.corpus_pass(0, timed=False, spec=WARMUP_SHARD)
        self.corpus_pass(1, timed=False)

    def iteration(self, i: int) -> None:
        self.corpus_pass(2 + i, timed=True)

    def run(self) -> None:
        super().run()
        self.out.layer["corpus.pass_s"] = median(self.passes)

    def corpus_pass(self, index: int, timed: bool, spec: gen.ShardSpec | None = None) -> None:
        """One pass of the corpus operators over shard ``index`` (the first
        ones are the warm-up shards), then every answer checked against its
        oracle."""
        tag = f"shard{index}"
        shard = os.path.join(self.work, "shards", tag)
        gen.make_shard(shard, self.seed, index, spec)
        results, total = {}, 0.0
        for op in CORPUS_OPS:
            name = f"corpus.{op}"
            try:
                with self.span(name, name, timed) as sp:
                    pdf = self.ops[op](self.spark, shard).toPandas()
            except Exception as e:  # noqa: BLE001 - a failed operation is counted, not fatal
                self.out.record(f"{name} {tag}", [f"raised {e!r:.300}"])
                continue
            finally:
                if timed:
                    total += sp.seconds
                    self.out.op_s.append(sp.seconds)
            results[op] = (list(pdf.columns), checks.corpus_rows(pdf))
            if timed:
                self.sample(name, sp)
        verdicts = checks.check_corpus(shard, results, self.oracles)
        for op, problems in verdicts.items():
            self.out.record(f"corpus.{op} {tag}", problems)
        if index == 0:
            # the oracle comparison must flag an answer with one row missing
            op = next(op for op, (_, rows) in results.items() if rows)
            cols, rows = results[op]
            self.out.self_tests.append(bool(
                checks.check_corpus(shard, {op: (cols, rows[1:])}, self.oracles)[op]
            ))
        if timed:
            self.passes.append(total)
        shutil.rmtree(shard)


WORKLOADS = {"ingest": Ingest, "corpus": Corpus}


def self_test_layout(tables: dict, truth, blob_sample) -> bool:
    """The layout checker must flag a layout with two seqnos swapped and
    one with a corrupted blob."""
    import pyarrow as pa

    m = tables["Messages"]
    seq = m["seqno"].to_numpy().copy()
    seq[[0, 1]] = seq[[1, 0]]
    swapped = dict(tables, Messages=m.set_column(
        m.schema.get_field_index("seqno"), "seqno", pa.array(seq)))
    img_name = checks.PER_TYPE[gen.IMAGE]
    img = tables[img_name]
    blobs = img["data"].to_pylist()
    k = int(blob_sample[0])
    blobs[k] = bytes([blobs[k][0] ^ 0xFF]) + blobs[k][1:]
    flipped = dict(tables, **{img_name: img.set_column(
        img.schema.get_field_index("data"), "data", pa.array(blobs, pa.binary()))})
    return all(checks.check_layout(t, truth, blob_sample) for t in (swapped, flipped))
