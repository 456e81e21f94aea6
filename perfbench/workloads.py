"""The benchmark's workloads, their answer checks and their layer metrics.

Each workload drives the package only through its public API, with one
client thread in a closed loop: the next call starts when the previous
one has returned and been checked. A workload has

* ``setup()``: makes the inputs, then loads them; returns the wall
  time and the CPU time (``setup_s``) of the load;
* ``round()``: one fixed-composition round of caller-visible ops;
  ``round_cpu_s`` is the CPU time the first round's ops used
  (``round_cpu``), its wall time what the caller waited
  (``round_secs``);
* ``finish()``: end-of-run checks;
* ``summary()``: the workload's own named metrics (read_p50_ms,
  insert_p50_ms, ...) from its untraced ops;
* ``layers()``: per-layer metrics from the spans of the traced round.

Every answer is checked against values computed in Python from the
seeded generator (``gen``) or, for the operators, against the
registry's DuckDB oracle. A call that raises or answers wrong is a
failure, listed by op and error.
"""

from __future__ import annotations

import os
import time
from datetime import datetime, timedelta, timezone

import numpy as np

import gen
from spans import cpu_between, cpu_ticks, median


_EPOCH = datetime(1970, 1, 1, tzinfo=timezone.utc)


def _dt(us: int) -> datetime:
    """Exact UTC datetime of epoch microseconds (no float rounding)."""
    return _EPOCH + timedelta(microseconds=int(us))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= 1e-6 * max(1.0, abs(a), abs(b))


def _mean(xs) -> float:
    xs = list(xs)
    return sum(xs) / len(xs) if xs else 0.0


def disk_usage(root: str) -> tuple:
    """(bytes of distinct inodes, parquet files by inode -> size) under
    ``root``; hardlinked snapshot versions count once."""
    seen = {}
    pq = {}
    for d, _sub, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            key = (st.st_dev, st.st_ino)
            seen[key] = st.st_size
            if f.endswith(".parquet"):
                pq[key] = st.st_size
    return sum(seen.values()), pq


class Workload:
    name = ""

    def __init__(self, spark, clock, seed: int, tmp: str) -> None:
        self.spark = spark
        self.clock = clock
        self.seed = seed
        self.tmp = tmp
        self.attempted = 0
        self.failures: list = []
        # (round, traced, kind, seconds) per op; traced ops count what
        # the caller paid, without probes.
        self.records: list = []
        # (round, kind, CPU seconds of the process tree) per op.
        self.cpu_records: list = []

    # -- checks ---------------------------------------------------------
    def fail(self, op: str, error: str) -> None:
        self.failures.append({"op": op, "error": error[:300]})

    def run_op(self, kind: str, fn, check=None, span=None):
        """Run one caller-visible op under a span; check its answer.
        Returns (result, seconds) or (None, None) if it raised."""
        self.attempted += 1
        try:
            c0 = cpu_ticks()
            with self.clock.op(span or kind) as s:
                out = fn()
            self.cpu_records.append(
                (self.clock.round, kind, cpu_between(c0, cpu_ticks())))
        except Exception as e:  # any error is a failed op, not a crash
            self.fail(kind, f"{type(e).__name__}: {e}")
            return None, None
        secs = self.clock.paid(s) if self.clock.traced else (
            s["end"] - s["start"]
        )
        self.records.append((self.clock.round, self.clock.traced, kind, secs))
        if check is not None:
            try:
                err = check(out)
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
            if err:
                self.fail(kind, err)
        return out, secs

    def round_secs(self, rnd: int) -> float:
        """What the caller paid in one round: the sum of its ops'
        latencies, without input generation or answer checks."""
        return sum(s for r, _t, _k, s in self.records if r == rnd)

    def round_cpu(self, rnd: int) -> float:
        """CPU seconds the process tree (this process, the Spark JVM,
        its Python workers) used during one round's ops; input
        generation and answer checks are outside them."""
        return sum(c for r, _k, c in self.cpu_records if r == rnd)

    def times(self, *kinds, traced=False, rnd=None) -> list:
        """Latencies of the given op kinds (all if none), untraced by
        default, from one round or all."""
        return [
            s for r, t, k, s in self.records
            if t == traced and (rnd is None or r == rnd)
            and (not kinds or k in kinds)
        ]

    def overhead_frac(self):
        """Traced against untraced caller latency, kind by kind, on the
        warm rounds of a traced run: traced round 2 against untraced
        rounds 1 and 3 on either side of it, so warm-up still going on
        between rounds does not read as tracing cost."""
        ratios = []
        for k in {k for _r, _t, k, _s in self.records}:
            traced = self.times(k, traced=True, rnd=2)
            plain = self.times(k, rnd=1) + self.times(k, rnd=3)
            if traced and plain:
                ratios.append(median(traced) / median(plain) - 1.0)
        return median(ratios) if ratios else 0.0

    def tspans(self) -> list:
        """Spans of the traced cold round, the first one the e2e run
        times."""
        return [s for s in self.clock.spans if s["round"] == 0]

    def spans(self, name: str) -> list:
        return [s for s in self.tspans() if s["name"] == name]

    def med_ms(self, name: str, fn=None) -> float:
        xs = [(fn or self.clock.duration)(s) for s in self.spans(name)]
        return 1000.0 * (median(xs) or 0.0)


# -- ingest_mixed ----------------------------------------------------------
class IngestMixed(Workload):
    """Writes beside reads on the seeded 100k-point IoT store. Every
    write is followed by one checked read from the read mix; the Python
    model of the store's contents takes every write too, so each read
    also checks read-your-writes."""

    name = "ingest_mixed"
    read_ops = ("search_arrow", "search", "count", "contains", "get",
                "select")

    def setup(self) -> tuple:
        from tinyflux_spark import TinyFluxSpark, TimeQuery

        cols = gen.store_points(self.seed)
        src = os.path.join(self.tmp, "src")
        gen.write_points_parquet(cols, src)
        path = os.path.join(self.tmp, "store")
        t, c0 = time.perf_counter(), cpu_ticks()
        db = TinyFluxSpark(path, spark=self.spark, index_tags=["sensor_id"])
        db.insert_dataframe(self.spark.read.parquet(src))
        n = db.count(TimeQuery().noop())
        secs = time.perf_counter() - t, cpu_between(c0, cpu_ticks())
        self.attempted += 1
        if n != len(cols["time_us"]):
            self.fail("setup", f"store holds {n} points, loaded "
                      f"{len(cols['time_us'])}")
        self.db, self.path, self.model = db, path, cols
        self.wrng = gen.rng(self.seed, "writes")
        self.srng = gen.rng(self.seed, "stream")
        self.cycle = 0
        self.inserted = 0
        self.removed = 0
        self.stream_progress: list = []
        self.dml_io: list = []
        return secs

    def span_bounds(self):
        t = self.model["time_us"]
        return int(t.min()), int(t.max())

    def query(self, shape: str, p: dict):
        from tinyflux_spark import FieldQuery, TagQuery, TimeQuery

        if shape == "tag":
            return TagQuery().sensor_id == gen.SENSORS[p["sensor"]]
        if shape == "range":
            return (TimeQuery() >= _dt(p["lo"])) & (TimeQuery() < _dt(p["hi"]))
        if shape == "field":
            return FieldQuery().value > p["above"]
        return (
            (FieldQuery().value > p["above"]) & (FieldQuery().status == 1.0)
            & (TagQuery().location == gen.LOCATIONS[p["location"]])
        )

    # -- one read ------------------------------------------------------
    def read(self, op: str, shape: str, p: dict):
        q = self.query(shape, p)
        mask = gen.match_mask(self.model, shape, p)
        return self.run_op(
            op, lambda: self._call_read(op, q),
            lambda out: self._check_read(op, mask, out),
            span=f"read.{op}",
        )

    def _call_read(self, op: str, q):
        db, clock = self.db, self.clock
        if not clock.traced:
            if op == "select":
                return db.select("fields.value", q)
            return getattr(db, op)(q)
        # Traced: each public call with storages.read and Query.compile
        # timed as child probes on the same inputs; search_arrow split
        # into database.search_df and schema.collect_arrow_batches.
        from tinyflux_spark.schema import SEQ_COL, collect_arrow_batches

        inner = "database.search_df" if op == "search_arrow" else f"database.{op}"
        with clock.span(inner):
            clock.call("storages.read", db.storage.read, probe=True)
            clock.call("queries.compile", q.compile,
                       indexed=db.storage.index_cols, probe=True)
            if op == "search_arrow":
                out = db.search_df(q)
            elif op == "select":
                out = db.select("fields.value", q)
            else:
                out = getattr(db, op)(q)
        if op == "search_arrow":
            with clock.span("schema.collect_arrow_batches") as s:
                out = collect_arrow_batches(out.drop(SEQ_COL))
            s["rows"] = sum(b.num_rows for b in out)
            s["bytes"] = sum(b.nbytes for b in out)
        return out

    def _check_read(self, op: str, mask: np.ndarray, out):
        m = self.model
        n = int(mask.sum())
        vals = m["value"][mask]
        if op == "count":
            return None if out == n else f"count {out} != {n}"
        if op == "contains":
            return None if out == (n > 0) else f"contains {out}, {n} matches"
        if op == "get":
            if n == 0:
                return None if out is None else "get found a point, 0 matches"
            first = int(np.argmax(mask))
            want = _dt(int(m["time_us"][first]))
            if out is None or out.time != want:
                return f"get -> {out and out.time}, first inserted {want}"
            return None
        if op == "select":
            if len(out) != n or not np.allclose(
                np.asarray(out, dtype=float), vals
            ):
                return f"select {len(out)} values, want {n} in insert order"
            return None
        if op == "search":
            times = [
                (p.time - _EPOCH) // timedelta(microseconds=1) for p in out
            ]
            got = sum(p.fields.get("value", 0.0) for p in out)
        else:  # search_arrow
            import pyarrow as pa
            import pyarrow.compute as pc

            if not out:
                times, got = [], 0.0
            else:
                t = pa.Table.from_batches(out)
                times = t.column("time").cast(pa.int64()).to_pylist()
                f = t.column("fields").combine_chunks()
                got = pc.sum(pc.filter(
                    f.items, pc.equal(f.keys, "value"))).as_py() or 0.0
        if len(times) != n:
            return f"{op} {len(times)} rows != {n}"
        if times != sorted(m["time_us"][mask].tolist()):
            return f"{op} times differ from the model or are unsorted"
        if not _close(got, float(vals.sum())):
            return f"{op} sum(value) {got} != {float(vals.sum())}"
        return None

    # -- per-layer metrics from traced reads ---------------------------
    def read_layers(self) -> dict:
        c = self.clock
        reads = [s for s in self.tspans() if s["name"].startswith("read.")]
        sdf = self.spans("database.search_df")

        def build(s):
            return c.paid(s) - sum(
                c.duration(k) for k in c.children(s["id"]) if k["probe"]
            )

        coll = self.spans("schema.collect_arrow_batches")
        rows_out = sum(s.get("rows", 0) for s in coll)
        scanned = sum(
            c.inclusive(s, "input_records") for s in reads
            if s["name"] == "read.search_arrow"
        )
        out = {
            "queries.compile_ms": self.med_ms("queries.compile"),
            "storages.read_ms": self.med_ms("storages.read"),
            "database.build_ms": 1000.0 * (median([build(s) for s in sdf]) or 0),
            "schema.collect_ms": self.med_ms("schema.collect_arrow_batches"),
            "schema.rows_out": median([s.get("rows", 0) for s in coll]) or 0,
            "schema.bytes_out": median([s.get("bytes", 0) for s in coll]) or 0,
            "storages.rows_scanned_per_row_returned": (
                scanned / rows_out if rows_out else 0.0
            ),
            "spark.jobs_per_read": _mean(c.inclusive(s, "jobs") for s in reads),
            "spark.tasks_per_read": _mean(c.inclusive(s, "tasks") for s in reads),
        }
        for op in self.read_ops:
            out[f"database.{op}_p50_ms"] = 1000.0 * (
                median(self.times(op, traced=True, rnd=0)) or 0.0
            )
        return out

    # -- the writes ------------------------------------------------------
    def _cycle_inputs(self, plan: list) -> dict:
        """The points each append of the cycle writes, generated (and,
        for the bulk and stream appends, written to parquet) before the
        cycle's first op. They continue the series in write order, so
        each append lands after everything already in the store."""
        t_hi = int(self.model["time_us"].max())
        row = len(self.model["time_us"])
        out = {}
        for w, _read in plan:
            n = gen.APPEND_POINTS.get(w)
            if n is None:
                continue
            r = self.srng if w == "stream" else self.wrng
            out[w] = gen.iot_points(r, n, t_hi, first_row=row)
            t_hi = int(out[w]["time_us"][-1])
            row += n
        self.bulk_src = os.path.join(self.tmp, f"bulk{self.cycle}")
        gen.write_points_parquet(out["insert_dataframe"], self.bulk_src)
        self.stream_src = os.path.join(self.tmp, f"stream{self.cycle}")
        gen.write_points_parquet(out["stream"], self.stream_src,
                                 files=gen.STREAM_FILES)
        return out

    def _append_model(self, cols: dict) -> None:
        self.model = gen.concat(self.model, cols)
        self.inserted += len(cols["time_us"])

    def _points(self, cols: dict) -> list:
        from tinyflux_spark import Point

        return [
            Point(
                time=_dt(int(cols["time_us"][i])),
                measurement=gen.MEASUREMENTS[cols["m"][i]],
                tags={
                    "sensor_id": gen.SENSORS[cols["sensor"][i]],
                    "location": gen.LOCATIONS[cols["location"][i]],
                    "device_type": gen.DEVICE_TYPES[cols["device"][i]],
                },
                fields={
                    "value": float(cols["value"][i]),
                    "status": float(cols["status"][i]),
                    "batch_id": float(cols["batch_id"][i]),
                },
            )
            for i in range(len(cols["time_us"]))
        ]

    def _insert(self, cols: dict) -> int:
        c, db = self.clock, self.db
        with c.span("point.ctor") as s:
            pts = self._points(cols)
        s["n"] = len(pts)
        if c.traced:
            # Probe: the Point -> DataFrame step append_points takes.
            from tinyflux_spark.schema import points_to_df

            c.call("schema.points_to_df", points_to_df, self.spark, pts,
                   with_seq=True, probe=True)
        with c.inner(db.storage, "append_points", "storages.append_points"):
            if len(pts) == 1:
                return db.insert(pts[0])
            return db.insert_multiple(pts)

    def _bulk(self, src: str) -> None:
        df = self.spark.read.parquet(src)
        with self.clock.inner(self.db.storage, "append_df",
                              "storages.append_df"):
            self.db.insert_dataframe(df)

    def _stream(self, src: str, ck: str):
        from tinyflux_spark.schema import POINT_SCHEMA
        from tinyflux_spark.streaming.ingest import (
            point_stream_from_files,
            stream_insert,
        )

        with self.clock.span("streaming.stream_insert"):
            stream = point_stream_from_files(
                self.spark, src, POINT_SCHEMA, max_files_per_trigger=1
            )
            q = stream_insert(self.db.storage, stream, checkpoint_dir=ck)
            q.awaitTermination()
        if q.exception() is not None:
            raise RuntimeError(str(q.exception()))
        return list(q.recentProgress)

    def _compact(self) -> int:
        with self.clock.inner(self.db.storage, "compact", "storages.compact"):
            return self.db.compact()

    def _dml(self, p: dict) -> tuple:
        from tinyflux_spark import FieldQuery, MeasurementQuery, TagQuery, TimeQuery

        def scope(s):
            return (
                (MeasurementQuery() == gen.MEASUREMENTS[s["m"]])
                & (TagQuery().sensor_id == gen.SENSORS[s["sensor"]])
                & (TimeQuery() >= _dt(s["lo"])) & (TimeQuery() < _dt(s["hi"]))
            )

        c, db = self.clock, self.db
        upd, _ = c.call("database.update", db.update, scope(p["update"]),
                        fields={"status": 2.0})
        rem, _ = c.call("database.remove", db.remove, scope(p["remove"]))
        both = (scope(p["update"]) & (FieldQuery().status == 2.0)) | scope(
            p["remove"])
        n, _ = c.call("database.count", db.count, both)
        return upd, rem, n

    def round(self) -> None:
        r = self.wrng
        plan = gen.cycle_plan(r)
        appends = self._cycle_inputs(plan)
        for w, (op, shape) in plan:
            before = (
                disk_usage(self.path)[1]
                if w == "dml" and self.clock.traced else None
            )
            if w in ("insert", "insert_multiple"):
                cols = appends[w]
                _o, secs = self.run_op(
                    w, lambda: self._insert(cols),
                    lambda out, n=len(cols["time_us"]): (
                        None if out == n else f"inserted {out} != {n}"),
                )
                if secs is not None:
                    self._append_model(cols)
            elif w == "insert_dataframe":
                _o, secs = self.run_op(w, lambda: self._bulk(self.bulk_src))
                if secs is not None:
                    self._append_model(appends[w])
            elif w == "stream":
                cols = appends[w]
                ck = os.path.join(self.tmp, f"ck{self.cycle}")
                prog, secs = self.run_op(
                    w, lambda: self._stream(self.stream_src, ck),
                    lambda _p, t=int(self.model["time_us"].max()):
                        self._check_appended(t, gen.STREAM_POINTS),
                )
                if secs is not None:
                    self._append_model(cols)
                    if self.clock.traced:
                        self.stream_progress.extend(
                            (self.clock.round, p) for p in prog)
            elif w == "dml":
                t_lo, t_hi = self.span_bounds()
                p = gen.dml_params(r, t_lo, t_hi)
                mu = gen.dml_mask(self.model, p["update"])
                want_upd = int((mu & (self.model["status"] != 2.0)).sum())
                out, secs = self.run_op(w, lambda: self._dml(p))
                if secs is not None:
                    self.model["status"] = np.where(
                        mu, 2.0, self.model["status"])
                    mr = gen.dml_mask(self.model, p["remove"])
                    self.model = gen.take(self.model, ~mr)
                    self.removed += int(mr.sum())
                    want_n = int((
                        (gen.dml_mask(self.model, p["update"])
                         & (self.model["status"] == 2.0))
                    ).sum())
                    if out != (want_upd, int(mr.sum()), want_n):
                        self.fail("dml", f"(updated, removed, count) {out} "
                                  f"!= {(want_upd, int(mr.sum()), want_n)}")
                    if self.clock.traced:
                        self._record_dml_io(before, want_upd + int(mr.sum()))
            else:  # compact
                _o, secs = self.run_op(
                    w, self._compact,
                    lambda out: None if out >= 0 else f"compact -> {out}",
                )
            # The read that follows every write (read-your-writes).
            t_lo, t_hi = self.span_bounds()
            self.read(op, shape, gen.read_params(r, shape, t_lo, t_hi))
        self.cycle += 1

    def _check_appended(self, after_us: int, n: int):
        from tinyflux_spark import TimeQuery

        got = self.db.count(TimeQuery() > _dt(after_us))
        return None if got == n else f"{got} points landed, sent {n}"

    def _record_dml_io(self, before: dict, rows_changed: int) -> None:
        _total, after = disk_usage(self.path)
        written = sum(sz for k, sz in after.items() if k not in before)
        live = sum(before.values())
        per_row = live / max(1, len(self.model["time_us"]))
        self.dml_io.append(
            (self.clock.round, written / max(1.0, rows_changed * per_row)))

    def finish(self) -> None:
        from tinyflux_spark import TimeQuery

        want = gen.STORE_POINTS + self.inserted - self.removed
        self.attempted += 1
        try:
            n = self.db.count(TimeQuery().noop())
            if n != want or n != len(self.model["time_us"]):
                self.fail("final_size", f"store holds {n}, inserted minus "
                          f"removed says {want}")
        except Exception as e:
            self.fail("final_size", f"{type(e).__name__}: {e}")
        self.disk_bytes = disk_usage(self.path)[0]
        st = self.db.storage
        self.files = st.parquet_file_count()
        parts = {
            d for d, _s, fs in os.walk(st.data_dir)
            if any(f.endswith(".parquet") for f in fs)
        }
        self.partitions = len(parts)
        self.versions = len(st.list_versions())

    def summary(self) -> dict:
        """The workload's named metrics, from its untraced ops."""
        t = self.times
        pts = (gen.BULK_POINTS * len(t("insert_dataframe"))
               + gen.STREAM_POINTS * len(t("stream")))
        secs = sum(t("insert_dataframe", "stream", "compact"))
        return {
            "read_p50_ms": 1000.0 * (median(t(*self.read_ops)) or 0.0),
            "insert_p50_ms": 1000.0 * (
                median(t("insert", "insert_multiple")) or 0.0),
            "ingest_pts_s": pts / secs if secs else 0.0,
            "dml_round_ms": 1000.0 * (median(t("dml")) or 0.0),
            "disk_bytes_per_pt": self.disk_bytes / max(
                1, len(self.model["time_us"])),
        }

    def layers(self) -> dict:
        c = self.clock
        ctor = self.spans("point.ctor")
        n_pts = sum(s.get("n", 0) for s in ctor)
        inserts = self.spans("insert") + self.spans("insert_multiple")
        dml = self.spans("dml")
        prog = [p for r, p in self.stream_progress if r == 0]
        out = self.read_layers()
        out.update({
            "point.ctor_us": 1e6 * sum(c.duration(s) for s in ctor) / max(1, n_pts),
            "schema.points_to_df_ms": self.med_ms("schema.points_to_df"),
            "storages.append_points_ms": self.med_ms(
                "storages.append_points", c.paid),
            "spark.jobs_per_insert": _mean(c.inclusive(s, "jobs") for s in inserts),
            "storages.append_df_ms": self.med_ms("storages.append_df"),
            "streaming.batch_ms": median(
                [_prog(p, "batchDuration") for p in prog]) or 0.0,
            "streaming.rows_per_batch": median(
                [_prog(p, "numInputRows") for p in prog]) or 0.0,
            "storages.compact_ms": self.med_ms("storages.compact"),
            "database.update_ms": self.med_ms("database.update"),
            "database.remove_ms": self.med_ms("database.remove"),
            "storages.bytes_written_per_byte_changed": median(
                [x for r, x in self.dml_io if r == 0]) or 0.0,
            "spark.jobs_per_dml": _mean(c.inclusive(s, "jobs") for s in dml),
            "storages.files": self.files,
            "storages.files_per_partition": self.files / max(1, self.partitions),
            "storages.versions_on_disk": self.versions,
            "storages.disk_bytes": self.disk_bytes,
        })
        return out


def _prog(p, key: str) -> float:
    v = getattr(p, key, None)
    if v is None and isinstance(p, dict):
        v = p.get(key)
    return float(v or 0)


# -- operator_pipeline ---------------------------------------------------
PIPELINE = {
    "q65_derivative": "timeseries",
    "q28_sessionize": "aggregates",
    "q24_ann_cosine_topk": "similarity",
    "q75_ivf_batch_topk": "similarity",
    "q17_dedup_exact": "dedup",
    "q62_top_tokens": "text",
}
MODULES = ["timeseries", "aggregates", "similarity", "dedup", "text"]


class OperatorPipeline(Workload):
    """Registry calls over the seeded corpus: each call builds a fresh
    frame (eager build jobs included) and runs a noop action."""

    name = "operator_pipeline"

    def setup(self) -> tuple:
        import __spark_entry__ as entry

        tables = gen.corpus_tables(self.seed)
        sf = os.path.join(self.tmp, "sf")
        gen.write_corpus(tables, sf)
        t, c0 = time.perf_counter(), cpu_ticks()
        for name, tab in tables.items():
            n = self.spark.read.parquet(os.path.join(sf, f"{name}.parquet")).count()
            self.attempted += 1
            if n != tab.num_rows:
                self.fail("setup", f"{name}: {n} rows != {tab.num_rows}")
        secs = time.perf_counter() - t, cpu_between(c0, cpu_ticks())
        self.sf, self.queries = sf, entry.queries()
        self.orng = gen.rng(self.seed, "order")
        self.frames: dict = {}
        return secs

    def _call(self, qname: str):
        mod = PIPELINE[qname]
        c = self.clock
        with c.span(f"operators.{mod}.build", query=qname):
            df = self.queries[qname](self.spark, self.sf)
        with c.span(f"operators.{mod}.exec", query=qname):
            df.write.format("noop").mode("overwrite").save()
        return df

    def round(self) -> None:
        names = list(PIPELINE)
        for i in self.orng.permutation(len(names)):
            df, _secs = self.run_op(names[i], lambda q=names[i]: self._call(q),
                                    span=f"call.{names[i]}")
            if df is not None:
                self.frames.setdefault(names[i], df)

    def finish(self) -> None:
        """Compare each query's first timed frame with the registry's
        DuckDB oracle, as tools/check_gate.py does, outside the timed
        window."""
        import importlib.util

        import duckdb

        import __spark_entry__ as entry

        spec = importlib.util.spec_from_file_location(
            "check_gate", os.path.join("tools", "check_gate.py"))
        gate = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(gate)
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        for t in gen.CORPUS_ROWS:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet("
                f"'{os.path.join(self.sf, t + '.parquet')}')")
        for qname, df in self.frames.items():
            try:
                bad = gate.nonscalar_columns(df.schema)
                err = (
                    f"non-scalar output columns {bad}" if bad else
                    _frames_differ(gate, df.toPandas(),
                                   con.execute(oracles[qname]).df())
                )
            except Exception as e:
                err = f"check raised {type(e).__name__}: {e}"
            if err:
                self.fail(qname, err)
        con.close()

    def summary(self) -> dict:
        return {}

    def layers(self) -> dict:
        c = self.clock
        spans = self.tspans()
        calls = [s for s in spans if s["name"].startswith("call.")]
        out = {
            f"operators.{m}.{k}": 0.0
            for m in MODULES for k in ("build_s", "exec_s", "jobs_in_build")
        }
        for s in spans:
            parts = s["name"].split(".")
            if parts[0] == "operators":
                out[f"operators.{parts[1]}.{parts[2]}_s"] += c.duration(s)
                if parts[2] == "build":
                    out[f"operators.{parts[1]}.jobs_in_build"] += s.get("jobs", 0)
        out["spark.task_s_per_call"] = _mean(
            c.inclusive(s, "task_s") for s in calls)
        out["spark.shuffle_mb_per_call"] = _mean(
            c.inclusive(s, "shuffle_bytes") for s in calls) / 1e6
        return out


def _frames_differ(gate, got, want):
    """None if two result frames match as tools/check_gate.py compares
    them: sorted columns, order-insensitive normalized values."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != oracle {sorted(want.columns)}"
    if len(got) != len(want):
        return f"{len(got)} rows, oracle {len(want)}"
    if gate.frame_repr(got) != gate.frame_repr(want):
        return f"{len(got)} rows differ from the oracle's"
    return None


WORKLOADS = {w.name: w for w in (IngestMixed, OperatorPipeline)}
