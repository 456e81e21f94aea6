"""Seeded input generators for the benchmark.

Everything the benchmark feeds the program comes from here, and only
from ``--seed``: the IoT point store, the points each write appends,
the read and write op plans, and the operator corpus. Each purpose
draws from its own ``numpy`` stream (``rng(seed, purpose)``), so adding
a draw to one purpose never shifts another, and the same seed gives
byte-identical inputs. Nothing here imports Spark or the package under
test; ``perfbench/tests`` checks determinism without a JVM.
"""

from __future__ import annotations

import hashlib
from datetime import datetime, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The reference benchmark's IoT shape (tinyflux performance_tests).
MEASUREMENTS = ["temperature", "cpu_usage", "memory_usage", "network_io"]
SENSORS = [f"sensor_{i:03d}" for i in range(20)]
LOCATIONS = ["datacenter_1", "datacenter_2", "edge_device", "mobile_unit"]
DEVICE_TYPES = ["server", "raspberry_pi", "arduino"]

STORE_POINTS = 100_000
EPOCH_US = int(datetime(2024, 3, 1, tzinfo=timezone.utc).timestamp()) * 10**6
HOUR_US = 3600 * 10**6
DAY_US = 24 * HOUR_US

_PURPOSES = {
    "store": 1, "writes": 3, "stream": 4,
    "events": 5, "documents": 6, "embeddings": 7, "order": 9,
}


def rng(seed: int, purpose: str) -> np.random.Generator:
    """Independent stream per (seed, purpose)."""
    return np.random.default_rng([int(seed), _PURPOSES[purpose]])


# -- IoT points ---------------------------------------------------------
def iot_points(
    r: np.random.Generator, n: int, start_us: int, first_row: int = 0
) -> dict:
    """``n`` points in the reference benchmark's shape as numpy columns.

    Times step 1-5 s from ``start_us``; ``batch_id`` is the global row
    index // 1000, so appended batches continue the series."""
    step = r.integers(1, 6, size=n).astype(np.int64) * 10**6
    return {
        "time_us": start_us + np.cumsum(step),
        "m": r.integers(0, len(MEASUREMENTS), size=n).astype(np.int8),
        "sensor": r.integers(0, len(SENSORS), size=n).astype(np.int8),
        "location": r.integers(0, len(LOCATIONS), size=n).astype(np.int8),
        "device": r.integers(0, len(DEVICE_TYPES), size=n).astype(np.int8),
        "value": np.round(r.uniform(0.0, 100.0, size=n), 2),
        "status": r.integers(0, 2, size=n).astype(np.float64),
        "batch_id": (
            (first_row + np.arange(n, dtype=np.int64)) // 1000
        ).astype(np.float64),
    }


def store_points(seed: int) -> dict:
    """The seeded 100k-point store ingest_mixed starts from.

    The seed picks the start date; the start time is fixed at 13:10 UTC
    so the store (about 3.5 days) ends near 00:30, and one cycle's
    appends (about 13 hours) land in one date partition on every seed:
    how many partitions a write touches is part of its cost."""
    r = rng(seed, "store")
    start = EPOCH_US + int(r.integers(0, 28)) * DAY_US + 47_400 * 10**6
    return iot_points(r, STORE_POINTS, start)


def concat(a: dict, b: dict) -> dict:
    return {k: np.concatenate([a[k], b[k]]) for k in a}


def take(cols: dict, mask: np.ndarray) -> dict:
    return {k: v[mask] for k, v in cols.items()}


def to_arrow(cols: dict) -> pa.Table:
    """Canonical point schema: time, measurement, tags map, fields map."""
    n = len(cols["time_us"])
    offsets = pa.array(np.arange(0, 3 * n + 1, 3, dtype=np.int32))
    tag_keys = np.tile(
        np.array(["sensor_id", "location", "device_type"], dtype=object), n
    )
    tag_vals = np.empty(3 * n, dtype=object)
    tag_vals[0::3] = np.array(SENSORS, dtype=object)[cols["sensor"]]
    tag_vals[1::3] = np.array(LOCATIONS, dtype=object)[cols["location"]]
    tag_vals[2::3] = np.array(DEVICE_TYPES, dtype=object)[cols["device"]]
    field_keys = np.tile(
        np.array(["value", "status", "batch_id"], dtype=object), n
    )
    field_vals = np.empty(3 * n, dtype=np.float64)
    field_vals[0::3] = cols["value"]
    field_vals[1::3] = cols["status"]
    field_vals[2::3] = cols["batch_id"]
    return pa.table({
        "time": pa.array(cols["time_us"], pa.timestamp("us", tz="UTC")),
        "measurement": pa.array(
            np.array(MEASUREMENTS, dtype=object)[cols["m"]], pa.string()
        ),
        "tags": pa.MapArray.from_arrays(
            offsets, pa.array(tag_keys, pa.string()),
            pa.array(tag_vals, pa.string()),
        ),
        "fields": pa.MapArray.from_arrays(
            offsets, pa.array(field_keys, pa.string()),
            pa.array(field_vals, pa.float64()),
        ),
    })


def write_points_parquet(cols: dict, path: str, files: int = 1) -> None:
    """Write the points as ``files`` parquet files under ``path``, in
    row order (file i holds the i-th contiguous slice)."""
    import os

    os.makedirs(path, exist_ok=True)
    table = to_arrow(cols)
    n = table.num_rows
    bounds = np.linspace(0, n, files + 1).astype(int)
    for i in range(files):
        pq.write_table(
            table.slice(bounds[i], bounds[i + 1] - bounds[i]),
            os.path.join(path, f"part-{i:03d}.parquet"),
        )


# -- read ops -----------------------------------------------------------
# The read mix: each of the six read calls once, over the reference
# benchmark's four query shapes (tag lookup, time range, field filter,
# compound). A cycle runs all six in seeded order, one after each write.
READ_MIX = [
    ("search_arrow", "tag"), ("search", "range"), ("count", "field"),
    ("contains", "compound"), ("get", "tag"), ("select", "range"),
]


def read_params(r: np.random.Generator, shape: str, t_lo: int, t_hi: int):
    """Seeded parameters of one read shape over the live time span."""
    if shape == "tag":
        return {"sensor": int(r.integers(0, len(SENSORS)))}
    if shape == "range":
        lo = window(r, t_lo, t_hi, HOUR_US)
        return {"lo": lo, "hi": lo + HOUR_US}
    if shape == "field":
        return {"above": round(float(r.uniform(97.5, 98.5)), 2)}
    if shape == "compound":
        return {
            "above": round(float(r.uniform(80.0, 90.0)), 2),
            "location": int(r.integers(0, len(LOCATIONS))),
        }
    raise ValueError(shape)


def window(r: np.random.Generator, t_lo: int, t_hi: int, width: int) -> int:
    """Seeded start of a ``width`` window inside [t_lo, t_hi] that does
    not cross midnight UTC, so it always falls in one date partition."""
    lo = int(r.integers(t_lo, max(t_lo + 1, t_hi - width)))
    day_end = (lo // DAY_US + 1) * DAY_US
    if lo + width > day_end:
        lo = day_end - width if day_end - width >= t_lo else day_end
    return lo


def match_mask(cols: dict, shape: str, p: dict) -> np.ndarray:
    """Rows a read shape selects, computed in Python from the model."""
    if shape == "tag":
        return cols["sensor"] == p["sensor"]
    if shape == "range":
        return (cols["time_us"] >= p["lo"]) & (cols["time_us"] < p["hi"])
    if shape == "field":
        return cols["value"] > p["above"]
    if shape == "compound":
        return (
            (cols["value"] > p["above"]) & (cols["status"] == 1.0)
            & (cols["location"] == p["location"])
        )
    raise ValueError(shape)


# -- ingest_mixed cycles ----------------------------------------------
WRITES = ["insert", "insert_multiple", "insert_dataframe", "stream", "dml"]
BULK_POINTS = 10_000
STREAM_FILES = 2
STREAM_POINTS = 5_000
# Points each append of a cycle writes.
APPEND_POINTS = {"insert": 1, "insert_multiple": 100,
                 "insert_dataframe": BULK_POINTS, "stream": STREAM_POINTS}
DML_WINDOW_US = 6 * HOUR_US


def cycle_plan(r: np.random.Generator) -> list:
    """One cycle: (write, (read op, shape)) pairs. The five writes run in
    seeded order, then compact; the read mix is shuffled over them."""
    writes = [WRITES[i] for i in r.permutation(len(WRITES))] + ["compact"]
    reads = [READ_MIX[i] for i in r.permutation(len(READ_MIX))]
    return list(zip(writes, reads))


def dml_params(r: np.random.Generator, t_lo: int, t_hi: int) -> dict:
    """A scoped update and a scoped remove, each one measurement and
    one sensor over a 6-hour window of live data."""
    def scope():
        lo = window(r, t_lo, t_hi, DML_WINDOW_US)
        return {
            "m": int(r.integers(0, len(MEASUREMENTS))),
            "sensor": int(r.integers(0, len(SENSORS))),
            "lo": lo, "hi": lo + DML_WINDOW_US,
        }
    return {"update": scope(), "remove": scope()}


def dml_mask(cols: dict, s: dict) -> np.ndarray:
    return (
        (cols["m"] == s["m"]) & (cols["sensor"] == s["sensor"])
        & (cols["time_us"] >= s["lo"]) & (cols["time_us"] < s["hi"])
    )


# -- operator corpus ----------------------------------------------------
CORPUS_ROWS = {"events": 100_000, "documents": 5_000, "embeddings": 2_000}
EVENT_TYPES = ["signup", "click", "error", "view", "purchase"]
VOCAB = (
    "a the data table row column value key scan sort hash join merge "
    "group agg filter query order line part customer window stream "
    "batch spark vector fast slow big small"
).split()
LANGS = ["en", "en", "en", "fr", "de", "es", "zh"]


def corpus_tables(seed: int, rows: dict = CORPUS_ROWS) -> dict:
    """The operator corpus (events, documents, embeddings) in the
    registry's column shapes and sf0.1 sizes, as Arrow tables."""
    return {
        "events": _events(rng(seed, "events"), rows["events"]),
        "documents": _documents(rng(seed, "documents"), rows["documents"]),
        "embeddings": _embeddings(
            rng(seed, "embeddings"), rows["embeddings"]
        ),
    }


def _events(r, n):
    t0 = int(datetime(2024, 1, 1, tzinfo=timezone.utc).timestamp()) * 10**6
    ts = np.sort(t0 + r.integers(0, 30 * DAY_US, size=n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64)),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(r.integers(0, 2_000, size=n).astype(np.int64)),
        "event_type": pa.array(
            np.array(EVENT_TYPES, dtype=object)[
                r.integers(0, len(EVENT_TYPES), size=n)
            ], pa.string()
        ),
        "value": pa.array(np.round(r.uniform(0.0, 560.0, size=n), 2)),
        "props": pa.array(
            [f'{{"k": {k}}}' for k in r.integers(0, 100, size=n)],
            pa.string(),
        ),
    })


def _documents(r, n):
    vocab = np.array(VOCAB, dtype=object)
    texts = []
    for i in range(n):
        if i and r.random() < 0.02:
            # Near-duplicates: a copy of an earlier document with one
            # word swapped, so the dedup operators find real pairs.
            words = texts[int(r.integers(0, i))].split()
            words[int(r.integers(0, len(words)))] = str(
                vocab[int(r.integers(0, len(vocab)))]
            )
        else:
            words = list(vocab[r.integers(0, len(vocab),
                                          size=int(r.integers(8, 90)))])
        texts.append(" ".join(words))
    return pa.table({
        "doc_id": pa.array(np.arange(n, dtype=np.int64)),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array(
            np.array(LANGS, dtype=object)[r.integers(0, len(LANGS), size=n)],
            pa.string(),
        ),
        "source": pa.array([f"src{i % 20}" for i in range(n)], pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def _embeddings(r, n, dim=64, clusters=10):
    centers = r.normal(size=(clusters, dim))
    label = r.integers(0, clusters, size=n)
    v = centers[label] + 0.8 * r.normal(size=(n, dim))
    v = (v / np.linalg.norm(v, axis=1, keepdims=True)).astype(np.float32)
    return pa.table({
        "vec_id": pa.array(np.arange(n, dtype=np.int64)),
        "embedding": pa.array(list(v), pa.list_(pa.float32())),
        "label": pa.array(label.astype(np.int32)),
    })


def write_corpus(tables: dict, sf_dir: str) -> None:
    import os

    os.makedirs(sf_dir, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(sf_dir, f"{name}.parquet"))


def digest(obj) -> str:
    """Stable content hash of generated inputs (Arrow tables, numpy
    column dicts, op plans) for the determinism tests."""
    h = hashlib.sha256()

    def feed(x):
        if isinstance(x, pa.Table):
            sink = pa.BufferOutputStream()
            with pa.ipc.new_stream(sink, x.schema) as w:
                w.write_table(x)
            h.update(sink.getvalue().to_pybytes())
        elif isinstance(x, np.ndarray):
            h.update(x.tobytes())
        elif isinstance(x, dict):
            for k in sorted(x):
                h.update(str(k).encode())
                feed(x[k])
        elif isinstance(x, (list, tuple)):
            for v in x:
                feed(v)
        else:
            h.update(repr(x).encode())

    feed(obj)
    return h.hexdigest()
