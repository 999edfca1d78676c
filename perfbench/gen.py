"""Seeded input generation for the benchmark workloads.

Stream workloads get Kafka-contract parquet files (``key``, ``value``,
``topic``, ``partition``, ``offset``, ``timestamp``), one file per
producer flush; the engine sees only these files. The generator also
returns the decoded records so the oracles can be computed from the
inputs, never from the engine.

``query_mix`` inputs come from ``tools/gen_scale.gen`` with its module
``SEED`` set to the workload seed; the tool itself is not modified.
"""

from __future__ import annotations

import contextlib
import importlib
import io
import json
import os
import shutil
import sys
from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
TOPIC = "ev"
# the sink's tables: the topic's own, its dead letters, the IVM outputs
TABLE = TOPIC
DLQ_TABLE = "ev_dlq"
ROLLUP_TABLE = "ev_by_type"
SKETCH_TABLE = "ev_hll"
# 2024-01-01T00:00:00Z in microseconds: Kafka record timestamps start here
BASE_TS_US = 1_704_067_200_000_000

KAFKA_ARROW_SCHEMA = pa.schema(
    [
        ("key", pa.binary()),
        ("value", pa.binary()),
        ("topic", pa.string()),
        ("partition", pa.int32()),
        ("offset", pa.int64()),
        ("timestamp", pa.timestamp("us", tz="UTC")),
    ]
)


@dataclass
class StreamInputs:
    """All records of one stream workload, in offset order.

    ``kind`` per record: 0 = good value, 1 = tombstone (NULL value),
    2 = malformed JSON. Record ``i`` is in flush ``i // records_per_file``."""

    event_id: np.ndarray
    user_id: np.ndarray
    event_type: np.ndarray  # index into EVENT_TYPES
    value: np.ndarray
    props: list[str]
    kind: np.ndarray
    records_per_file: int

    @property
    def n(self) -> int:
        return len(self.event_id)

    def key(self, i: int) -> str:
        return str(int(self.user_id[i]))

    def row(self, i: int) -> dict:
        """The value record as the engine should store it."""
        return {
            "event_id": int(self.event_id[i]),
            "user_id": int(self.user_id[i]),
            "event_type": EVENT_TYPES[int(self.event_type[i])],
            "value": float(self.value[i]),
            "props": self.props[i],
        }


def stream_records(params: dict, seed: int) -> StreamInputs:
    """Draw every record of a stream workload from ``seed``. The value
    fields follow the ``events`` table of ``tools/gen_scale.py``: a
    uniform ``user_id`` (the Kafka key) over ``keyspace`` users, five
    uniform event types, a clipped-normal ``value`` with two decimals
    and ``props`` of the form ``{"k": N}``, N in [0, 100)."""
    rng = np.random.default_rng(seed)
    per_file = int(params["records_per_file"])
    n = per_file * int(params["max_files"])
    kind = np.zeros(n, dtype=np.int8)
    u = rng.random(n)
    kind[u < params["tombstone_share"]] = 1
    kind[(u >= params["tombstone_share"]) & (
        u < params["tombstone_share"] + params["malformed_share"]
    )] = 2
    return StreamInputs(
        # unique ids with seeded gaps, so ids are not dense row numbers
        event_id=np.cumsum(rng.integers(1, 4, n)).astype(np.int64) + 10_000 * seed,
        user_id=rng.integers(0, int(params["keyspace"]), n).astype(np.int64),
        event_type=rng.integers(0, len(EVENT_TYPES), n).astype(np.int8),
        value=np.round(np.abs(rng.normal(60, 70, n)).clip(0, 600), 2),
        props=[json.dumps({"k": int(k)}) for k in rng.integers(0, 100, n)],
        kind=kind,
        records_per_file=per_file,
    )


def _wire_value(inp: StreamInputs, i: int) -> bytes | None:
    k = inp.kind[i]
    if k == 1:
        return None
    text = json.dumps(inp.row(i), separators=(",", ":"))
    if k == 2:
        # a truncated flush: the JSON object never closes
        text = text[: len(text) // 2]
    return text.encode()


def write_stream_files(inp: StreamInputs, out_dir: str) -> list[str]:
    """Write one parquet file per producer flush into ``out_dir`` and
    return their paths in offset order."""
    os.makedirs(out_dir, exist_ok=True)
    per = inp.records_per_file
    paths = []
    for f in range(inp.n // per):
        idx = range(f * per, (f + 1) * per)
        table = pa.table(
            {
                "key": [inp.key(i).encode() for i in idx],
                "value": [_wire_value(inp, i) for i in idx],
                "topic": [TOPIC] * per,
                "partition": np.zeros(per, dtype=np.int32),
                "offset": np.arange(f * per, (f + 1) * per, dtype=np.int64),
                "timestamp": BASE_TS_US + np.arange(f * per, (f + 1) * per) * 1000,
            },
            schema=KAFKA_ARROW_SCHEMA,
        )
        path = os.path.join(out_dir, f"flush_{f:05d}.parquet")
        pq.write_table(table, path)
        paths.append(path)
    return paths


def query_inputs(scale: float, seed: int, cache_root: str) -> str:
    """Generate (or reuse) the query_mix tables for ``seed``; returns the
    directory. Cached per (scale, seed) and excluded from set-up time."""
    out = os.path.join(cache_root, f"query_mix_sf{scale}_seed{seed}")
    done = os.path.join(out, "_DONE")
    if os.path.exists(done):
        return out
    shutil.rmtree(out, ignore_errors=True)
    sys.path.insert(0, os.path.join(os.getcwd(), "tools"))
    try:
        gen_scale = importlib.import_module("gen_scale")
    finally:
        sys.path.pop(0)
    saved = gen_scale.SEED
    gen_scale.SEED = seed
    try:
        with contextlib.redirect_stdout(io.StringIO()):
            gen_scale.gen(scale, out)
    finally:
        gen_scale.SEED = saved
    open(done, "w").close()
    return out
