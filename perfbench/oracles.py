"""Correctness oracles, computed from the generator's inputs, never by
the engine. They run after the timed section."""

from __future__ import annotations

import hashlib
import math
import os
from collections import defaultdict

import numpy as np

from perfbench import gen

VALUE_COLS = ["event_id", "user_id", "event_type", "value", "props"]
HLL_P = 8  # the engine's HLL precision (operators/sketch.py)
# |estimate - exact| may reach this many HLL standard errors (1.04/sqrt(m))
HLL_SIGMAS = 4


def _committed(inp: gen.StreamInputs, files: int) -> range:
    return range(min(inp.n, files * inp.records_per_file))


def append_good_rows(inp: gen.StreamInputs, files: int) -> list[dict]:
    return [inp.row(i) for i in _committed(inp, files) if inp.kind[i] == 0]


def newest_per_key(inp: gen.StreamInputs, files: int) -> dict[str, dict]:
    """Upsert/delete semantics: the newest record per key wins and a
    tombstone removes the key."""
    state: dict[str, dict | None] = {}
    for i in _committed(inp, files):
        state[inp.key(i)] = None if inp.kind[i] == 1 else inp.row(i)
    return {k: v for k, v in state.items() if v is not None}


def _row_tuple(r) -> tuple:
    return tuple(r[c] for c in VALUE_COLS)


def _frame_rows(df, cols) -> list[tuple]:
    pdf = df.select(*cols).toPandas()
    return [tuple(x.item() if hasattr(x, "item") else x for x in row) for row in pdf.itertuples(index=False)]


def hll_registers(rows, group: str, col: str, p: int = HLL_P) -> dict[tuple, int]:
    """(group, register) -> rho, the engine's salted-md5 HLL."""
    wbits = 32 - p
    out: dict[tuple, int] = {}
    for r in rows:
        h = int(hashlib.md5(f"hll:{r[col]}".encode()).hexdigest()[:8], 16)
        w = h % (1 << wbits)
        key = (r[group], h >> wbits)
        out[key] = max(out.get(key, 0), wbits + 1 - w.bit_length())
    return out


def hll_estimate(rhos: list[int], p: int = HLL_P) -> float:
    """Standard HLL estimate with the linear-counting small-range branch."""
    m = 1 << p
    alpha = 0.7213 / (1 + 1.079 / m)
    zeros = m - len(rhos)
    est = alpha * m * m / (sum(2.0 ** -r for r in rhos) + zeros)
    if est <= 2.5 * m and zeros:
        est = m * math.log(m / zeros)
    return est


def check_stream(upsert: bool, wh, inp: gen.StreamInputs, files: int, reads) -> dict:
    """Table-level checks plus one verdict per point read."""
    checks: dict = {}
    if upsert:
        want = newest_per_key(inp, files)
        got = _frame_rows(wh.read(gen.TABLE), ["ukey", *VALUE_COLS])
        checks["table_equals_newest_per_key"] = sorted(got) == sorted(
            (k, *_row_tuple(r)) for k, r in want.items()
        )
        live = list(want.values())
        groups: dict[str, list] = defaultdict(lambda: [0, 0])
        for r in live:
            g = groups[r["event_type"]]
            g[0] += 1
            g[1] += int(np.floor(r["value"] * 10_000 + 0.5))
        rollup = _frame_rows(wh.read(gen.ROLLUP_TABLE), ["event_type", "n", "sum_q"])
        checks["rollup_equals_group_by"] = sorted(
            (t, int(n), int(s)) for t, n, s in rollup
        ) == sorted((t, n, s) for t, (n, s) in groups.items())
        regs = _frame_rows(wh.read(gen.SKETCH_TABLE), ["event_type", "register", "rho"])
        got_regs = {(t, int(r)): int(v) for t, r, v in regs}
        checks["hll_registers_exact"] = got_regs == hll_registers(live, "event_type", "event_id")
        sigma = 1.04 / math.sqrt(1 << HLL_P)
        ok = True
        for t, (n, _) in groups.items():
            est = hll_estimate([v for (g, _), v in got_regs.items() if g == t])
            ok &= abs(est - n) <= HLL_SIGMAS * sigma * n
        checks["hll_estimate_within_error"] = ok
        expect = {k: [_row_tuple(r)] for k, r in want.items()}
        live_rows = len(want)
    else:
        good = append_good_rows(inp, files)
        got = _frame_rows(wh.read(gen.TABLE), VALUE_COLS)
        checks["live_rows_equal_staged"] = sorted(got) == sorted(_row_tuple(r) for r in good)
        bad_offsets = sorted(i for i in _committed(inp, files) if inp.kind[i] == 2)
        dlq = wh.read(gen.DLQ_TABLE).select("offset").toPandas()["offset"] if wh.exists(gen.DLQ_TABLE) else []
        checks["dlq_rows_equal_malformed"] = sorted(int(o) for o in dlq) == bad_offsets
        expect = {r["event_id"]: [_row_tuple(r)] for r in good}
        live_rows = len(good)
    failed_reads = 0
    for key, _, rows in reads:
        if isinstance(rows, Exception):
            failed_reads += 1
            continue
        got_rows = [tuple(r[c] for c in VALUE_COLS) for r in rows]
        failed_reads += got_rows != expect.get(key, [])
    checks["reads_match"] = failed_reads == 0
    checks["live_rows"] = live_rows
    checks["failed_reads"] = failed_reads
    return checks


# -- query_mix -------------------------------------------------------------
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def duck_connection(sf_dir: str):
    import duckdb

    con = duckdb.connect()
    for t in TABLES:
        p = os.path.join(sf_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def _canon(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else round(v, 9)
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _canon(x)) for k, x in v.items()))
    if hasattr(v, "item"):
        return _canon(v.item())
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def canonical_rows(pdf) -> list[tuple]:
    """Order-insensitive, column-order-insensitive canonical form."""
    cols = sorted(pdf.columns)
    rows = [tuple(_canon(v) for v in r) for r in pdf[cols].itertuples(index=False)]
    return [tuple(cols)] + sorted(rows, key=lambda r: tuple(str(x) for x in r))


def duck_row_counts(con, sql_by_name: dict[str, str]) -> dict[str, int]:
    return {
        n: int(con.sql(f"SELECT count(*) FROM ({sql})").fetchone()[0])
        for n, sql in sql_by_name.items()
    }
