"""The ``query_mix`` workload: an analyst's closed loop over two frozen
query families on generated tables.

Each query is built with ``registry[name](spark, dir)`` and run with
``.count()``. One untimed warm-up pass runs first, then a fixed number of
timed passes: ``--seconds`` at the nominal ``pass_s`` per pass, at
least 2, so every run measures the same amount of work.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import shutil
import time

from perfbench import gen, oracles
from perfbench.common import geomean, log, median


class QueryMixRun:
    def __init__(self, spark, params: dict, tracer) -> None:
        self.spark = spark
        self.params = params
        self.tracer = tracer
        self.families: dict[str, list[str]] = params["families"]

    def setup(self, dest: str) -> None:
        """Bring a fresh copy of the tables online: list and read every
        table's files and count its rows."""
        from kafka_connect_bigquery_spark.session import read_table

        for t in oracles.TABLES:
            read_table(self.spark, dest, t).count()

    def run_query(self, registry, family: str, name: str, sf_dir: str):
        """(wall ms, row count) of one build + count."""
        t = time.perf_counter()
        with self.tracer.span(f"queries.{family}", query=name):
            with self.tracer.span(f"queries.{family}.build", query=name):
                df = registry[name](self.spark, sf_dir)
            with self.tracer.span(f"queries.{family}.action", query=name):
                n = df.count()
        return (time.perf_counter() - t) * 1e3, n

    def one_pass(self, registry, sf_dir: str) -> dict:
        out: dict = {}
        for fam, names in self.families.items():
            for name in names:
                try:
                    out[name] = self.run_query(registry, fam, name, sf_dir)
                except Exception as e:  # noqa: BLE001 - a failed query is a counted outcome
                    out[name] = (None, f"{type(e).__name__}: {str(e)[:200]}")
        return out

    def run(self, work: str, seed: int, seconds: float, setup_repeats: int, cache: str) -> dict:
        from kafka_connect_bigquery_spark import queries as Q

        src = gen.query_inputs(float(self.params["scale"]), seed, cache)
        registry = Q.queries()
        log("inputs ready")
        setup_s = []
        for r in range(setup_repeats):
            dest = os.path.join(work, f"tables{r}")
            shutil.copytree(src, dest)
            t = time.perf_counter()
            self.setup(dest)
            setup_s.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.one_pass(registry, dest)
        warmup_s = time.perf_counter() - t
        log(f"set-up {[round(x, 2) for x in setup_s]}, warm-up {warmup_s:.2f}s")

        self.tracer.start()
        passes = []
        t0 = time.perf_counter()
        for _ in range(max(2, round(seconds / float(self.params["pass_s"])))):
            t = time.perf_counter()
            res = self.one_pass(registry, dest)
            passes.append({"wall_s": time.perf_counter() - t, "queries": res})
        timed_s = time.perf_counter() - t0
        self.tracer.stop()
        log(f"{len(passes)} timed passes in {timed_s:.2f}s: {[round(p['wall_s'], 2) for p in passes]}")

        checks, failed = self.check(Q, registry, dest, src, seed, passes, cache)
        log("checks done")
        per_query = {
            n: median([p["queries"][n][0] for p in passes if p["queries"][n][0] is not None])
            for ns in self.families.values()
            for n in ns
        }
        log(f"per-query median ms: {json.dumps({n: round(ms) for n, ms in per_query.items()})}")
        return {
            "setup_samples_s": setup_s,
            "warmup_s": warmup_s,
            "timed_s": timed_s,
            "passes": passes,
            "per_query_ms": per_query,
            "attempted": sum(len(p["queries"]) for p in passes),
            "failed": failed,
            "checks": checks,
            "error": None,
        }

    def check(self, Q, registry, sf_dir, src, seed, passes, cache):
        """Every timed count against DuckDB's row count of the query's
        oracle SQL, and full values for a seeded sample of queries."""
        names = [n for ns in self.families.values() for n in ns]
        sql = {n: Q.oracle_sql()[n] for n in names}
        con = oracles.duck_connection(src)
        # keyed by the oracle SQL too, so an edited oracle is re-counted
        digest = hashlib.sha256(json.dumps(sql, sort_keys=True).encode()).hexdigest()[:16]
        counts_path = os.path.join(cache, f"duck_counts_{os.path.basename(src)}_{digest}.json")
        if os.path.exists(counts_path):
            with open(counts_path) as f:
                want = json.load(f)
        else:
            want = oracles.duck_row_counts(con, sql)
            with open(counts_path, "w") as f:
                json.dump(want, f)
        bad = set()
        failed = 0
        for p in passes:
            for n, (ms, got) in p["queries"].items():
                if ms is None or got != want[n]:
                    failed += 1
                    bad.add(n)
        sample = random.Random(seed).sample(names, int(self.params["value_checks_per_run"]))
        value_bad = []
        for n in sample:
            got = oracles.canonical_rows(registry[n](self.spark, sf_dir).toPandas())
            exp = oracles.canonical_rows(con.sql(sql[n]).df())
            if got != exp:
                value_bad.append(n)
        con.close()
        failed += len(value_bad)
        return (
            {
                "counts_match_duckdb": not bad,
                "count_mismatches": sorted(bad),
                "values_checked": sample,
                "values_match_duckdb": not value_bad,
                "value_mismatches": value_bad,
            },
            failed,
        )


def summarize(res: dict, families: dict[str, list[str]]) -> dict:
    pq = res["per_query_ms"]
    n_pass = len(res["passes"])
    out = {
        "warmup_s": (res["warmup_s"], "s", 1),
        "queries_per_s": (len(pq) / median([p["wall_s"] for p in res["passes"]]), "1/s", n_pass),
        "query_geomean_ms": (geomean(pq.values()), "ms", len(pq)),
    }
    for fam, names in families.items():
        walls = [sum(p["queries"][n][0] or 0.0 for n in names) / 1e3 for p in res["passes"]]
        out[f"{fam}_pass_s"] = (median(walls), "s", n_pass)
        out[f"{fam}_geomean_ms"] = (geomean([pq[n] for n in names]), "ms", len(names))
    return out
