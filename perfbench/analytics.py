"""The ``analytics`` workload: read-only catalog lanes, one call each
per pass in a seeded order.

An op is the lane function (``plans``), a count of its result and
``release_intermediates``. The count is the aggregate ``count()``
runs, built as its own DataFrame so that the traced run reads the
Catalyst phases of the query that actually executed. The first warm-up pass collects every lane
instead and checks it against the lane's DuckDB oracle; every timed op
must then count the same rows.
"""

from __future__ import annotations

import math
import os
import random
import time

import duckdb

import gen

# Overhead-bound headline lanes, one per engine area: relational
# scan/aggregate, window, MinHash dedup (the heaviest plan
# construction), numpy KNN (Python/Arrow workers) and the SAR
# self-join (shuffle).
LANES = ("tpch_q1", "sessionize", "minhash_dedup", "knn_bruteforce",
         "sar_item_similarity")
# The DuckDB replay of MinHash's hash family takes minutes at bench
# size, so its oracle runs in the self-tests on a tiny corpus; the
# other lanes' oracles run once in every run.
SLOW_ORACLES = ("minhash_dedup",)
TABLES = ("orders", "lineitem", "part", "events", "documents",
          "embeddings")


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 6)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _norm_rows(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(_norm_cell(r[i]) for i in order) for r in rows),
                  key=repr)


def oracle_mismatch(name: str, cols, rows, data: str, oracle: str) -> str | None:
    """None when Spark's rows equal the DuckDB oracle's, else why not."""
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.sql(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
        ora = con.sql(oracle)
        ocols, orows = ora.columns, ora.fetchall()
    finally:
        con.close()
    if sorted(cols) != sorted(ocols):
        return f"{name}: columns {sorted(cols)} vs oracle {sorted(ocols)}"
    a, b = _norm_rows(cols, rows), _norm_rows(ocols, orows)
    if a != b:
        bad = sum(x != y for x, y in zip(a, b)) + abs(len(a) - len(b))
        return f"{name}: {bad} rows differ from the oracle ({len(a)} vs {len(b)})"
    return None


class Analytics:
    def __init__(self, spark, rec, work: str, seed: int, scale: str):
        from mmlspark_spark.core.cache import release_intermediates
        from mmlspark_spark.plans.catalog import CATALOG

        self.spark, self.rec = spark, rec
        self.data = os.path.join(work, "data")
        self.inputs = gen.build(self.data, seed, scale)
        self.rng = random.Random(seed)
        self.catalog, self.release = CATALOG, release_intermediates
        self.counts: dict[str, int] = {}
        self.failed = 0
        self.attempted = 0
        self.errors: list[str] = []

    def setup_once(self) -> None:
        """The inputs a user opens before querying: every table read
        through the engine's loader (schema and file listing)."""
        from mmlspark_spark.core.session import load_table

        for t in TABLES:
            load_table(self.spark, self.data, t).schema

    def _op(self, lane: str, check: bool):
        sp = self.rec.spans

        def body():
            t = time.perf_counter()
            with sp(f"plans.{lane}"):
                df = self.catalog[lane].fn(self.spark, self.data)
            self.rec.mark("plans.build_ms", (time.perf_counter() - t) * 1e3)
            if check:
                with sp("spark.collect"):
                    rows = df.collect()
                res = (df.columns, [tuple(r) for r in rows])
                final = df
            else:
                with sp("spark.count"):
                    final = df.groupBy().count()
                    res = final.collect()[0][0]
            with sp("core.cache.release_intermediates"):
                self.release(df)
            return res, final

        return body

    def one_pass(self, timed: bool, check: bool = False) -> None:
        lanes = list(LANES)
        self.rng.shuffle(lanes)
        for lane in lanes:
            if timed:
                self.attempted += 1
            try:
                res, _ = self.rec.run(lane, self._op(lane, check), timed)
            except Exception as e:  # an op that raises counts as failed
                self.errors.append(f"{lane}: {type(e).__name__}: {e}"[:300])
                self.failed += timed
                continue
            if check:
                cols, rows = res
                self.counts[lane] = len(rows)
                oracle = (lane not in SLOW_ORACLES
                          and self.catalog[lane].oracle)
                why = oracle and oracle_mismatch(lane, cols, rows,
                                                 self.data, oracle)
                if why:
                    self.errors.append(why)
            elif timed and res != self.counts.get(lane):
                self.errors.append(f"{lane}: counted {res} rows, warm pass "
                                   f"counted {self.counts.get(lane)}")
                self.failed += 1

    def kind(self, op: str) -> str:
        return "read"
