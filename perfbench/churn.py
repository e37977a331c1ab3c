"""The ``index_churn`` workload: writes beside reads on stored indexes.

Three index families: BM25 (term-clustered flat stores plus global
stats), IVF (cell-partitioned) and video dHash (hash-clustered frame
store plus a per-clip size ledger). Set-up saves each over a base
corpus plus batch 0. Every cycle then, for each family: appends batch
``c`` (pool rows re-keyed to fresh ids), deletes batch ``c - 1``,
compacts, and loads + searches (for video: matches a clip batch). The
live set is always the base plus one batch, so the stored state
returns to the same size every cycle.

Checks: after every cycle ``index_info`` must show exactly the live
rows and no pending tombstones, and no deleted id may come back from a
search. At the end each family's last search must equal the same search
over the survivors, run without an index (BM25, IVF) or against a fresh
``save_index`` of them (video).
"""

from __future__ import annotations

import os
import random
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

BATCH_ID0 = 1_000_000


def tree_stats(path: str) -> tuple[int, int]:
    """(files, bytes) under ``path``."""
    files = size = 0
    for d, _, names in os.walk(path):
        for n in names:
            files += 1
            size += os.path.getsize(os.path.join(d, n))
    return files, size


def _rows(rows) -> list[tuple]:
    return sorted(tuple(round(v, 6) if isinstance(v, float) else v
                        for v in r) for r in rows)


class Family:
    """One index family: its retriever, input kind, id column, the
    store whose row count is the live set and its search method."""

    def __init__(self, name, module, obj, kind, id_col, store,
                 search="search_with_index"):
        self.name, self.obj = name, obj
        self.kind, self.id_col, self.store = kind, id_col, store
        self.search = search
        self.cls = f"{module}.{type(obj).__name__}"  # span names


class Churn:
    def __init__(self, spark, rec, work: str, seed: int, scale: str):
        from mmlspark_spark.core.cache import release_intermediates
        from mmlspark_spark.llm import BM25Retriever, VideoDHashDeduplicator
        from mmlspark_spark.llm.similarity import IVFKNN

        self.spark, self.rec, self.work = spark, rec, work
        self.release = release_intermediates
        sc = gen.SCALES[scale]
        self.n_base = sc["documents"] // 4
        self.batch = max(20, sc["documents"] // 40)
        self.seed = seed
        self.rng = np.random.default_rng(seed + 7)
        self.order = random.Random(seed)
        self.fams = [
            Family("bm25", "llm.retrieval", BM25Retriever(k=10), "docs",
                   "doc_id", "doclens"),
            Family("ivf", "llm.similarity",
                   IVFKNN(idCol="vec_id", vecCol="embedding", k=10,
                          nlist=16, nProbe=4), "vecs", "vec_id", "assigned"),
            Family("video", "llm.multimodal_dedup",
                   VideoDHashDeduplicator(idCol="doc_id", videoCol="clip",
                                          minOverlap=0.7), "clips",
                   "doc_id", "sizes", search="match_against_index"),
        ]
        self.failed = self.attempted = 0
        self.errors: list[str] = []
        self.cycle = 0
        self.live = self.n_base + self.batch
        self.history: list[dict] = []
        self.last_rows: dict[str, list] = {}
        self.setups = 0
        self._inputs()

    # ---------------------------------------------------------- inputs
    def _inputs(self) -> None:
        d = os.path.join(self.work, "churn_in")
        os.makedirs(d, exist_ok=True)
        self.indir = d
        rng = np.random.default_rng(self.seed)
        n_pool = self.n_base + 4 * self.batch
        self.pool = {"docs": gen.documents(rng, n_pool),
                     "vecs": gen.embeddings(rng, n_pool),
                     "clips": gen.clips(rng, n_pool)}
        self.inputs = {"base": self.n_base, "batch": self.batch,
                       "pool": n_pool}
        qr = np.random.default_rng(self.seed + 1)
        texts = [gen.make_text(qr, int(qr.integers(3, 6))) for _ in range(4)]
        pq.write_table(pa.table({"query_id": pa.array(range(4), pa.int64()),
                                 "query": pa.array(texts)}),
                       os.path.join(d, "docs_q.parquet"))
        qv = self.pool["vecs"].take(qr.integers(0, n_pool, 4))
        qv = qv.set_column(0, "vec_id", pa.array([-1, -2, -3, -4], pa.int64()))
        pq.write_table(qv, os.path.join(d, "vecs_q.parquet"))
        # query clips are copies of base clips: each has a live match
        qc = self.pool["clips"].take(qr.integers(0, self.n_base, 4))
        qc = qc.set_column(0, "doc_id", pa.array([-1, -2, -3, -4], pa.int64()))
        pq.write_table(qc, os.path.join(d, "clips_q.parquet"))
        self._write_batch(0)
        for kind, t in self.pool.items():
            base = t.slice(0, self.n_base)
            pq.write_table(base, os.path.join(d, f"{kind}_base.parquet"))
            b0 = pq.read_table(os.path.join(d, f"{kind}_b0.parquet"))
            pq.write_table(pa.concat_tables([base, b0]),
                           os.path.join(d, f"{kind}_init.parquet"))
        self.q = {k: self._df(k, "q") for k in self.pool}
        self.cent = (self._df("vecs", "base").filter("vec_id < 16")
                     .selectExpr("vec_id AS cell", "embedding AS cvec"))

    def _write_batch(self, c: int) -> None:
        """Batch ``c``: pool rows picked by the seed, re-keyed to ids
        ``BATCH_ID0 + c * batch + j``."""
        for kind, t in self.pool.items():
            pick = self.rng.choice(t.num_rows, self.batch, replace=False)
            b = t.take(pick)
            ids = pa.array(np.arange(self.batch, dtype=np.int64)
                           + BATCH_ID0 + c * self.batch)
            b = b.set_column(0, b.schema.field(0).name, ids)
            pq.write_table(b, os.path.join(self.indir,
                                           f"{kind}_b{c}.parquet"))

    def _df(self, kind: str, tag):
        return self.spark.read.parquet(
            os.path.join(self.indir, f"{kind}_{tag}.parquet"))

    # ----------------------------------------------------------- set-up
    def _save(self, f: Family, df, path: str) -> None:
        with self.rec.spans(f"{f.cls}.save_index"):
            if f.name == "ivf":
                f.obj.save_index(df, self.cent, path)
            else:
                f.obj.save_index(df, path)

    def setup_once(self) -> None:
        """Save every family over base + batch 0 into a fresh
        artifact root; the last set-up's root is the one churned."""
        self.root = os.path.join(self.work, "idx", f"setup{self.setups}")
        self.setups += 1
        for f in self.fams:
            self._save(f, self._df(f.kind, "init"),
                       os.path.join(self.root, f.name))

    # ----------------------------------------------------------- cycles
    def _search(self, f: Family, path: str):
        sp = self.rec.spans
        t = time.perf_counter()
        with sp(f"{f.cls}.load_index"):
            idx = f.obj.load_index(self.spark, path)
        with sp(f"{f.cls}.{f.search}"):
            out = getattr(f.obj, f.search)(idx, self.q[f.kind])
        self.rec.mark("plans.build_ms", (time.perf_counter() - t) * 1e3)
        with sp("spark.collect"):
            rows = [tuple(r) for r in out.collect()]
        with sp("core.cache.release_intermediates"):
            self.release(out)
        return rows, out

    def _ops(self, f: Family, c: int):
        path = os.path.join(self.root, f.name)
        sp = self.rec.spans
        new = self._df(f.kind, f"b{c}")
        dead = self._df(f.kind, f"b{c - 1}").select(f.id_col)

        def append():
            with sp(f"{f.cls}.append_to_index"):
                f.obj.append_to_index(new, path)
            return None, None

        def delete():
            with sp(f"{f.cls}.delete_from_index"):
                f.obj.delete_from_index(dead, path)
            return None, None

        def compact():
            with sp(f"{f.cls}.compact_index"):
                f.obj.compact_index(self.spark, path)
            return None, None

        return [("append", append), ("delete", delete),
                ("compact", compact), ("search", lambda: self._search(f, path))]

    def one_pass(self, timed: bool, check: bool = False) -> None:
        """One cycle over every family."""
        self.cycle += 1
        c = self.cycle
        self._write_batch(c)
        fams = list(self.fams)
        self.order.shuffle(fams)
        for f in fams:
            for step, fn in self._ops(f, c):
                name = f"{f.name}.{step}"
                if timed:
                    self.attempted += 1
                try:
                    res, _ = self.rec.run(name, fn, timed)
                except Exception as e:
                    self.errors.append(f"cycle {c} {name}: "
                                       f"{type(e).__name__}: {e}"[:300])
                    self.failed += timed
                    continue
                if step == "search":
                    self.last_rows[f.name] = res
                    self._check_search(f, res, c, timed)
        self._check_cycle(c, timed)

    def _check_search(self, f: Family, rows, c: int, timed: bool) -> None:
        pos = 1  # the stored id follows the query's in every schema
        lo, hi = BATCH_ID0, BATCH_ID0 + c * self.batch
        back = [r[pos] for r in rows if lo <= r[pos] < hi]
        if back or not rows:
            self.errors.append(f"cycle {c} {f.name}.search: "
                               f"{len(rows)} rows, deleted ids {back[:5]}")
            self.failed += timed

    def _check_cycle(self, c: int, timed: bool) -> None:
        from mmlspark_spark.llm.index_common import index_info

        live, ts = {}, {}
        for f in self.fams:
            with self.rec.spans("llm.index_common.index_info"):
                info = index_info(self.spark, os.path.join(self.root, f.name))
            live[f.name] = info["stores"].get(f.store)
            ts[f.name] = info["pending_tombstones"]
            if live[f.name] != self.live or ts[f.name] != 0:
                self.errors.append(
                    f"cycle {c} {f.name}: {live[f.name]} live rows "
                    f"(want {self.live}), {ts[f.name]} pending tombstones")
        files, size = tree_stats(self.root)
        self.history.append({"cycle": c, "timed": timed, "live": live,
                             "files": files,
                             "bytes": size,
                             "bytes_per_row": size / (self.live * len(self.fams))})

    def final_check(self) -> None:
        """Each family's last search equals the same search over the
        survivors (the base plus the last batch): straight over them,
        without an index, where the family has such a search (BM25,
        IVF), else against a fresh ``save_index`` of them (video)."""
        c = self.cycle
        for f in self.fams:
            surv = self._df(f.kind, "base").unionByName(
                self._df(f.kind, f"b{c}"))
            q = self.q[f.kind]
            try:
                if f.name == "bm25":
                    want = [tuple(r) for r in f.obj.search(surv, q).collect()]
                elif f.name == "ivf":
                    want = [tuple(r) for r in f.obj.search_with_centroids(
                        surv, q, self.cent).collect()]
                else:
                    fresh = os.path.join(self.work, "idx", "fresh", f.name)
                    self._save(f, surv, fresh)
                    want, _ = self._search(f, fresh)
            except Exception as e:
                self.errors.append(f"final {f.name}: {type(e).__name__}: {e}"[:300])
                continue
            if _rows(self.last_rows.get(f.name, [])) != _rows(want):
                self.errors.append(f"final {f.name}: churned search differs "
                                   "from a search over the survivors")

    def kind(self, op: str) -> str:
        return "read" if op.endswith(".search") else "write"
