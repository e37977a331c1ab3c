"""Per-query JVM fixed costs the engine must not pay.

Stored indexes are read back with the schema their own writer stamped
into the parquet footer (``index_common._read_store``), never through
Spark's schema-inference job. Pinned here: the schema is the one
inference would have found, for every store of every family after
save, append, delete and compact; ``load_index`` schedules no Spark
job; and what is not an engine store (missing, empty, foreign) reads
exactly as before.

The codegen cache holds the engine's working set
(``core.session.get_spark``): a repeat pass over the headline lanes
and over one lifecycle cycle of each churned index family compiles no
new class, bar the named LIMIT guards.
"""

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from mmlspark_spark.llm.index_common import _parquet_row_count, _read_store


def _new_jobs(spark, fn):
    """Run ``fn`` and return (its result, the Spark jobs it started)."""
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup(None))
    out = fn()
    return out, set(tracker.getJobIdsForGroup(None)) - before


def _store_dirs(path: str) -> list[str]:
    return sorted(e.name for e in os.scandir(path)
                  if e.is_dir() and not e.name.startswith(("_", ".")))


def _assert_footer_schemas(spark, path: str, stage: str) -> None:
    stores = _store_dirs(path)
    assert stores, f"{path}: no stores after {stage}"
    for name in stores:
        p = f"{path}/{name}"
        got, jobs = _new_jobs(spark, lambda: _read_store(spark, p).schema)
        assert got == spark.read.parquet(p).schema, (stage, name)
        assert not jobs, f"{name} after {stage}: inference job ran"


def _clip(g: int, v: int):
    """An 8-frame 8x9 clip at offset ``v`` into group ``g``'s reel —
    adjacent offsets share 7 of 8 frames."""
    def frame(f):
        return [[(g * 1_000_003 + f * 72 + r * 9 + c) * 2_654_435_761 % 256
                 for c in range(9)] for r in range(8)]
    return [frame(v + k) for k in range(8)]


class _Fam:
    """One stored-index family's lifecycle over tiny inputs."""

    def __init__(self, spark, name: str):
        from mmlspark_spark.llm import dedup, multimodal_dedup
        from mmlspark_spark.llm import similarity as S
        from mmlspark_spark.llm.retrieval import BM25Retriever

        self.load_jobs, self.query = 0, None
        docs = [(i, f"shared body {i % 3} with words repeated {i}")
                for i in range(16)]
        vecs = [(i, [float(i % 5), 1.0, 0.5, float(i % 3)])
                for i in range(24)]
        if name in ("minhash", "simhash", "exact", "bm25"):
            schema, rows, idc = "doc_id long, text string", docs, "doc_id"
        elif name == "video":
            schema, idc = "doc_id long, video array<array<array<int>>>", \
                "doc_id"
            rows = [(i, _clip(i % 4, i // 4)) for i in range(12)]
        else:
            schema, rows, idc = \
                "vec_id long, embedding array<double>", vecs, "vec_id"
        self.base = spark.createDataFrame(rows[:-4], schema)
        self.extra = spark.createDataFrame(
            [(1000 + r[0],) + tuple(r[1:]) for r in rows[-4:]], schema)
        self.dead = spark.createDataFrame([(1,), (1001,)], f"{idc} long")
        self.idc = idc
        cent = spark.createDataFrame(
            [(c, [float(c), 1.0, 0.5, 0.0]) for c in range(4)],
            "cell int, cvec array<double>")
        o = self.obj = {
            "minhash": lambda: dedup.MinHashLSHDeduplicator(
                shingleSize=3, numHashes=16, bands=8),
            "simhash": lambda: dedup.SimHashDeduplicator(
                bands=4, maxHammingDistance=12, maxBucketSize=None),
            "embedding": lambda: dedup.EmbeddingDeduplicator(
                threshold=0.5, method="lsh", numPlanes=16, bands=8,
                maxBucketSize=None),
            "exact": lambda: dedup.IncrementalDeduplicator(
                keyCols=("text",), idCol="doc_id", bloomBits=1 << 12),
            "video": lambda: multimodal_dedup.VideoDHashDeduplicator(
                minOverlap=0.7, maxDocsPerFrameHash=None),
            "lsh": lambda: S.LSHKNN(k=3, numPlanes=8, bands=4),
            "ivf": lambda: S.IVFKNN(k=3, nlist=4),
            "sq8": lambda: S.ScalarQuantizerKNN(k=3),
            "pq": lambda: S.PQKNN(k=3, M=2, K=4),
            "ivfpq": lambda: S.PQKNN(k=3, M=2, K=4),
            "bm25": lambda: BM25Retriever(k=5),
        }[name]()
        self.save = lambda p: o.save_index(self.base, p)
        self.append = lambda p: o.append_to_index(self.extra, p)
        self.delete = lambda p: o.delete_from_index(self.dead, p)
        self.compact = lambda p: o.compact_index(spark, p)
        self.load = lambda p: o.load_index(spark, p)
        if name == "ivf":
            self.save = lambda p: o.save_index(self.base, cent, p)
            self.query = lambda idx: o.search_with_index(
                idx, self.base.filter("vec_id < 2"))
        elif name == "video":
            q = spark.createDataFrame(
                [(-1 - i, _clip(i, 1)) for i in range(2)], schema)
            self.query = lambda idx: o.match_against_index(idx, q)
        elif name == "bm25":
            self.save = lambda p: o.save_index(self.base, p, positions=True)
            q = spark.createDataFrame(
                [(0, "shared body"), (1, "words repeated 3")],
                "query_id long, query string")
            self.query = lambda idx: o.search_with_index(idx, q)
        elif name == "pq":
            cb = o.fit_codebooks(self.base)
            self.save = lambda p: o.save_index(self.base, cb, p)
            self.append = None  # the flat PQ store has no append
        elif name == "ivfpq":
            cb = o.fit_codebooks(self.base)
            self.save = lambda p: o.save_ivfpq_index(self.base, cent, cb, p)
            self.append = lambda p: o.append_to_ivfpq_index(self.extra, p)
            self.delete = lambda p: o.delete_from_ivfpq_index(self.dead, p)
            self.compact = lambda p: o.compact_ivfpq_index(spark, p)
            self.load = lambda p: o.load_ivfpq_index(spark, p)
        elif name == "exact":
            # the bloom sidecar is densified into one broadcast row on
            # load: one collect, by design (IncrementalDeduplicator)
            self.load_jobs = 1


FAMILIES = ("minhash", "simhash", "embedding", "exact", "video", "lsh",
            "ivf", "sq8", "pq", "ivfpq", "bm25")


@pytest.mark.parametrize("name", FAMILIES)
def test_store_reads_match_inference_and_load_runs_no_job(spark, tmp_path,
                                                          name):
    f = _Fam(spark, name)
    p = str(tmp_path / name)
    f.save(p)
    _assert_footer_schemas(spark, p, "save")
    if f.append is not None:
        f.append(p)
        _assert_footer_schemas(spark, p, "append")
    f.delete(p)
    assert "tombstones" in _store_dirs(p)
    _assert_footer_schemas(spark, p, "delete")
    idx, jobs = _new_jobs(spark, lambda: f.load(p))
    assert len(jobs) == f.load_jobs, f"{name}.load_index ran {len(jobs)} jobs"
    assert idx["tombstones"] is not None
    f.compact(p)
    _assert_footer_schemas(spark, p, "compact")


def test_partitioned_store_reads_keep_partition_column(spark, tmp_path):
    """``__cell=N`` directories start with ``_`` yet hold data (Spark's
    rule skips ``_`` names only without ``=``): the footer is found one
    level down and the partition column is still discovered — also for
    the zero-row keeper file compaction leaves when every row died."""
    f = _Fam(spark, "ivf")
    p = str(tmp_path / "ivf")
    f.save(p)
    store = f"{p}/assigned"
    assert "__cell" in _read_store(spark, store).columns
    f.obj.delete_from_index(f.base.select("vec_id"), p)
    f.compact(p)
    assert _parquet_row_count(spark, store) == 0
    assert _read_store(spark, store).schema == \
        spark.read.parquet(store).schema


def _error(fn):
    with pytest.raises(Exception) as e:
        fn()
    return type(e.value), str(e.value)


def test_read_store_falls_back_outside_engine_stores(spark, tmp_path):
    """Missing, empty and foreign (no Spark footer key) directories
    read exactly as a plain ``spark.read.parquet``: same error, same
    schema."""
    missing = str(tmp_path / "missing")
    assert _error(lambda: _read_store(spark, missing)) == \
        _error(lambda: spark.read.parquet(missing))
    empty = tmp_path / "empty"
    empty.mkdir()
    assert _error(lambda: _read_store(spark, str(empty))) == \
        _error(lambda: spark.read.parquet(str(empty)))
    foreign = tmp_path / "foreign"
    foreign.mkdir()
    pq.write_table(pa.table({"a": pa.array([1, 2], pa.int32())}),
                   str(foreign / "part-0.parquet"))
    assert _read_store(spark, str(foreign)).schema == \
        spark.read.parquet(str(foreign)).schema


def test_killed_write_litter_is_invisible(spark, tmp_path):
    """A killed write's ``_temporary/`` part files are invisible to a
    Spark read, so the footer count and the footer schema skip them
    too (``repair_index`` is known to leave such litter)."""
    p = tmp_path / "store"
    spark.range(5).write.parquet(str(p))
    litter = p / "_temporary" / "0" / "_temporary"
    litter.mkdir(parents=True)
    pq.write_table(pa.table({"x": pa.array(["a"] * 7)}),
                   str(litter / "part-00000-litter.snappy.parquet"))
    assert _parquet_row_count(spark, str(p)) == 5 == \
        spark.read.parquet(str(p)).count()
    assert _read_store(spark, str(p)).schema == \
        spark.read.parquet(str(p)).schema


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far: every codegen
    cache miss is one compile."""
    return (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
            .METRIC_COMPILATION_TIME().getCount())


def _collect(df) -> None:
    from mmlspark_spark.core.cache import release_intermediates

    df.collect()
    release_intermediates(df)


# Warm calls are repeated and the FEWEST compiles per call compared:
# identical calls of a multi-stage plan now and then generate new
# source (BM25 compaction: 2 classes in 1 of 12 identical cycles; the
# cause was not isolated), while a cache too small for the working set
# recompiles on every call.
_REPEATS = 3


def test_session_sizes_codegen_cache(spark):
    from mmlspark_spark.core.session import CODEGEN_CACHE_ENTRIES

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == \
        str(CODEGEN_CACHE_ENTRIES)


# Calls that compile fresh classes whatever the cache size: a LIMIT in
# a plan names its row counter from a JVM-wide sequence (Spark's
# BaseLimitExec.newLimitCountTerm), so its generated source differs
# per plan and never hits the cache. knn_bruteforce and IVF searches
# run the ``limit(maxQueries + 1).count()`` size guard on every call
# (llm/similarity.py ``_check_query_size``): 2 classes a call.
_LIMIT_PROBE_COMPILES = {"knn_bruteforce": 2, "ivf": 2}


def test_repeat_headline_pass_compiles_nothing(spark, sf_dir):
    """Warm passes over every headline lane, the way a warm driver
    cycles them, hit the cache for every class (bar the named LIMIT
    probes). Spark's 100-entry default evicted one lane's classes
    while the next compiled, so each warm pass recompiled ~56."""
    from mmlspark_spark.plans.catalog import CATALOG

    lanes = [s for s in CATALOG.values() if s.headline]
    assert lanes
    for spec in lanes:
        _collect(spec.fn(spark, sf_dir))
    counts = {spec.name: [] for spec in lanes}
    for _ in range(_REPEATS):
        for spec in lanes:
            before = _compiles(spark)
            _collect(spec.fn(spark, sf_dir))
            counts[spec.name].append(_compiles(spark) - before)
    assert {n: min(c) for n, c in counts.items()} == \
        {n: _LIMIT_PROBE_COMPILES.get(n, 0) for n in counts}


@pytest.mark.parametrize("name", ("bm25", "ivf", "video"))
def test_repeat_lifecycle_cycle_compiles_nothing(spark, tmp_path, name):
    """One append / delete / compact / load + search cycle over the
    same batch each time (the delete retires exactly what the append
    added), for the families the churn benchmark cycles. Two cycles
    warm up — the first compaction rewrites stores that ``save_index``
    wrote, so the second reads them in a new shape — and warm cycles
    then compile nothing but the named LIMIT probes."""
    f = _Fam(spark, name)
    p = str(tmp_path / name)
    f.save(p)

    def cycle() -> int:
        before = _compiles(spark)
        f.append(p)
        f.obj.delete_from_index(f.extra.select(f.idc), p)
        f.compact(p)
        _collect(f.query(f.load(p)))
        return _compiles(spark) - before

    cycle()
    cycle()
    assert min(cycle() for _ in range(_REPEATS)) == \
        _LIMIT_PROBE_COMPILES.get(name, 0)
