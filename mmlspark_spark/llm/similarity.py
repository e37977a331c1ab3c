"""Similarity search over embedding columns (array<float>).

Two engines:

- ``BruteForceKNN``: exact top-k by cosine. The ``expr`` method is pure
  Catalyst (zip_with dot products + window top-k) — the correctness
  baseline. The ``numpy`` method is the throughput path: Arrow batches →
  one BLAS matmul per batch, per-partition partial top-k (k rows per
  query per partition survive), then a final tiny window — the shuffle
  carries O(#queries × #partitions × k) rows instead of O(#queries × N).

- ``LSHKNN``: random-hyperplane (signed random projection) LSH — the
  100 TB scale path. Bit signatures bucket the corpus; search touches
  only colliding buckets. Recall < 1 by construction; report it against
  the brute-force baseline in tests.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mmlspark_spark.functions.vector import cosine_similarity, vector_dim

# Tombstone lifecycle + crash-safer flat rewrites are shared with the
# dedup/BM25 index families — one delete model across every stored
# index in the engine (see index_common's module docstring).
from mmlspark_spark.llm.index_common import (
    _add_tombstones,
    _begin_file_append,
    _clear_append_markers,
    _clear_tombstones,
    _commit_file_append,
    _compact_partitioned_store,
    _drop_tombstoned,
    _file_append_committed,
    _parquet_row_count,
    _read_store,
    _read_tombstones,
    _refuse_save_over_torn_append,
    _refuse_tombstoned_append,
    _refuse_torn_file_append,
    _replace_flat_store,
)

_MAX_QUERY_ROWS = 1_000_000  # broadcast/collect query lanes refuse beyond


def _check_query_size(queries: DataFrame, what: str,
                      max_rows: int | None) -> None:
    """Fail fast BEFORE the query frame is collected or broadcast —
    every search lane in this module holds the full query frame on the
    driver (numpy collect) or in each executor (JVM broadcast), so an
    unbounded query side is a silent OOM at scale. One cheap
    limit+count job, same pattern as nn/knn._check_index_size (check
    AFTER the materialization cannot prevent the OOM it exists to
    prevent)."""
    if max_rows is None:
        return
    if queries.limit(max_rows + 1).count() > max_rows:
        raise ValueError(
            f"{what}: query frame exceeds maxQueries={max_rows} rows — "
            "it is broadcast to every executor by design; batch the "
            "queries, raise maxQueries deliberately, or flip the "
            "frames (index the queries, stream the corpus)")


def _compact_cells(spark, store_path: str, ts: DataFrame,
                   index_path: str) -> int:
    """Shared cell-partitioned compaction (IVF ``assigned`` and IVFPQ
    ``codes`` stores): rewrite ONLY the ``__cell=`` directories that
    hold a tombstoned ``d_id``, DELETE the directories of cells whose
    every row was tombstoned, then clear the tombstones — the
    partition-store machinery itself is shared with every other
    partition-directory artifact (index_common
    ``_compact_partitioned_store``). Returns the number of affected
    cells."""
    n = _compact_partitioned_store(spark, store_path, ts,
                                   idCol="d_id", partCol="__cell",
                                   sortCols=("__cell", "d_id"))
    _clear_tombstones(spark, index_path)
    return n


def search_in_query_chunks(search_fn, queries: DataFrame, idCol: str,
                           chunkRows: int) -> DataFrame:
    """Run a per-query-independent search lane over the query frame in
    bounded chunks and union the results — the lane that retires the
    maxQueries hard stop for legitimate batch-scoring jobs (score
    every document against a 10M-query frame) without giving up the
    guard's OOM protection: each chunk is still small enough to
    broadcast/collect, and per-query top-k is independent across
    chunks, so the union equals the single-shot result exactly
    (pinned in tests).

    Chunking is a deterministic hash split (``pmod(xxhash64(id),
    nChunks)`` — no global sort, no driver materialization of the
    query frame); chunk sizes are hash-balanced in expectation
    (stddev ~ sqrt(chunkRows)), so pick ``chunkRows`` comfortably
    under the lane's maxQueries. One count job sizes the chunk
    grid."""
    if chunkRows < 1:
        raise ValueError(f"chunkRows={chunkRows} must be >= 1")
    from mmlspark_spark.core.cache import (
        attach_intermediates,
        persist_intermediate,
    )

    # the sizing count + every per-chunk filter re-evaluates the query
    # frame (nch+1 passes) — an expensive upstream query plan would
    # multiply by the chunk count; persist for the loop's duration
    # (the count materializes it), released by the caller via
    # release_intermediates like every other persisted intermediate
    queries = persist_intermediate(queries)
    n = queries.count()
    nch = -(-n // chunkRows) if n else 1  # ceil
    if nch <= 1:
        return attach_intermediates(search_fn(queries), queries)
    chunk = F.pmod(F.xxhash64(F.col(idCol).cast("string")),
                   F.lit(nch))
    from functools import reduce

    out = reduce(DataFrame.unionByName,
                 [search_fn(queries.filter(chunk == i))
                  for i in range(nch)])
    return attach_intermediates(out, queries)


def _maybe_chunk_queries(obj, queries: DataFrame, fn) -> DataFrame:
    """Route through the hash-chunked batch-scoring lane when the
    retriever's ``chunkQueries`` is set (see
    :func:`search_in_query_chunks`); per-chunk searches still pass
    the maxQueries guard."""
    if getattr(obj, "chunkQueries", None) is None:
        return fn(queries)
    return search_in_query_chunks(fn, queries, obj.idCol,
                                  obj.chunkQueries)


def _topk_window(scored: DataFrame, k: int) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "sim", "rank")
    )


class BruteForceKNN:
    """Exact top-k cosine neighbors of each query vector.

    ``search(data, queries)``: both DataFrames carry (idCol, vecCol);
    queries are broadcast (they are the small side by construction).
    """

    def __init__(self, idCol: str = "vec_id", vecCol: str = "embedding",
                 k: int = 10, method: str = "expr", excludeSelf: bool = True,
                 maxQueries: int | None = _MAX_QUERY_ROWS,
                 chunkQueries: int | None = None):
        assert method in ("expr", "numpy")
        self.idCol, self.vecCol, self.k = idCol, vecCol, k
        self.method = method
        self.excludeSelf = excludeSelf
        self.maxQueries = maxQueries
        self.chunkQueries = chunkQueries

    def search(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        return _maybe_chunk_queries(
            self, queries, lambda qc: self._search_one(data, qc))

    def _search_one(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        _check_query_size(queries, "BruteForceKNN", self.maxQueries)
        if self.method == "expr":
            return self._search_expr(data, queries)
        return self._search_numpy(data, queries)

    def _search_expr(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        from mmlspark_spark.functions.vector import dot, norm

        # Norms are hoisted to per-ROW projections below the cross
        # join: inside cosine_similarity they would re-evaluate per
        # PAIR (queries × corpus times instead of once per vector) —
        # measured 0.95 s → 0.70 s at sf0.1.
        # norms are clamped to the same 1e-300 floor the numpy path
        # uses: a zero vector would otherwise divide to NULL here but
        # to sim 0.0 there, and the two "exact" methods must agree
        q = queries.select(
            F.col(self.idCol).alias("query_id"),
            F.transform(self.vecCol, lambda x: x.cast("double"))
            .alias("__qv"),
        ).select("query_id", "__qv",
                 F.greatest(norm("__qv"), F.lit(1e-300)).alias("__qn"))
        # the dot products happen on the corpus side of the broadcast
        # join — a 1-2-split scan would serialize them onto 1-2 cores;
        # byte-aware floor: below ~32 MB/slot the BLAS work is cheaper
        # than the spread's shuffle, keep the narrow plan
        d = spread_narrow_scan(data, VECTOR_MATH_BYTES_PER_SLOT).select(
            F.col(self.idCol).alias("neighbor_id"),
            F.transform(self.vecCol, lambda x: x.cast("double"))
            .alias("__dv"),
        ).select("neighbor_id", "__dv",
                 F.greatest(norm("__dv"), F.lit(1e-300)).alias("__dn"))
        scored = d.crossJoin(F.broadcast(q)).select(
            "query_id", "neighbor_id",
            (dot("__qv", "__dv")
             / (F.col("__qn") * F.col("__dn"))).alias("sim"),
        )
        if self.excludeSelf:
            scored = scored.filter(F.col("query_id") != F.col("neighbor_id"))
        return _topk_window(scored, self.k)

    def _search_numpy(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        k, exclude = self.k, self.excludeSelf
        qrows = queries.select(self.idCol, self.vecCol).collect()
        idt = data.schema[self.idCol].dataType.simpleString()
        if not qrows:
            # empty query frame (or empty hash chunk): norm(axis=1)
            # on a 0-row collect would raise — the result is just
            # empty, with the same schema as the non-empty path
            return data.sparkSession.createDataFrame(
                [], f"query_id {idt}, neighbor_id {idt}, sim double, "
                    f"rank int")
        q_ids = np.array([r[0] for r in qrows])
        qm = np.array([r[1] for r in qrows], dtype=np.float64)
        qm /= np.maximum(np.linalg.norm(qm, axis=1, keepdims=True), 1e-300)
        sc = data.sparkSession.sparkContext
        bq = sc.broadcast((q_ids, qm))

        def partial_topk(it):
            ids, qmat = bq.value
            best_sim = {}  # per-partition running top-k per query
            best_ids = {}
            for pdf in it:
                if len(pdf) == 0:  # same guard as IVFKNN._assign —
                    continue       # norm(axis=1) on a 0-d array raises
                dm = np.array(list(pdf[self.vecCol]), dtype=np.float64)
                dm /= np.maximum(np.linalg.norm(dm, axis=1, keepdims=True), 1e-300)
                sims = qmat @ dm.T  # (nq, batch) one BLAS call
                did = pdf[self.idCol].to_numpy()
                for qi in range(len(ids)):
                    s = sims[qi]
                    mask = did != ids[qi] if exclude else np.ones(len(did), bool)
                    s, d = s[mask], did[mask]
                    if qi in best_sim:
                        s = np.concatenate([best_sim[qi], s])
                        d = np.concatenate([best_ids[qi], d])
                    # lexsort: primary -sim (desc), secondary id (asc)
                    # — the same total order _topk_window declares; a
                    # scan-order stable argsort would truncate TIED
                    # neighbors differently than the expr method
                    top = np.lexsort((d, -s))[:k]
                    best_sim[qi], best_ids[qi] = s[top], d[top]
            out = {"query_id": [], "neighbor_id": [], "sim": []}
            for qi, sims_ in best_sim.items():
                out["query_id"].extend([ids[qi]] * len(sims_))
                out["neighbor_id"].extend(best_ids[qi].tolist())
                out["sim"].extend(float(x) for x in sims_)
            yield pd.DataFrame(out)

        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        # idt above keeps the input id type — a hardcoded `long`
        # would crash (or silently retype) string/int ids
        partial = spread_narrow_scan(
            data, VECTOR_MATH_BYTES_PER_SLOT).mapInPandas(
            partial_topk, f"query_id {idt}, neighbor_id {idt}, sim double"
        )
        return _topk_window(partial, k)


class LSHKNN:
    """Approximate top-k via signed-random-projection LSH.

    ``numPlanes`` hyperplanes → a ``numPlanes``-bit signature per vector;
    vectors are bucketed by each of ``bands`` signature chunks and only
    bucket-colliding (query, data) pairs are scored exactly. Candidate
    generation and scoring are equi-join + expressions — the plan is a
    hash join on the chunk value, which scales as the bucket sizes, not
    as N×Q.
    """

    def __init__(self, idCol: str = "vec_id", vecCol: str = "embedding",
                 k: int = 10, numPlanes: int = 16, bands: int = 4,
                 seed: int = 42, excludeSelf: bool = True,
                 maxQueries: int | None = _MAX_QUERY_ROWS,
                 chunkQueries: int | None = None):
        if numPlanes % bands:
            raise ValueError("numPlanes must be divisible by bands")
        self.idCol, self.vecCol, self.k = idCol, vecCol, k
        self.numPlanes, self.bands, self.seed = numPlanes, bands, seed
        self.excludeSelf = excludeSelf
        self.maxQueries = maxQueries
        self.chunkQueries = chunkQueries

    def _signature_bands(self, df: DataFrame, dim: int, prefix: str) -> DataFrame:
        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        # numPlanes dot products per vector is the map-heavy part —
        # don't let a 1-2-split scan serialize it (no-op at scale);
        # BLAS-class work, so the byte floor applies
        df = spread_narrow_scan(df, VECTOR_MATH_BYTES_PER_SLOT)
        rng = np.random.default_rng(self.seed)
        planes = rng.standard_normal((self.numPlanes, dim))
        r = self.numPlanes // self.bands
        # The band-chunk expression is assembled as ONE SQL string and
        # parsed JVM-side: the Column-API equivalent (numPlanes ×
        # zip_with/aggregate lambdas over dim literal doubles) costs
        # thousands of py4j round trips — ~1 s of pure driver time per
        # call at any data size. CAST('<repr>' AS DOUBLE) string
        # literals round-trip bit-exactly (Python repr → Java
        # parseDouble), so the parsed tree is value-identical to the
        # old lit() tree (full-corpus row equality pinned in tests).
        vec_sql = f"transform(`{self.vecCol}`, x -> CAST(x AS DOUBLE))"

        def dbl(v: float) -> str:
            return f"CAST('{float(v)!r}' AS DOUBLE)"

        def bit(j: int) -> str:
            arr = "array(" + ",".join(dbl(v) for v in planes[j]) + ")"
            return (f"(CASE WHEN aggregate(zip_with({vec_sql}, {arr}, "
                    f"(x, y) -> x * y), CAST('0.0' AS DOUBLE), "
                    f"(a, v) -> a + v) > 0 THEN 1 ELSE 0 END)")

        chunks = [
            " + ".join(f"({bit(b * r + i)} * {2 ** i})" for i in range(r))
            for b in range(self.bands)
        ]
        chunk_arr = ("array(" +
                     ",".join(f"CAST(({c}) AS INT)" for c in chunks) + ")")
        return df.select(
            F.col(self.idCol).alias(f"{prefix}_id"),
            F.col(self.vecCol).alias(f"{prefix}_vec"),
            F.posexplode(F.expr(chunk_arr))
            .alias("__band", f"{prefix}_chunk"),
        )

    def search(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        return _maybe_chunk_queries(
            self, queries, lambda qc: self._search_one(data, qc))

    def _search_one(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        _check_query_size(queries, "LSHKNN", self.maxQueries)
        dim = vector_dim(data, self.vecCol)
        d = self._signature_bands(data, dim, "d")
        q = self._signature_bands(queries, dim, "q")
        return self._score_candidates(
            d.withColumnRenamed("d_chunk", "__chunk"),
            None, q, vectors_joined=True)

    def _score_candidates(self, d_bands: DataFrame,
                          d_vectors: DataFrame | None,
                          q_bands: DataFrame,
                          vectors_joined: bool) -> DataFrame:
        """Shared candidate-join + exact-cosine + top-k tail of both
        search lanes: ``d_bands`` is (d_id, __band, __chunk [, d_vec]);
        when ``vectors_joined`` is False the corpus vectors attach by
        id AFTER candidate dedup (the stored-index shape — band rows
        carry 12 bytes, vectors join once per candidate, not once per
        band collision)."""
        q = q_bands
        cand = (
            d_bands.join(
                F.broadcast(q),
                (d_bands["__band"] == q["__band"])
                & (d_bands["__chunk"] == q["q_chunk"]))
            .select(F.col("q_id").alias("query_id"),
                    F.col("d_id").alias("neighbor_id"),
                    *(["q_vec", "d_vec"] if vectors_joined
                      else ["q_vec"]))
            .dropDuplicates(["query_id", "neighbor_id"])
        )
        if self.excludeSelf:
            cand = cand.filter(F.col("query_id") != F.col("neighbor_id"))
        if not vectors_joined:
            cand = cand.join(
                d_vectors.select(F.col("d_id").alias("neighbor_id"),
                                 "d_vec"), "neighbor_id")
        scored = cand.select(
            "query_id", "neighbor_id",
            cosine_similarity("q_vec", "d_vec").alias("sim"),
        )
        return _topk_window(scored, self.k)

    # ------------------------------------------------ index lifecycle
    # Round 12: the last ANN family gains the stored shape the others
    # (IVF/PQ/SQ/IVFPQ) already have. The artifact splits signature
    # bands from vectors so a band row is 12 bytes however wide the
    # embedding: ``{path}/bands`` (id, band, chunk), ``{path}/vectors``
    # (id, vec — the exact-rerank payload), and a manifest pinning
    # numPlanes/bands/seed/dim (signatures depend on all four — the
    # planes are drawn per-dim from the seed, so a mismatched
    # retriever must refuse rather than bucket-join garbage).

    def _grid(self, dim: int) -> dict:
        return {"numPlanes": self.numPlanes, "bands": self.bands,
                "seed": self.seed, "dim": dim}

    def save_index(self, data: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        if mode == "append":
            raise ValueError(
                "save_index(mode='append') would rewrite the manifest "
                "without checking the existing artifact's grid — use "
                "append_to_index for incremental growth")
        _refuse_save_over_torn_append(
            data.sparkSession, path, "LSHKNN.save_index")
        dim = vector_dim(data, self.vecCol)
        self._write_index_rows(data, path, dim, mode)
        _fs_write_text(data.sparkSession, f"{path}/_lsh_manifest.json",
                       _json.dumps({**self._grid(dim), "version": 1}))
        # tombstones clear LAST, once the store + manifest are down:
        # a torn save then leaves the old mask conservatively hiding
        # rows (a retry fixes it) instead of resurrecting taken-down
        # ids — the unsafe failure direction for takedowns
        _clear_tombstones(data.sparkSession, path)

    def _write_index_rows(self, data: DataFrame, path: str, dim: int,
                          mode: str) -> None:
        """Vectors first, bands derived from the READ-BACK store
        (signatures compute once however nondeterministic the input).
        Append cannot use the read-back (the stored dir holds old +
        new rows), so it persists the (id, vec) projection and bands
        only that — the embedding appender's pattern: two writes, one
        evaluation."""
        from mmlspark_spark.core.cache import persist_intermediate

        rows = data.select(F.col(self.idCol).alias("__id"),
                           F.col(self.vecCol).alias("__vec"))
        cached = None
        if mode == "append":
            rows = persist_intermediate(rows)
            cached = rows
        try:
            rows.write.mode(mode).parquet(f"{path}/vectors")
            if mode == "append":
                src = rows.select(F.col("__id").alias(self.idCol),
                                  F.col("__vec").alias(self.vecCol))
            else:
                src = (data.sparkSession.read
                       .parquet(f"{path}/vectors")
                       .select(F.col("__id").alias(self.idCol),
                               F.col("__vec").alias(self.vecCol)))
            (self._signature_bands(src, dim, "d")
             .select("d_id", "__band",
                     F.col("d_chunk").alias("__chunk"))
             .repartition(F.col("d_id"))
             .sortWithinPartitions("__band", "__chunk")
             .write.mode(mode).parquet(f"{path}/bands"))
        finally:
            if cached is not None:
                cached.unpersist()

    def _check_manifest(self, spark, path: str) -> dict:
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(_fs_read_text(spark,
                                        f"{path}/_lsh_manifest.json"))
        mine = self._grid(int(man.get("dim", -1)))
        if {k: man.get(k) for k in mine} != mine:
            raise ValueError(
                f"LSH index at {path} was built under grid "
                f"{ {k: man.get(k) for k in mine} }; this retriever "
                f"has { {k: mine[k] for k in ('numPlanes', 'bands', 'seed')} } "
                f"— signatures from different grids are incomparable")
        return man

    def append_to_index(self, new_data: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow the artifact: band ONLY the new vectors (the planes
        are fixed by seed+dim, so appended == fresh exactly — pinned
        in tests). Refuses a grid/dim mismatch, ids with a pending
        tombstone (compact first, then re-append), and a torn prior
        append (``repair_file_append`` rolls back)."""
        spark = new_data.sparkSession
        _refuse_torn_file_append(spark, path,
                                 "LSHKNN.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        man = self._check_manifest(spark, path)
        dim = vector_dim(new_data, self.vecCol)
        if int(man["dim"]) != dim:
            raise ValueError(
                f"new vectors have dim {dim}, LSH index at {path} "
                f"holds dim {man['dim']}")
        _refuse_tombstoned_append(
            new_data.select(F.col(self.idCol)), path, self.idCol,
            "LSHKNN.append_to_index")
        # shared file-append bracket (index_common.py): a crash
        # between the bands and vectors writes would leave a
        # candidate with no vector (silently dropped by the verify
        # join) or a vector that is never a candidate
        _begin_file_append(spark, path, batchId)
        self._write_index_rows(new_data, path, dim, "append")
        _commit_file_append(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        _refuse_torn_file_append(spark, path, "LSHKNN.load_index")
        man = self._check_manifest(spark, path)
        return {"bands": _read_store(spark, f"{path}/bands"),
                "vectors": _read_store(spark, f"{path}/vectors"),
                "dim": int(man["dim"]),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids — metadata-only until :meth:`compact_index`;
        :meth:`search_with_index` masks them at read time."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned rows from both stores through
        the shared staging+rename swap. Returns vectors removed."""
        _refuse_torn_file_append(spark, path, "LSHKNN.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        vecs = _read_store(spark, f"{path}/vectors")
        before = _parquet_row_count(spark, f"{path}/vectors")
        _replace_flat_store(_drop_tombstoned(vecs, ts, "__id"),
                            f"{path}/vectors")
        keep_b = (_drop_tombstoned(
            _read_store(spark, f"{path}/bands"), ts, "d_id")
            .repartition(F.col("d_id"))
            .sortWithinPartitions("__band", "__chunk"))
        _replace_flat_store(keep_b, f"{path}/bands")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/vectors")

    def search_with_index(self, index: dict, queries: DataFrame,
                          where=None) -> DataFrame:
        """LSH top-k against a loaded :meth:`load_index` artifact —
        identical results to :meth:`search` over the source corpus
        (round-trip pinned in tests): the query side signatures
        map-side and BROADCASTS onto the stored band rows (the big
        side never shuffles), candidates dedup, and the exact-cosine
        rerank joins the stored vectors once per candidate.
        Tombstoned ids are masked from the band store BEFORE the
        join, so deleted vectors never surface.

        ``where`` (a Column predicate over ``d_id``) gives FILTERED
        search: signatures are per-vector, so filtering the stored
        band rows equals building a fresh index over the filtered
        corpus (pinned in tests) — candidate generation is
        restricted BEFORE the top-k, never post-filtered, which
        would silently under-fill k."""
        return _maybe_chunk_queries(
            self, queries,
            lambda qc: self._search_index_one(index, qc, where=where))

    def _search_index_one(self, index: dict, queries: DataFrame,
                          where=None) -> DataFrame:
        _check_query_size(queries, "LSHKNN", self.maxQueries)
        # dim check tolerant of an EMPTY frame: the chunkQueries lane
        # hash-splits queries, and a hash chunk can come up empty —
        # vector_dim would throw where the right answer is zero rows
        qrow = (queries.select(F.size(F.col(self.vecCol)).alias("d"))
                .filter(F.col("d").isNotNull()).first())
        if qrow is not None and int(qrow["d"]) != index["dim"]:
            raise ValueError(
                f"query vectors have dim {int(qrow['d'])}, stored "
                f"LSH index holds dim {index['dim']}")
        q = self._signature_bands(queries, index["dim"], "q")
        bands = _drop_tombstoned(index["bands"],
                                 index.get("tombstones"), "d_id")
        if where is not None:
            bands = bands.filter(where)
        vecs = (index["vectors"]
                .select(F.col("__id").alias("d_id"),
                        F.col("__vec").alias("d_vec")))
        return self._score_candidates(bands, vecs, q,
                                      vectors_joined=False)


class IVFKNN:
    """IVF (inverted-file) approximate KNN — the clustered scale path.

    Train: k-means-lite centroids (seeded numpy Lloyd iterations on a
    bounded sample — the coarse quantizer every IVF index uses).
    Index: each corpus vector is assigned map-side to its nearest
    centroid (one BLAS matmul per Arrow batch against the broadcast
    centroids); the assignment IS the partition key, so the index is
    just a DataFrame clustered by ``__cell``.
    Search: each query probes its ``nProbe`` nearest cells; the
    candidate join is an equi-join on the cell id — O(corpus/nlist ×
    nProbe) pairs scored, never O(n).
    """

    def __init__(self, idCol: str = "vec_id", vecCol: str = "embedding",
                 k: int = 10, nlist: int = 16, nProbe: int = 4,
                 sampleSize: int = 10000, iters: int = 5, seed: int = 42,
                 excludeSelf: bool = True,
                 maxQueries: int | None = _MAX_QUERY_ROWS,
                 chunkQueries: int | None = None):
        self.idCol, self.vecCol, self.k = idCol, vecCol, k
        self.nlist, self.nProbe = nlist, nProbe
        self.sampleSize, self.iters, self.seed = sampleSize, iters, seed
        self.excludeSelf = excludeSelf
        self.maxQueries = maxQueries
        self.chunkQueries = chunkQueries

    def _fit_centroids(self, data: DataFrame) -> np.ndarray:
        total = data.count()
        frac = min(1.0, (self.sampleSize * 1.2) / max(total, 1))
        rows = (data.select(self.vecCol).sample(False, frac, self.seed)
                .limit(self.sampleSize).collect())
        x = np.array([r[0] for r in rows], dtype=np.float64)
        x /= np.maximum(np.linalg.norm(x, axis=1, keepdims=True), 1e-300)
        rng = np.random.default_rng(self.seed)
        cent = x[rng.choice(x.shape[0], size=min(self.nlist, x.shape[0]),
                            replace=False)]
        for _ in range(self.iters):
            assign = (x @ cent.T).argmax(axis=1)
            for c in range(cent.shape[0]):
                mask = assign == c
                if mask.any():
                    m = x[mask].mean(axis=0)
                    cent[c] = m / max(np.linalg.norm(m), 1e-300)
        return cent

    def fit_centroids_df(self, data: DataFrame, maxIter: int = 0) -> DataFrame:
        """DETERMINISTIC coarse quantizer as a small (cell, cvec)
        frame: EmbeddingKMeans' hash-ranked seeding — the vectors of
        the ``nlist`` lowest ids under the portable Lehmer rank, a
        distributed TakeOrderedAndProject, exactly replayable in SQL —
        plus ``maxIter`` Lloyd refinements (posexplode partial-agg
        update, see clustering.py). Driver state is nlist·d floats;
        the coarse quantizer is driver-sized by contract (same as
        faiss's). Pair with :meth:`search_with_centroids` for a fully
        replayable IVF pipeline (the ``knn_ivf`` catalog oracle at
        maxIter=0); the sampled numpy fit behind :meth:`search` stays
        as the seeding-free lane."""
        from mmlspark_spark.llm.clustering import EmbeddingKMeans

        model = EmbeddingKMeans(inputCol=self.vecCol, idCol=self.idCol,
                                k=self.nlist, maxIter=maxIter,
                                seed=self.seed).fit(data)
        return data.sparkSession.createDataFrame(
            [(i, [float(x) for x in c])
             for i, c in enumerate(model.centroids)],
            "cell int, cvec array<double>")

    def _assign(self, df: DataFrame, cent_b, prefix: str, top: int) -> DataFrame:
        id_col, vec_col = self.idCol, self.vecCol

        def run(it):
            cent = cent_b.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                x = np.array(list(pdf[vec_col]), dtype=np.float64)
                x_n = x / np.maximum(np.linalg.norm(x, axis=1, keepdims=True),
                                     1e-300)
                sims = x_n @ cent.T
                order = np.argsort(-sims, axis=1)[:, :top]
                out = {f"{prefix}_id": [], f"{prefix}_vec": [], "__cell": []}
                for i in range(len(pdf)):
                    for c in order[i]:
                        out[f"{prefix}_id"].append(pdf[id_col].iloc[i])
                        out[f"{prefix}_vec"].append(list(pdf[vec_col].iloc[i]))
                        out["__cell"].append(int(c))
                yield pd.DataFrame(out)

        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        vt = "array<double>"
        idt = df.schema[id_col].dataType.simpleString()
        return spread_narrow_scan(df, VECTOR_MATH_BYTES_PER_SLOT).mapInPandas(
            run, f"{prefix}_id {idt}, {prefix}_vec {vt}, __cell int")

    def search(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        # fit + corpus assignment once; only the query probe chunks
        cent = self._fit_centroids(data)
        cent_b = data.sparkSession.sparkContext.broadcast(cent)
        d = self._assign(data, cent_b, "d", top=1)

        def one(qc: DataFrame) -> DataFrame:
            _check_query_size(qc, "IVFKNN", self.maxQueries)
            return self._probe(d, self._assign(qc, cent_b, "q",
                                               top=self.nProbe))

        return _maybe_chunk_queries(self, queries, one)

    def _probe(self, d: DataFrame, q: DataFrame) -> DataFrame:
        cand = d.join(F.broadcast(q), "__cell")
        if self.excludeSelf:
            cand = cand.filter(F.col("q_id") != F.col("d_id"))
        scored = cand.select(
            F.col("q_id").alias("query_id"), F.col("d_id").alias("neighbor_id"),
            cosine_similarity("q_vec", "d_vec").alias("sim"),
        ).dropDuplicates(["query_id", "neighbor_id"])
        return _topk_window(scored, self.k)

    def search_with_centroids(self, data: DataFrame, queries: DataFrame,
                              centroids: DataFrame,
                              cellCol: str = "cell",
                              centVecCol: str = "cvec") -> DataFrame:
        """Bring-your-own-quantizer IVF (the faiss norm at scale: the
        coarse quantizer is trained once, offline, and reused across
        index builds): ``centroids`` is a SMALL (cell, vector) frame —
        broadcast, never collected — and cell assignment is pure
        Catalyst instead of the numpy/mapInPandas lane, so the whole
        search is exactly replayable (``knn_ivf_pretrained`` catalog
        oracle) and needs no Python workers.

        Assignment ranks cells by exact cosine — normalization-free
        ordering, identical cells to the numpy lane's normalized
        argmax — with cell-id ASC tie-break (deterministic, unlike
        ``np.argsort``'s unstable ties). Corpus indexing (top=1) is a
        map-side broadcast expansion collapsed by a combinable
        ``max(struct(sim, -cell, vec))`` partial aggregate — the
        shuffle carries one row per corpus vector, never the ×nlist
        expansion; query probing (top=nProbe) windows the small side.
        """
        c = self._cent_broadcast(centroids, cellCol, centVecCol)
        d = self.assign_corpus(data, centroids, cellCol, centVecCol)

        def one(qc: DataFrame) -> DataFrame:
            _check_query_size(qc, "IVFKNN.search_with_centroids",
                              self.maxQueries)
            return self._probe(d, self._probe_queries(qc, c))

        return _maybe_chunk_queries(self, queries, one)

    def _cent_broadcast(self, centroids: DataFrame, cellCol: str,
                        centVecCol: str):
        return F.broadcast(centroids.select(
            F.col(cellCol).alias("__cell"),
            F.col(centVecCol).alias("__cv")))

    def assign_corpus(self, data: DataFrame, centroids: DataFrame,
                      cellCol: str = "cell",
                      centVecCol: str = "cvec") -> DataFrame:
        """(d_id, d_vec, __cell) — each corpus vector in its nearest
        cell (exact cosine, cell-ASC ties), via the combinable
        max-struct partial aggregate (one row per vector crosses the
        shuffle, never the ×nlist broadcast expansion)."""
        c = self._cent_broadcast(centroids, cellCol, centVecCol)
        sim = cosine_similarity(self.vecCol, "__cv").alias("__sim")
        return (data.crossJoin(c)
                .select(F.col(self.idCol).alias("d_id"),
                        F.col(self.vecCol).alias("d_vec"), "__cell", sim)
                .groupBy("d_id")
                .agg(F.max(F.struct(
                    F.col("__sim").alias("s"),
                    (-F.col("__cell")).alias("nc"),
                    F.col("d_vec").alias("v"))).alias("__b"))
                .select("d_id", F.col("__b.v").alias("d_vec"),
                        (-F.col("__b.nc")).alias("__cell")))

    def _probe_queries(self, queries: DataFrame, c) -> DataFrame:
        """(q_id, q_vec, __cell) — each query expanded to its nProbe
        nearest cells (window over the small side)."""
        sim = cosine_similarity(self.vecCol, "__cv").alias("__sim")
        w = Window.partitionBy("q_id").orderBy(
            F.col("__sim").desc(), F.col("__cell").asc())
        return (queries.crossJoin(c)
                .select(F.col(self.idCol).alias("q_id"),
                        F.col(self.vecCol).alias("q_vec"), "__cell", sim)
                .withColumn("__rk", F.row_number().over(w))
                .filter(F.col("__rk") <= self.nProbe)
                .drop("__rk", "__sim"))

    # ------------------------------------------------- persistence
    def save_index(self, data: DataFrame, centroids: DataFrame,
                   path: str, mode: str = "overwrite",
                   cellCol: str = "cell",
                   centVecCol: str = "cvec") -> None:
        """Persist the inverted file: the assigned corpus is written
        PARTITIONED BY its cell (``{path}/assigned/__cell=<c>/``), so
        a probe that touches nProbe of nlist cells reads only those
        directories — Spark's dynamic partition pruning fires off the
        broadcast query-cell join, the IVF I/O win that matters when
        the corpus no longer fits hot. Centroids ride along at
        ``{path}/centroids``; assignment never reruns."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        _refuse_save_over_torn_append(
            data.sparkSession, path, "IVFKNN.save_index")
        centroids.select(F.col(cellCol).alias("cell"),
                         F.col(centVecCol).alias("cvec")).write.mode(
            mode).parquet(f"{path}/centroids")
        spark = data.sparkSession
        assigned = self.assign_corpus(
            data, _read_store(spark, f"{path}/centroids"))
        # lead the sort with the partition column: the dynamic-
        # partition writer re-sorts by it anyway and would lose any
        # other order (see export.py's shard-write note)
        (assigned.repartition(F.col("__cell"))
         .sortWithinPartitions("__cell", "d_id")
         .write.mode(mode).partitionBy("__cell")
         .parquet(f"{path}/assigned"))
        _fs_write_text(spark, f"{path}/_ivf_manifest.json", _json.dumps(
            {"nlist": self.nlist, "version": 1}))
        if mode == "overwrite":
            # tombstones clear LAST, once the store + manifest are down:
            # a torn save then leaves the old mask conservatively hiding
            # rows (a retry fixes it) instead of resurrecting taken-down
            # ids — the unsafe failure direction for takedowns
            _clear_tombstones(spark, path)

    def append_to_index(self, new_data: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Incrementally grow a :meth:`save_index` artifact: assign
        ONLY the new vectors against the stored centroids (map-side,
        one small job — the existing corpus is never touched or
        re-read) and append their cell directories. The coarse
        quantizer is fixed at save time — the faiss operating model,
        where the quantizer is trained once and the inverted lists
        grow — so search results over the appended index equal a
        fresh index over the unioned corpus exactly (pinned in
        tests). Duplicate ids are the caller's contract, as with any
        append-only store — EXCEPT ids with a pending tombstone,
        which are refused (the appended rows would be masked at read
        time and deleted by the next compaction — silent data loss;
        compact first, then re-append)."""
        spark = new_data.sparkSession
        _refuse_torn_file_append(spark, path,
                                 "IVFKNN.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        _refuse_tombstoned_append(
            new_data.select(F.col(self.idCol)), path, self.idCol,
            "IVFKNN.append_to_index")
        # shared file-append bracket: one store, but a killed write
        # job can commit a PARTIAL part-file set across the cell
        # directories — the snapshot walk is recursive, so the
        # rollback covers partitioned layouts too
        _begin_file_append(spark, path, batchId)
        assigned = self.assign_corpus(
            new_data, _read_store(spark, f"{path}/centroids"))
        (assigned.repartition(F.col("__cell"))
         .sortWithinPartitions("__cell", "d_id")
         .write.mode("append").partitionBy("__cell")
         .parquet(f"{path}/assigned"))
        _commit_file_append(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        _refuse_torn_file_append(spark, path, "IVFKNN.load_index")
        return {"assigned": _read_store(spark, f"{path}/assigned"),
                "centroids": _read_store(spark, f"{path}/centroids"),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_index` artifact (takedowns,
        dedup survivors — the other half of the append-only story).
        Deletes are metadata: ``{path}/tombstones`` grows, the cell
        directories are untouched, and :meth:`search_with_index`
        masks tombstoned ids at read time. :meth:`compact_index`
        rewrites only the affected cells when the mask is worth
        retiring. Unknown ids are a no-op."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned vectors: rewrite ONLY the
        cell directories that contain a tombstoned id, delete the
        directories of fully-tombstoned cells, then clear the
        tombstone set (shared :func:`_compact_cells` mechanics).
        Returns the number of affected cells. Search results are
        identical before and after compaction (pinned in tests);
        compaction is purely an I/O-reclaim operation."""
        _refuse_torn_file_append(spark, path, "IVFKNN.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        return _compact_cells(spark, f"{path}/assigned", ts, path)

    def search_with_index(self, index: dict, queries: DataFrame,
                          where=None) -> DataFrame:
        """Probe a :meth:`save_index` artifact: only the query-side
        cell ranking is computed fresh; the corpus-side assignment is
        the stored layout. Identical results to
        :meth:`search_with_centroids` on the source corpus (assignment
        is deterministic; round-trip pinned in tests).

        ``where`` (a Column predicate over ``d_id``) gives FILTERED
        search over the stored index: cell assignment is per-vector,
        so filtering the stored assignments equals building a fresh
        index over the filtered corpus (pinned in tests) — and the
        predicate pushes into the cell-partitioned parquet scan
        (row-group pruning UNDER the probe's partition pruning), never
        post-filtering of results, which silently under-fills top-k."""
        c = self._cent_broadcast(index["centroids"], "cell", "cvec")
        assigned = _drop_tombstoned(index["assigned"],
                                    index.get("tombstones"), "d_id")
        if where is not None:
            assigned = assigned.filter(where)
        d = assigned.select(
            "d_id", "d_vec", F.col("__cell").cast("int").alias("__cell"))

        def one(qc: DataFrame) -> DataFrame:
            _check_query_size(qc, "IVFKNN.search_with_index",
                              self.maxQueries)
            return self._probe(d, self._probe_queries(qc, c))

        return _maybe_chunk_queries(self, queries, one)


class PQKNN:
    """Product-quantization ANN (Jégou, Douze & Schmid 2011, "Product
    Quantization for Nearest Neighbor Search") — the COMPRESSED scale
    path: vectors split into ``M`` subvectors, each quantized to one
    of ``K`` per-subspace centroids, so a corpus vector becomes M
    small codes (M bytes at K=256) instead of d floats — a 32×
    shrink at d=64/M=8 that turns a 100 TB embedding corpus into an
    in-memory-scannable code table. Search is ADC (asymmetric
    distance computation): per query ONE M×K lookup table of exact
    subspace distances, then every candidate scores with M array
    lookups instead of d multiplies.

    Lanes, mirroring IVFKNN:

    - :meth:`search_with_codebooks` / :meth:`encode_with_codebooks` —
      bring-your-own codebooks as a SMALL (m, code, cvec) frame
      (trained once offline, the faiss norm). Encoding, the LUT and
      the ADC scan are pure Catalyst with pinned left-fold float
      order, so the whole search replays bit-exact in SQL
      (``knn_pq_adc`` catalog oracle). No Python workers.
    - :meth:`fit_codebooks` — seeded per-subspace numpy Lloyd on a
      bounded driver sample (the sampled-fit scale lane, rows-only
      like ``knn_ivf``'s fit); recall vs brute force is pinned in
      tests.

    Scale shape: codebooks broadcast as ONE aggregated row (M·K·d/M
    doubles — a few KB); corpus encoding is map-only; the ADC scan is
    a broadcast cross join against the (small) query LUT frame
    scored map-side, collapsed by the partial top-k window. Compose
    with IVF cells for the full IVF-PQ recipe: encode each cell's
    residuals and ADC-scan only probed cells.

    Distances are squared L2 computed as the direct ``(x−c)²``
    element fold — the SAME formula on both engines (expanded forms
    round differently; see spark-engine float-parity notes).
    """

    def __init__(self, idCol: str = "vec_id", vecCol: str = "embedding",
                 k: int = 10, M: int = 8, K: int = 16, dim: int | None = None,
                 sampleSize: int = 10000, iters: int = 8, seed: int = 42,
                 excludeSelf: bool = True,
                 maxQueries: int | None = _MAX_QUERY_ROWS,
                 wideM: int = 32,
                 chunkQueries: int | None = None):
        self.idCol, self.vecCol, self.k = idCol, vecCol, k
        self.M, self.K, self.dim = M, K, dim
        self.sampleSize, self.iters, self.seed = sampleSize, iters, seed
        self.excludeSelf = excludeSelf
        self.maxQueries = maxQueries
        self.wideM = wideM
        self.chunkQueries = chunkQueries

    # -------------------------------------------------- codebook row
    def _codebook_row(self, codebooks: DataFrame, mCol: str,
                      codeCol: str, cvecCol: str) -> DataFrame:
        """(m, code, cvec) → ONE row holding cb[m][code] = cvec as a
        nested array, sorted by (m, code) — broadcast-sized (M·K
        subvectors), assembled declaratively (no collect)."""
        M = self.M
        ss = (codebooks
              .select(F.struct(F.col(mCol).alias("m"),
                               F.col(codeCol).alias("c"),
                               F.col(cvecCol).alias("v")).alias("s"))
              .agg(F.array_sort(F.collect_list("s")).alias("ss")))
        return ss.select(F.transform(
            F.sequence(F.lit(0), F.lit(M - 1)),
            lambda m: F.transform(
                F.filter("ss", lambda s: s["m"] == m),
                lambda s: s["v"])).alias("__cb"))

    # The per-subspace expressions are generated as SQL TEXT and
    # parsed JVM-side in one round trip: the Column-API equivalents
    # (M × transform/zip_with/aggregate lambdas) cost ~0.7 s of py4j
    # chatter per plan build at any data size (same tree, same
    # element-order folds — ADC parity pinned in tests). The inner
    # transform lambda takes exactly ONE parameter so the element
    # (not (element, index)) overload is selected, as before.
    def _dists_sql(self, vec_sql: str, m: int, ds: int) -> str:
        """SQL text: array<double> of the K exact subspace distances
        for subspace ``m`` (squared L2, direct form, element-order
        left fold)."""
        sub = f"slice({vec_sql}, {m * ds + 1}, {ds})"
        return (f"transform(element_at(__cb, {m + 1}), "
                f"__c -> aggregate(zip_with({sub}, __c, "
                f"(a, b) -> (a - b) * (a - b)), "
                f"CAST('0.0' AS DOUBLE), (acc, x) -> acc + x))")

    def _codes_expr(self, vec_sql: str, ds: int):
        """array<int> of per-subspace argmin codes (first-min
        tie-break via array_position); ``vec_sql`` is the vector
        column as SQL text."""
        cols = []
        for m in range(self.M):
            d = self._dists_sql(vec_sql, m, ds)
            cols.append(f"CAST((array_position({d}, array_min({d}))"
                        f" - 1) AS INT)")
        return F.expr("array(" + ",".join(cols) + ")")

    def _lut_expr(self, vec_sql: str, ds: int):
        """array<array<double>> [M][K] of exact subspace distances;
        ``vec_sql`` is the vector column as SQL text."""
        return F.expr("array(" + ",".join(
            self._dists_sql(vec_sql, m, ds)
            for m in range(self.M)) + ")")

    def _dim_of(self, df: DataFrame) -> int:
        dim = (self.dim if self.dim is not None
               else int(df.select(F.size(self.vecCol)).first()[0]))
        if dim % self.M:
            # silent truncation would drop the trailing dim % M
            # dimensions from every distance — wrong neighbors, no
            # error — so the contract is enforced at every entry
            # point (encode/search/fit all come through here)
            raise ValueError(
                f"vector dim {dim} is not divisible by M={self.M}; "
                f"PQ subspaces must partition the vector exactly")
        return dim

    # ------------------------------------------------- wide-M lane
    def _collect_codebooks(self, codebooks: DataFrame, mCol: str,
                           codeCol: str, cvecCol: str) -> list:
        """Driver-side [M] list of (K_m, ds) float64 arrays — M·K·ds
        doubles, the same broadcast-size bound the one-row expr
        aggregate relies on (the quantizer is small by contract)."""
        rows = codebooks.select(F.col(mCol).alias("m"),
                                F.col(codeCol).alias("c"),
                                F.col(cvecCol).alias("v")).collect()
        by_m: dict[int, list] = {}
        for r in rows:
            by_m.setdefault(int(r["m"]), []).append(
                (int(r["c"]), [float(x) for x in r["v"]]))
        out = []
        for m in range(self.M):
            ent = sorted(by_m.get(m, []))
            if not ent or [c for c, _ in ent] != list(range(len(ent))):
                raise ValueError(
                    f"codebooks missing or sparse codes for subspace "
                    f"{m}: encode needs contiguous codes 0..K_m-1")
            out.append(np.array([v for _, v in ent], dtype=np.float64))
        return out

    def _encode_pandas(self, df: DataFrame, cbs: list, ds: int,
                       vecCol: str, keep: list[str],
                       outName: str = "codes") -> DataFrame:
        """numpy encode lane for wide M: the expr lane unrolls M
        argmin aggregates per row — past Catalyst's whole-stage-codegen
        method limits at M≥64 (d≥512 at ds=8), where codegen bails to
        interpreted per-expression eval. Here the broadcast codebooks
        meet each Arrow batch in ONE vectorized (rows × K × ds)
        difference per subspace, row-chunked to ~32 MB. Same direct
        (x−c)² form and FIRST-min tie-break (np.argmin) as
        array_position's first-min, so the lanes agree everywhere
        float summation order can't flip a near-tie (pinned in
        tests at d=1024)."""
        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        M = self.M
        bcb = df.sparkSession.sparkContext.broadcast(cbs)

        def run(it):
            cbs_v = bcb.value
            for pdf in it:
                if len(pdf) == 0:
                    continue
                X = np.array(list(pdf[vecCol]), dtype=np.float64)
                codes = np.empty((len(pdf), M), dtype=np.int64)
                for m in range(M):
                    sub = X[:, m * ds:(m + 1) * ds]
                    Cm = cbs_v[m]
                    chunk = max(1, 4_000_000 // max(1, Cm.size))
                    for s in range(0, len(X), chunk):
                        d2 = ((sub[s:s + chunk, None, :]
                               - Cm[None, :, :]) ** 2).sum(-1)
                        codes[s:s + chunk, m] = d2.argmin(axis=1)
                out = pdf[keep].copy()
                out[outName] = [[int(x) for x in row] for row in codes]
                yield out

        schema = ", ".join(
            f"{c} {df.schema[c].dataType.simpleString()}" for c in keep
        ) + f", {outName} array<int>"
        return spread_narrow_scan(
            df.select(*keep, vecCol),
            VECTOR_MATH_BYTES_PER_SLOT).mapInPandas(run, schema)

    # -------------------------------------------------- public lanes
    def encode_with_codebooks(self, data: DataFrame, codebooks: DataFrame,
                              mCol: str = "m", codeCol: str = "code",
                              cvecCol: str = "cvec") -> DataFrame:
        """(id, codes array<int>) — the compressed index. Map-only
        after the one-row codebook broadcast (M ≤ wideM) or under the
        numpy wide-M lane (M > wideM: the expr lane's M unrolled
        argmin aggregates are codegen-hostile at production dims)."""
        dim = self._dim_of(data)
        ds = dim // self.M
        if self.M > self.wideM:
            cbs = self._collect_codebooks(codebooks, mCol, codeCol,
                                          cvecCol)
            return self._encode_pandas(
                data.select(F.col(self.idCol).alias("vec_id"),
                            F.col(self.vecCol).alias("__v")),
                cbs, ds, "__v", ["vec_id"])
        cb = F.broadcast(self._codebook_row(codebooks, mCol, codeCol,
                                            cvecCol))
        return (data.crossJoin(cb)
                .select(F.col(self.idCol).alias("vec_id"),
                        self._codes_expr(f"`{self.vecCol}`", ds)
                        .alias("codes")))

    def search_with_codebooks(self, data: DataFrame, queries: DataFrame,
                              codebooks: DataFrame, mCol: str = "m",
                              codeCol: str = "code",
                              cvecCol: str = "cvec") -> DataFrame:
        """ADC top-k: returns (query_id, neighbor_id, adc_dist, rank)
        ranked by approximate distance ASC (ties → neighbor ASC)."""
        dim = self._dim_of(data)
        ds = dim // self.M
        _check_query_size(queries, "PQKNN", self.maxQueries)
        cb = F.broadcast(self._codebook_row(codebooks, mCol, codeCol,
                                            cvecCol))
        if self.M > self.wideM:
            # corpus side takes the numpy wide-M lane (it is the 100 TB
            # scan); the query LUT stays expr — the LUT frame is
            # nq-sized, so paying interpreted eval there is noise while
            # keeping the ADC distances bit-identical to the narrow lane
            cbs = self._collect_codebooks(codebooks, mCol, codeCol,
                                          cvecCol)
            codes = self._encode_pandas(
                data.select(F.col(self.idCol).alias("d_id"),
                            F.col(self.vecCol).alias("__v")),
                cbs, ds, "__v", ["d_id"], outName="__codes")
        else:
            codes = (data.crossJoin(cb)
                     .select(F.col(self.idCol).alias("d_id"),
                             self._codes_expr(f"`{self.vecCol}`", ds)
                             .alias("__codes")))
        luts = (queries.crossJoin(cb)
                .select(F.col(self.idCol).alias("q_id"),
                        self._lut_expr(f"`{self.vecCol}`", ds)
                        .alias("__lut")))
        return self._adc_scan(codes, luts)

    def _adc_scan(self, codes: DataFrame, luts: DataFrame) -> DataFrame:
        """The ADC top-k tail shared by every search lane: corpus
        ``codes`` (d_id, __codes) against broadcast query ``luts``
        (q_id, __lut) — M array lookups per candidate, partial top-k
        window."""
        cand = codes.crossJoin(F.broadcast(luts))
        if self.excludeSelf:
            cand = cand.filter(F.col("q_id") != F.col("d_id"))
        adc = F.aggregate(
            F.transform(F.sequence(F.lit(0), F.lit(self.M - 1)),
                        lambda m: F.element_at(
                            F.element_at("__lut", m + 1),
                            F.element_at("__codes", m + 1) + 1)),
            F.lit(0.0), lambda acc, x: acc + x)
        scored = cand.select(F.col("q_id").alias("query_id"),
                             F.col("d_id").alias("neighbor_id"),
                             adc.alias("adc_dist"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.k)
                .select("query_id", "neighbor_id", "adc_dist", "rank"))

    def search_with_codes(self, codes: DataFrame, codebooks: DataFrame,
                          queries: DataFrame, codesCol: str = "codes",
                          mCol: str = "m", codeCol: str = "code",
                          cvecCol: str = "cvec") -> DataFrame:
        """ADC top-k over a STORED code index (the
        :meth:`encode_with_codebooks` output, M ints per vector — 32×
        smaller than d=64 float64 at M=8): the scan never touches the
        float corpus; only the query LUTs are computed fresh. Results
        identical to :meth:`search_with_codebooks` on the source
        vectors (encode is deterministic; round-trip pinned in
        tests)."""
        return _maybe_chunk_queries(
            self, queries,
            lambda qc: self._search_with_codes_one(
                codes, codebooks, qc, codesCol, mCol, codeCol, cvecCol))

    def _search_with_codes_one(self, codes: DataFrame,
                               codebooks: DataFrame, queries: DataFrame,
                               codesCol: str = "codes", mCol: str = "m",
                               codeCol: str = "code",
                               cvecCol: str = "cvec") -> DataFrame:
        dim = self.dim
        if dim is None:
            raise ValueError(
                "search_with_codes needs dim= set on the retriever "
                "(the float corpus is not available to probe)")
        if dim % self.M:
            raise ValueError(
                f"vector dim {dim} is not divisible by M={self.M}")
        ds = dim // self.M
        _check_query_size(queries, "PQKNN.search_with_codes",
                          self.maxQueries)
        row = queries.select(F.size(self.vecCol)).first()
        if row is not None and int(row[0]) != dim:
            # a short query's LUT slices would null-pad into NULL ADC
            # distances that sort FIRST — silent garbage; refuse
            # (None = empty frame/chunk, nothing to mismatch)
            raise ValueError(
                f"query vectors have dim {int(row[0])}, stored index "
                f"has dim {dim}")
        cb = F.broadcast(self._codebook_row(codebooks, mCol, codeCol,
                                            cvecCol))
        luts = (queries.crossJoin(cb)
                .select(F.col(self.idCol).alias("q_id"),
                        self._lut_expr(f"`{self.vecCol}`", ds)
                        .alias("__lut")))
        return self._adc_scan(
            codes.select(F.col("vec_id").alias("d_id"),
                         F.col(codesCol).alias("__codes")), luts)

    # ------------------------------------------------- persistence
    def save_index(self, data: DataFrame, codebooks: DataFrame,
                   path: str, mode: str = "overwrite") -> None:
        """Persist the PQ index: ``{path}/codes`` (vec_id, codes),
        ``{path}/codebooks`` (m, code, cvec), and a manifest pinning
        M/K/dim — a retriever with different subspace geometry would
        silently mis-decode the stored codes."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        dim = self._dim_of(data)
        codebooks.select("m", "code", "cvec").write.mode(mode).parquet(
            f"{path}/codebooks")
        spark = data.sparkSession
        self.encode_with_codebooks(
            data, _read_store(spark, f"{path}/codebooks")
        ).write.mode(mode).parquet(f"{path}/codes")
        _fs_write_text(spark, f"{path}/_pq_manifest.json", _json.dumps(
            {"M": self.M, "K": self.K, "dim": dim, "version": 1}))
        if mode == "overwrite":
            # tombstones clear LAST, once the store + manifest are down:
            # a torn save then leaves the old mask conservatively hiding
            # rows (a retry fixes it) instead of resurrecting taken-down
            # ids — the unsafe failure direction for takedowns
            _clear_tombstones(spark, path)

    def load_index(self, spark, path: str) -> dict:
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(_fs_read_text(spark, f"{path}/_pq_manifest.json"))
        if man.get("M") != self.M or man.get("dim") != (
                self.dim if self.dim is not None else man.get("dim")):
            raise ValueError(
                f"PQ index at {path} was encoded with M={man.get('M')}, "
                f"dim={man.get('dim')}; this retriever has M={self.M}, "
                f"dim={self.dim} — codes would mis-decode")
        if self.dim is None:
            self.dim = int(man["dim"])
        return {"codes": _read_store(spark, f"{path}/codes"),
                "codebooks": _read_store(spark, f"{path}/codebooks"),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_index` artifact —
        metadata-only until :meth:`compact_index`; see
        IVFKNN.delete_from_index for the model."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned codes and clear the tombstone
        set. The flat PQ code table has no cell partitioning to
        prune, so compaction rewrites the code store — still M ints
        per vector, never the float corpus — through the shared
        staging+rename swap, so a failure mid-compaction never leaves
        the codes' only copy half-written. Returns rows removed."""
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        codes = _read_store(spark, f"{path}/codes")
        before = _parquet_row_count(spark, f"{path}/codes")
        keep = codes.join(ts.withColumnRenamed("id", "vec_id"),
                          "vec_id", "left_anti")
        _replace_flat_store(keep, f"{path}/codes")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/codes")

    def search_with_index(self, index: dict,
                          queries: DataFrame) -> DataFrame:
        return self.search_with_codes(
            _drop_tombstoned(index["codes"], index.get("tombstones"),
                             "vec_id"),
            index["codebooks"], queries)

    # -------------------------------------------------- sampled fit
    def fit_codebooks(self, data: DataFrame) -> DataFrame:
        """Seeded per-subspace Lloyd on a bounded sample → (m, code,
        cvec) frame (rows-only lane: sampled fit is not SQL-
        reproducible, like knn_ivf's)."""
        dim = self._dim_of(data)
        ds = dim // self.M
        total = data.count()
        frac = min(1.0, (self.sampleSize * 1.2) / max(total, 1))
        rows = (data.select(self.vecCol).sample(False, frac, self.seed)
                .limit(self.sampleSize).collect())
        x = np.array([r[0] for r in rows], dtype=np.float64)
        rng = np.random.default_rng(self.seed)
        out = []
        for m in range(self.M):
            sub = x[:, m * ds:(m + 1) * ds]
            cent = sub[rng.choice(sub.shape[0],
                                  size=min(self.K, sub.shape[0]),
                                  replace=False)]
            for _ in range(self.iters):
                d2 = ((sub[:, None, :] - cent[None, :, :]) ** 2).sum(-1)
                assign = d2.argmin(axis=1)
                for c in range(cent.shape[0]):
                    mask = assign == c
                    if mask.any():
                        cent[c] = sub[mask].mean(axis=0)
            out.extend((m, c, [float(v) for v in cent[c]])
                       for c in range(cent.shape[0]))
        return data.sparkSession.createDataFrame(
            out, "m int, code int, cvec array<double>")

    def search(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        """Sampled-fit + ADC scan in one call (scale lane)."""
        return self.search_with_codebooks(data, queries,
                                          self.fit_codebooks(data))

    # -------------------------------------------------- IVF-PQ
    @staticmethod
    def _l2(a, b):
        """Squared L2 between two array columns — the direct (x−c)²
        element fold, same formula as the subspace distances."""
        return F.aggregate(
            F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
            F.lit(0.0), lambda acc, v: acc + v)

    def search_ivfpq(self, data: DataFrame, queries: DataFrame,
                     centroids: DataFrame, codebooks: DataFrame,
                     nProbe: int = 4, cellCol: str = "cell",
                     centVecCol: str = "cvec", mCol: str = "m",
                     codeCol: str = "code", cvecCol: str = "cvec") -> DataFrame:
        """IVFADC — the composed billion-scale recipe (faiss's
        IndexIVFPQ, Jégou 2011 §V): corpus vectors are assigned to
        their nearest coarse cell (squared-L2, cell-ASC tie-break),
        the RESIDUAL ``x − c_cell`` is PQ-encoded, and a query probes
        its ``nProbe`` nearest cells with a PER-(query, cell)
        residual lookup table — candidates meet on a cell EQUI-join
        (never a corpus scan) and score with M lookups each.

        Both the coarse quantizer and the codebooks are pre-trained
        small frames (broadcast, never collected); everything is
        Catalyst with order-pinned folds, so ``knn_ivfpq`` replays
        hash-exact. Corpus assignment is a map-side ×nlist broadcast
        expansion collapsed by a combinable max-struct partial
        aggregate — the shuffle carries one row per corpus vector.

        Returns (query_id, neighbor_id, adc_dist, rank)."""
        self._dim_of(data)  # enforce dim % M before any work
        dcodes = self.ivfpq_assign_encode(data, centroids, codebooks,
                                          cellCol, centVecCol, mCol,
                                          codeCol, cvecCol)
        return _maybe_chunk_queries(
            self, queries,
            lambda qc: self._ivfpq_probe(dcodes, qc, centroids,
                                         codebooks, nProbe, cellCol,
                                         centVecCol, mCol, codeCol,
                                         cvecCol))

    def ivfpq_assign_encode(self, data: DataFrame, centroids: DataFrame,
                            codebooks: DataFrame, cellCol: str = "cell",
                            centVecCol: str = "cvec", mCol: str = "m",
                            codeCol: str = "code",
                            cvecCol: str = "cvec") -> DataFrame:
        """The IVFADC corpus side: (d_id, __cell, __codes) — each
        vector in its nearest coarse cell (squared-L2, cell-ASC ties)
        with its RESIDUAL ``x − c_cell`` PQ-encoded. This is the
        stored payload of :meth:`save_ivfpq_index`; the assignment is
        the combinable max-struct partial aggregate (one row per
        vector crosses the shuffle)."""
        dim = self._dim_of(data)
        ds = dim // self.M
        cents = F.broadcast(centroids.select(
            F.col(cellCol).alias("__cell"),
            F.col(centVecCol).alias("__cv")))
        vec = F.col(self.vecCol)
        d2 = self._l2(vec, F.col("__cv"))
        res = F.zip_with(vec, F.col("__cv"), lambda x, c: x - c)
        # corpus: argmin cell via combinable max(struct(-dist, -cell,
        # residual)) — ties to the LOWEST cell id, like the IVF lane
        dassign = (data.crossJoin(cents)
                   .select(F.col(self.idCol).alias("d_id"),
                           F.struct((-d2).alias("nd"),
                                    (-F.col("__cell")).alias("nc"),
                                    res.alias("r")).alias("__s"))
                   .groupBy("d_id").agg(F.max("__s").alias("__b"))
                   .select("d_id", (-F.col("__b.nc")).alias("__cell"),
                           F.col("__b.r").alias("__res")))
        if self.M > self.wideM:
            # residual encode on the numpy wide-M lane (same rationale
            # as search_with_codebooks: the corpus-side encode is the
            # scan that must stay codegen/BLAS-friendly at wide dims)
            cbs = self._collect_codebooks(codebooks, mCol, codeCol,
                                          cvecCol)
            return self._encode_pandas(
                dassign.select("d_id", "__cell",
                               F.col("__res").alias("__v")),
                cbs, ds, "__v", ["d_id", "__cell"], outName="__codes")
        cb = F.broadcast(self._codebook_row(codebooks, mCol, codeCol,
                                            cvecCol))
        return (dassign.crossJoin(cb)
                .select("d_id", "__cell",
                        self._codes_expr("__res", ds)
                        .alias("__codes")))

    def _ivfpq_probe(self, dcodes: DataFrame, queries: DataFrame,
                     centroids: DataFrame, codebooks: DataFrame,
                     nProbe: int, cellCol: str = "cell",
                     centVecCol: str = "cvec", mCol: str = "m",
                     codeCol: str = "code", cvecCol: str = "cvec",
                     dim: int | None = None) -> DataFrame:
        """The IVFADC query side shared by :meth:`search_ivfpq` and
        :meth:`search_ivfpq_with_index`: probe nProbe nearest cells,
        build a per-(query, cell) residual LUT, candidates meet the
        encoded corpus on a cell equi-join. ``dim`` skips the
        query-frame dim probe when the caller already knows it (the
        indexed lane's manifest)."""
        if dim is None:
            row = queries.select(F.size(self.vecCol)).first()
            # None = empty query frame: any subspace width yields the
            # same (empty) result, so don't crash on first()[0]
            dim = (int(row[0]) if row is not None
                   else (self.dim if self.dim is not None else self.M))
        if dim % self.M:
            raise ValueError(
                f"query vector dim {dim} is not divisible by "
                f"M={self.M}")
        ds = dim // self.M
        _check_query_size(queries, "PQKNN.search_ivfpq", self.maxQueries)
        cents = F.broadcast(centroids.select(
            F.col(cellCol).alias("__cell"),
            F.col(centVecCol).alias("__cv")))
        cb = F.broadcast(self._codebook_row(codebooks, mCol, codeCol,
                                            cvecCol))
        vec = F.col(self.vecCol)
        d2 = self._l2(vec, F.col("__cv"))
        res = F.zip_with(vec, F.col("__cv"), lambda x, c: x - c)
        # queries: top-nProbe cells by the same distance, then a
        # residual LUT per probed cell
        w = Window.partitionBy("q_id").orderBy(
            F.col("__d2").asc(), F.col("__cell").asc())
        qprobe = (queries.crossJoin(cents)
                  .select(F.col(self.idCol).alias("q_id"), "__cell",
                          d2.alias("__d2"), res.alias("__res"))
                  .withColumn("__rk", F.row_number().over(w))
                  .filter(F.col("__rk") <= nProbe)
                  .drop("__rk", "__d2"))
        qluts = (qprobe.crossJoin(cb)
                 .select("q_id", "__cell",
                         self._lut_expr("__res", ds)
                         .alias("__lut")))
        cand = dcodes.join(F.broadcast(qluts), "__cell")
        if self.excludeSelf:
            cand = cand.filter(F.col("q_id") != F.col("d_id"))
        adc = F.aggregate(
            F.transform(F.sequence(F.lit(0), F.lit(self.M - 1)),
                        lambda m: F.element_at(
                            F.element_at("__lut", m + 1),
                            F.element_at("__codes", m + 1) + 1)),
            F.lit(0.0), lambda acc, x: acc + x)
        scored = (cand.select(F.col("q_id").alias("query_id"),
                              F.col("d_id").alias("neighbor_id"),
                              adc.alias("adc_dist"))
                  .dropDuplicates(["query_id", "neighbor_id"]))
        w2 = Window.partitionBy("query_id").orderBy(
            F.col("adc_dist").asc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w2))
                .filter(F.col("rank") <= self.k)
                .select("query_id", "neighbor_id", "adc_dist", "rank"))

    # --------------------------------------- IVF-PQ persistence
    def save_ivfpq_index(self, data: DataFrame, centroids: DataFrame,
                         codebooks: DataFrame, path: str,
                         mode: str = "overwrite", cellCol: str = "cell",
                         centVecCol: str = "cvec", mCol: str = "m",
                         codeCol: str = "code",
                         cvecCol: str = "cvec") -> None:
        """Persist the COMPOSED IVFADC index as ONE artifact — the
        production big-corpus lane (faiss IndexIVFPQ's operating
        shape: quantizers trained once, inverted lists of PQ codes on
        disk, probes read only probed cells):

        - ``{path}/centroids`` — the coarse quantizer (cell, cvec).
        - ``{path}/codebooks`` — the residual PQ codebooks
          (m, code, cvec).
        - ``{path}/codes`` — (d_id, codes) PARTITIONED BY ``__cell``,
          so a probe touching nProbe of nlist cells reads only those
          directories (dynamic partition pruning off the broadcast
          query-cell join), and each row holds M small ints instead
          of d floats — the cell pruning AND the 8-32× byte shrink
          compose.
        - ``{path}/_ivfpq_manifest.json`` — pins M/K/dim/nlist; a
          retriever with different subspace geometry would silently
          mis-decode the stored codes, and a mismatched query dim
          would null-pad residuals into garbage LUTs.
        """
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        dim = self._dim_of(data)
        spark = data.sparkSession
        _refuse_save_over_torn_append(
            spark, path, "save_ivfpq_index")
        centroids.select(F.col(cellCol).alias("cell"),
                         F.col(centVecCol).alias("cvec")).write.mode(
            mode).parquet(f"{path}/centroids")
        codebooks.select(F.col(mCol).alias("m"),
                         F.col(codeCol).alias("code"),
                         F.col(cvecCol).alias("cvec")).write.mode(
            mode).parquet(f"{path}/codebooks")
        saved_c = _read_store(spark, f"{path}/centroids")
        saved_b = _read_store(spark, f"{path}/codebooks")
        # footer-only count (no Spark job): the centroids store was
        # just written, and the manifest only needs its row count
        nlist = _parquet_row_count(spark, f"{path}/centroids")
        codes = self.ivfpq_assign_encode(data, saved_c, saved_b)
        # lead the sort with the partition column: the dynamic-
        # partition writer re-sorts by it anyway and would lose any
        # other order (see export.py's shard-write note)
        (codes.repartition(F.col("__cell"))
         .sortWithinPartitions("__cell", "d_id")
         .write.mode(mode).partitionBy("__cell")
         .parquet(f"{path}/codes"))
        _fs_write_text(spark, f"{path}/_ivfpq_manifest.json", _json.dumps(
            {"M": self.M, "K": self.K, "dim": dim, "nlist": nlist,
             "version": 1}))
        if mode == "overwrite":
            # tombstones clear LAST, once the store + manifest are down:
            # a torn save then leaves the old mask conservatively hiding
            # rows (a retry fixes it) instead of resurrecting taken-down
            # ids — the unsafe failure direction for takedowns
            _clear_tombstones(spark, path)

    def append_to_ivfpq_index(self, new_data: DataFrame,
                              path: str,
                              batchId: int | None = None) -> None:
        """Incrementally grow a :meth:`save_ivfpq_index` artifact:
        assign + residual-encode ONLY the new vectors against the
        stored quantizers (the existing codes are never touched or
        re-read) and append their cell directories. Both quantizers
        are fixed at save time — the faiss operating model — so
        search over the appended index equals a fresh index over the
        unioned corpus exactly (pinned in tests). Duplicate ids are
        the caller's contract, as with any append-only store — EXCEPT
        ids with a pending tombstone, which are refused (the new rows
        would be masked now and deleted at the next compaction; see
        :func:`index_common._refuse_tombstoned_append`).

        Validates the stored manifest first, like every sibling
        appender: a retriever with a different M, or a batch whose
        vectors have a different dim, would silently append
        mis-encoded codes (a dim mismatch zip_with-null-pads the
        residuals) while the manifest still advertises the old
        geometry — corrupting the artifact for every later load."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        spark = new_data.sparkSession
        _refuse_torn_file_append(spark, path, "append_to_ivfpq_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        man = _json.loads(
            _fs_read_text(spark, f"{path}/_ivfpq_manifest.json"))
        if man.get("M") != self.M:
            raise ValueError(
                f"IVFPQ index at {path} was encoded with "
                f"M={man.get('M')}; this retriever has M={self.M} — "
                f"appended codes would mis-decode")
        # measure the BATCH's actual width (not self.dim, which a
        # prior fit/save caches on the retriever and would hide a
        # mis-shaped batch behind the remembered value)
        first = new_data.select(F.size(self.vecCol)).first()
        new_dim = int(first[0]) if first is not None else None
        if new_dim is not None and man.get("dim") != new_dim:
            raise ValueError(
                f"new vectors have dim {new_dim}, IVFPQ index at "
                f"{path} holds dim={man.get('dim')} residual codes — "
                f"appending would null-pad residuals into garbage")
        _refuse_tombstoned_append(
            new_data.select(F.col(self.idCol)), path, self.idCol,
            "append_to_ivfpq_index")
        _begin_file_append(spark, path, batchId)
        codes = self.ivfpq_assign_encode(
            new_data, _read_store(spark, f"{path}/centroids"),
            _read_store(spark, f"{path}/codebooks"))
        (codes.repartition(F.col("__cell"))
         .sortWithinPartitions("__cell", "d_id")
         .write.mode("append").partitionBy("__cell")
         .parquet(f"{path}/codes"))
        _commit_file_append(spark, path, batchId)

    def load_ivfpq_index(self, spark, path: str) -> dict:
        """Read a :meth:`save_ivfpq_index` artifact for
        :meth:`search_ivfpq_with_index`. Raises on an M/dim mismatch —
        stored codes decode against the manifest's subspace geometry,
        so a differently-configured retriever would reconstruct every
        residual wrong, silently."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        _refuse_torn_file_append(spark, path, "load_ivfpq_index")
        man = _json.loads(
            _fs_read_text(spark, f"{path}/_ivfpq_manifest.json"))
        if man.get("M") != self.M:
            raise ValueError(
                f"IVFPQ index at {path} was encoded with "
                f"M={man.get('M')}; this retriever has M={self.M} — "
                f"codes would mis-decode")
        if self.dim is not None and man.get("dim") != self.dim:
            raise ValueError(
                f"IVFPQ index at {path} holds dim={man.get('dim')} "
                f"residual codes; this retriever has dim={self.dim}")
        if self.dim is None:
            self.dim = int(man["dim"])
        return {"codes": _read_store(spark, f"{path}/codes"),
                "centroids": _read_store(spark, f"{path}/centroids"),
                "codebooks": _read_store(spark, f"{path}/codebooks"),
                "dim": int(man["dim"]),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_ivfpq_index(self, ids: DataFrame, path: str,
                                idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_ivfpq_index` artifact —
        metadata-only until :meth:`compact_ivfpq_index`; see
        IVFKNN.delete_from_index for the model."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_ivfpq_index(self, spark, path: str) -> int:
        """Rewrite ONLY the cell directories holding tombstoned codes,
        delete fully-tombstoned cells' directories, then clear the
        tombstones (shared :func:`_compact_cells` mechanics). Returns
        the number of affected cells; results are identical before
        and after (pinned in tests)."""
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        return _compact_cells(spark, f"{path}/codes", ts, path)

    def search_ivfpq_with_index(self, index: dict, queries: DataFrame,
                                nProbe: int = 4, where=None) -> DataFrame:
        """IVFADC top-k against a loaded :meth:`load_ivfpq_index`
        artifact — identical results to :meth:`search_ivfpq` on the
        source corpus (assignment and encoding are deterministic;
        round-trip pinned in tests). Only the query-side cell probe
        and residual LUTs compute fresh; the corpus side is the
        stored cell-partitioned code table. ``where`` (a Column
        predicate over ``d_id``) gives FILTERED search — per-vector
        assignment/encoding means filtering stored codes equals
        encoding the filtered corpus (pinned in tests), and the
        predicate pushes into the cell-pruned code scan."""
        row = queries.select(F.size(self.vecCol)).first()
        if row is not None and int(row[0]) != index["dim"]:
            # mismatched query dim would zip_with-null-pad the
            # residuals into NULL LUT distances that sort FIRST —
            # silent garbage top-k; refuse instead (None = empty
            # frame, nothing to mismatch)
            raise ValueError(
                f"query vectors have dim {int(row[0])}, stored IVFPQ "
                f"index has dim {index['dim']}")
        codes = _drop_tombstoned(index["codes"],
                                 index.get("tombstones"), "d_id")
        if where is not None:
            codes = codes.filter(where)
        dcodes = codes.select(
            "d_id", F.col("__cell").cast("int").alias("__cell"),
            "__codes")
        return _maybe_chunk_queries(
            self, queries,
            lambda qc: self._ivfpq_probe(dcodes, qc, index["centroids"],
                                         index["codebooks"], nProbe,
                                         dim=index["dim"]))


class ScalarQuantizerKNN:
    """Scalar-quantization ANN (faiss ``IndexScalarQuantizer`` SQ8
    family) — the UNIFORM compressed scale path, complementing PQKNN:
    each dimension is quantized independently to ``2^bits`` uniform
    levels between that dimension's corpus [lo, hi] bounds, so a
    d-dim float64 vector becomes d small codes (d bytes at bits=8,
    an 8× shrink) with NO trained codebooks — the fit is two exact
    aggregates per dimension.

    Unlike k-means-fitted quantizers (IVF/PQ sampled-fit lanes), the
    fit here is fully deterministic — per-dimension ``min``/``max``
    are exact one-pass aggregates — so the ENTIRE fit→encode→search
    pipeline replays bit-exact in SQL (``knn_sq8`` catalog oracle);
    there is no rows-only lane.

    Encode: ``code_i = clamp(floor((x_i − lo_i)/Δ_i + 0.5), 0,
    2^bits−1)`` with ``Δ_i = (hi_i − lo_i)/(2^bits−1)`` —
    ``floor(r + 0.5)`` (never ``round``) because both engines
    evaluate it with identical IEEE operations, while round()
    half-way dialects differ. Constant dimensions (hi = lo) encode
    to 0 and reconstruct to ``lo_i`` exactly (Δ_i = 0). Out-of-bound
    values (bring-your-own bounds) clamp to the edge codes.

    Search is asymmetric: the exact query against the on-the-fly
    reconstruction ``lo_i + code_i·Δ_i``, squared L2 as the direct
    ``(q−x̂)²`` element-order left fold (float-parity rule: same
    formula, same order, both engines).

    Scale shape: fit is ONE map-side-combined aggregate pass emitting
    a single (lo, hi) row (2d doubles); encoding is map-only under
    the broadcast bounds; search reconstructs corpus-side below a
    broadcast cross join against the (small) query frame and
    collapses through the top-k window — the same plan skeleton as
    BruteForceKNN's expr lane, but the stored index is 8× smaller
    and the scan reads codes, not floats. Parity target:
    reference core BallTree/KNN surface (io/http KNN variants) keeps
    raw vectors; this operator is the compressed-index counterpart.
    """

    def __init__(self, idCol: str = "vec_id", vecCol: str = "embedding",
                 k: int = 10, bits: int = 8, dim: int | None = None,
                 excludeSelf: bool = True,
                 maxQueries: int | None = _MAX_QUERY_ROWS,
                 wideDim: int = 256,
                 chunkQueries: int | None = None):
        if not 1 <= bits <= 16:
            raise ValueError(f"bits={bits} outside [1, 16]")
        self.idCol, self.vecCol, self.k = idCol, vecCol, k
        self.bits, self.dim = bits, dim
        self.levels = (1 << bits) - 1
        self.excludeSelf = excludeSelf
        self.maxQueries = maxQueries
        self.wideDim = wideDim
        self.chunkQueries = chunkQueries

    def _dim_of(self, df: DataFrame) -> int:
        return (self.dim if self.dim is not None
                else int(df.select(F.size(self.vecCol)).first()[0]))

    # ---------------------------------------------------------- fit
    def fit_bounds(self, data: DataFrame) -> DataFrame:
        """ONE-row (lo array<double>, hi array<double>) frame: exact
        per-dimension min/max. Both lanes are exact and agree
        bit-for-bit (min/max are order-independent) — they differ only
        in plan shape:

        - dim ≤ wideDim: a single aggregate with 2·dim min/max
          expressions, map-side combined, zero explode. The fastest
          shape while the expression count stays codegen-friendly.
        - dim > wideDim: 2·dim agg expressions would blow past
          Catalyst's codegen limits (thousands of exprs at d≥1024 —
          whole-stage codegen bails to interpreted row-at-a-time
          eval), so the wide lane posexplodes to (dim, value) and
          aggregates per position. The groupBy is map-side combined —
          the shuffle carries partitions×dim partial rows, NOT N×dim;
          the explode's cost is map-side row materialization, the
          right trade above the codegen cliff. Final assembly is one
          dim-row array_sort aggregate."""
        dim = self._dim_of(data)
        v = data.select(F.transform(
            self.vecCol, lambda x: x.cast("double")).alias("__v"))
        if dim <= self.wideDim:
            aggs = ([F.min(F.element_at("__v", i + 1)).alias(f"__lo{i}")
                     for i in range(dim)]
                    + [F.max(F.element_at("__v", i + 1)).alias(f"__hi{i}")
                       for i in range(dim)])
            row = v.agg(*aggs)
            return row.select(
                F.array(*[F.col(f"__lo{i}") for i in range(dim)])
                .alias("lo"),
                F.array(*[F.col(f"__hi{i}") for i in range(dim)])
                .alias("hi"))
        per = (v.select(F.posexplode("__v").alias("__i", "__x"))
               .groupBy("__i")
               .agg(F.min("__x").alias("__lo"), F.max("__x").alias("__hi")))
        row = per.agg(F.array_sort(F.collect_list(F.struct(
            F.col("__i").alias("i"), F.col("__lo").alias("l"),
            F.col("__hi").alias("h")))).alias("__s"))
        return row.select(
            F.transform("__s", lambda s: s["l"]).alias("lo"),
            F.transform("__s", lambda s: s["h"]).alias("hi"))

    # ------------------------------------------------- expressions
    def _codes_expr(self, vec, lo, hi):
        """array<int> codes; index-aware transform so each element
        meets ITS dimension's bounds (zip_with takes only two
        arrays)."""
        lv = F.lit(float(self.levels))
        return F.transform(vec, lambda x, i: F.when(
            F.get(hi, i) == F.get(lo, i), F.lit(0)
        ).otherwise(
            F.greatest(F.lit(0.0), F.least(lv, F.floor(
                (x.cast("double") - F.get(lo, i))
                / ((F.get(hi, i) - F.get(lo, i)) / lv)
                + F.lit(0.5)).cast("double")))
        ).cast("int"))

    def _recon_expr(self, codes, lo, hi):
        """array<double> reconstruction lo_i + code_i·Δ_i (Δ_i = 0 on
        constant dims → exactly lo_i)."""
        lv = F.lit(float(self.levels))
        return F.transform(codes, lambda c, i:
                           F.get(lo, i) + c.cast("double")
                           * ((F.get(hi, i) - F.get(lo, i)) / lv))

    # ------------------------------------------------ public lanes
    def encode_with_bounds(self, data: DataFrame,
                           bounds: DataFrame) -> DataFrame:
        """(vec_id, codes array<int>) — the compressed index.
        Map-only under the one-row bounds broadcast."""
        self._dim_of(data)  # surface a missing/empty vec col early
        b = F.broadcast(bounds.select("lo", "hi"))
        return (data.crossJoin(b)
                .select(F.col(self.idCol).alias("vec_id"),
                        self._codes_expr(F.col(self.vecCol),
                                         F.col("lo"), F.col("hi"))
                        .alias("codes")))

    def decode_with_bounds(self, codes: DataFrame,
                           bounds: DataFrame,
                           codesCol: str = "codes") -> DataFrame:
        """(vec_id, recon array<double>) — the approximate vectors an
        index of codes stands for (lo_i + code_i·Δ_i). For any value
        that was INSIDE the fitted bounds, the reconstruction error
        per dimension is at most Δ_i/2 (uniform quantization bound;
        pinned by tests). Map-only under the bounds broadcast."""
        b = F.broadcast(bounds.select("lo", "hi"))
        return (codes.crossJoin(b)
                .select("vec_id",
                        self._recon_expr(F.col(codesCol), F.col("lo"),
                                         F.col("hi")).alias("recon")))

    def _score_recon(self, d: DataFrame, queries: DataFrame) -> DataFrame:
        """Asymmetric scoring tail shared by every search lane:
        ``d`` = (neighbor_id, __recon) corpus reconstructions, scored
        against the broadcast exact query vectors with the direct
        (q−x̂)² element-order left fold, collapsed by the top-k
        window."""
        vec = F.transform(self.vecCol, lambda x: x.cast("double"))
        q = queries.select(F.col(self.idCol).alias("query_id"),
                           vec.alias("__qv"))
        scored = d.crossJoin(F.broadcast(q)).select(
            "query_id", "neighbor_id",
            F.aggregate(F.zip_with("__qv", "__recon",
                                   lambda a, c: (a - c) * (a - c)),
                        F.lit(0.0), lambda acc, x: acc + x)
            .alias("sq_dist"))
        if self.excludeSelf:
            scored = scored.filter(
                F.col("query_id") != F.col("neighbor_id"))
        w = Window.partitionBy("query_id").orderBy(
            F.col("sq_dist").asc(), F.col("neighbor_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.k)
                .select("query_id", "neighbor_id", "sq_dist", "rank"))

    def search_with_bounds(self, data: DataFrame, queries: DataFrame,
                           bounds: DataFrame) -> DataFrame:
        """Asymmetric top-k: (query_id, neighbor_id, sq_dist, rank)
        ranked by squared L2 ASC (ties → neighbor ASC). Encodes the
        float corpus on the fly; :meth:`search_with_codes` is the
        stored-index variant that scans codes instead."""
        return _maybe_chunk_queries(
            self, queries,
            lambda qc: self._search_with_bounds_one(data, qc, bounds))

    def _search_with_bounds_one(self, data: DataFrame, queries: DataFrame,
                                bounds: DataFrame) -> DataFrame:
        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        self._dim_of(data)
        _check_query_size(queries, "ScalarQuantizerKNN", self.maxQueries)
        b = F.broadcast(bounds.select("lo", "hi"))
        vec = F.transform(self.vecCol, lambda x: x.cast("double"))
        recon = self._recon_expr(
            self._codes_expr(vec, F.col("lo"), F.col("hi")),
            F.col("lo"), F.col("hi"))
        d = (spread_narrow_scan(data, VECTOR_MATH_BYTES_PER_SLOT)
             .crossJoin(b)
             .select(F.col(self.idCol).alias("neighbor_id"),
                     recon.alias("__recon")))
        return self._score_recon(d, queries)

    def search_with_codes(self, codes: DataFrame, bounds: DataFrame,
                          queries: DataFrame,
                          codesCol: str = "codes") -> DataFrame:
        """Top-k over a STORED compressed index — the scan reads
        (vec_id, codes) and never touches the float corpus: at bits=8
        that is 1/8th the bytes of the raw embedding column, the whole
        point of the quantizer at 100 TB. Reconstruction is the same
        lo + code·Δ expression as the float lane, so results are
        IDENTICAL to :meth:`search_with_bounds` on the source vectors
        (encode is deterministic; round-trip pinned in tests)."""
        return _maybe_chunk_queries(
            self, queries,
            lambda qc: self._search_with_codes_one(codes, bounds, qc,
                                                   codesCol))

    def _search_with_codes_one(self, codes: DataFrame, bounds: DataFrame,
                               queries: DataFrame,
                               codesCol: str = "codes") -> DataFrame:
        from mmlspark_spark.operators.scale import (
            VECTOR_MATH_BYTES_PER_SLOT,
            spread_narrow_scan,
        )

        _check_query_size(queries, "ScalarQuantizerKNN", self.maxQueries)
        if self.dim is not None:
            # a dim-mismatched query frame would zip_with-null-pad into
            # NULL distances that sort FIRST in the rank window —
            # silent garbage top-k; refuse it instead (one cheap row;
            # None = empty frame/chunk, nothing to mismatch)
            row = queries.select(F.size(self.vecCol)).first()
            if row is not None and int(row[0]) != self.dim:
                raise ValueError(
                    f"query vectors have dim {int(row[0])}, stored "
                    f"index has dim {self.dim}")
        b = F.broadcast(bounds.select("lo", "hi"))
        d = (spread_narrow_scan(codes, VECTOR_MATH_BYTES_PER_SLOT)
             .crossJoin(b)
             .select(F.col("vec_id").alias("neighbor_id"),
                     self._recon_expr(F.col(codesCol), F.col("lo"),
                                      F.col("hi")).alias("__recon")))
        return self._score_recon(d, queries)

    # ------------------------------------------------- persistence
    def save_index(self, data: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        """Persist the compressed index: ``{path}/codes`` (vec_id,
        codes array<int>) parquet, ``{path}/bounds`` (one row lo/hi),
        and a manifest pinning bits/dim so a retriever configured
        differently cannot silently mis-decode the stored codes. Fit
        (exact min/max) + encode in one pass over the corpus; search
        forever after reads codes only."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        _refuse_save_over_torn_append(
            data.sparkSession, path, "ScalarQuantizerKNN.save_index")
        dim = self._dim_of(data)
        bounds = self.fit_bounds(data)
        bounds.write.mode(mode).parquet(f"{path}/bounds")
        spark = data.sparkSession
        saved_bounds = _read_store(spark, f"{path}/bounds")
        self.encode_with_bounds(data, saved_bounds).write.mode(
            mode).parquet(f"{path}/codes")
        _fs_write_text(spark, f"{path}/_sq_manifest.json", _json.dumps(
            {"bits": self.bits, "dim": dim, "version": 1}))
        if mode == "overwrite":
            # tombstones clear LAST, once the store + manifest are down:
            # a torn save then leaves the old mask conservatively hiding
            # rows (a retry fixes it) instead of resurrecting taken-down
            # ids — the unsafe failure direction for takedowns
            _clear_tombstones(spark, path)

    def load_index(self, spark, path: str) -> dict:
        """Read a :meth:`save_index` artifact for
        :meth:`search_with_index`. Raises on a bits mismatch — codes
        decode against 2^bits−1 levels, so a mismatched retriever
        would reconstruct every vector wrong, silently."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        _refuse_torn_file_append(spark, path,
                                 "ScalarQuantizerKNN.load_index")
        man = _json.loads(_fs_read_text(spark, f"{path}/_sq_manifest.json"))
        if man.get("bits") != self.bits:
            raise ValueError(
                f"SQ index at {path} was encoded with bits="
                f"{man.get('bits')}; this retriever has bits="
                f"{self.bits} — codes would mis-decode")
        if self.dim is not None and man.get("dim") != self.dim:
            raise ValueError(
                f"SQ index at {path} holds dim={man.get('dim')} codes; "
                f"this retriever has dim={self.dim} — the asymmetric "
                f"scan would zip mismatched lengths into NULL "
                f"distances")
        if self.dim is None:
            self.dim = int(man["dim"])
        return {"codes": _read_store(spark, f"{path}/codes"),
                "bounds": _read_store(spark, f"{path}/bounds"),
                "tombstones": _read_tombstones(spark, path)}

    def append_to_index(self, new_data: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow a :meth:`save_index` artifact: encode ONLY the new
        vectors against the STORED per-dimension bounds — the
        quantization grid is fixed at save time, the faiss operating
        model shared with the IVF/LSH appenders, so search over the
        appended index equals encoding the unioned corpus with the
        same stored bounds exactly (pinned in tests). Appended values
        outside a stored [lo, hi] clamp to the edge codes, exactly as
        out-of-bound values do at save time — correct nearest-level
        behavior, but if drift accumulates the edge codes saturate;
        re-fit nightly via :meth:`save_index` when that matters.
        Refuses bits/dim mismatches (codes would silently mis-decode),
        ids with a pending tombstone, and a torn prior append
        (``repair_file_append`` rolls back); with ``batchId`` the
        shared bracket makes streaming replays exactly-once
        (:func:`~mmlspark_spark.streaming.ann_ingest_foreach_batch`
        drives this family's flat bootstrap path unchanged)."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        spark = new_data.sparkSession
        _refuse_torn_file_append(spark, path,
                                 "ScalarQuantizerKNN.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        man = _json.loads(_fs_read_text(spark,
                                        f"{path}/_sq_manifest.json"))
        if man.get("bits") != self.bits:
            raise ValueError(
                f"SQ index at {path} was encoded with bits="
                f"{man.get('bits')}; this retriever has bits="
                f"{self.bits} — appended codes would mis-decode")
        # measure the BATCH's vectors (never the configured dim —
        # self.dim is a decode setting, not evidence about this data)
        dim = vector_dim(new_data, self.vecCol)
        if man.get("dim") != dim:
            raise ValueError(
                f"new vectors have dim {dim}, SQ index at {path} "
                f"holds dim={man.get('dim')} codes")
        _refuse_tombstoned_append(
            new_data.select(F.col(self.idCol)), path, self.idCol,
            "ScalarQuantizerKNN.append_to_index")
        saved_bounds = _read_store(spark, f"{path}/bounds")
        # shared file-append bracket: the encode lands as new files
        # in the flat code store; a killed write job's partial
        # part-file set rolls back bit-exactly
        _begin_file_append(spark, path, batchId)
        self.encode_with_bounds(new_data, saved_bounds).write.mode(
            "append").parquet(f"{path}/codes")
        _commit_file_append(spark, path, batchId)

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_index` artifact —
        metadata-only until :meth:`compact_index`; see
        IVFKNN.delete_from_index for the model."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned codes and clear the tombstone
        set. The SQ code table is flat (no cell partitioning to
        prune), so compaction rewrites the whole code store — still
        codes, never floats, so the rewrite is 1/8th the bytes of the
        source corpus at bits=8 — through the shared staging+rename
        swap, so a failure mid-compaction never leaves the codes' only
        copy half-written. Returns rows removed."""
        _refuse_torn_file_append(
            spark, path, "ScalarQuantizerKNN.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        codes = _read_store(spark, f"{path}/codes")
        before = _parquet_row_count(spark, f"{path}/codes")
        keep = codes.join(ts.withColumnRenamed("id", "vec_id"),
                          "vec_id", "left_anti")
        _replace_flat_store(keep, f"{path}/codes")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/codes")

    def search_with_index(self, index: dict,
                          queries: DataFrame) -> DataFrame:
        return self.search_with_codes(
            _drop_tombstoned(index["codes"], index.get("tombstones"),
                             "vec_id"),
            index["bounds"], queries)

    def search(self, data: DataFrame, queries: DataFrame) -> DataFrame:
        """Fit + search in one call. Deterministic end-to-end (exact
        min/max fit), unlike the sampled-fit IVF/PQ lanes."""
        return self.search_with_bounds(data, queries,
                                       self.fit_bounds(data))


def truncated_rerank_search(data: DataFrame, queries: DataFrame,
                            dPrime: int, idCol: str = "vec_id",
                            vecCol: str = "embedding", k: int = 10,
                            candidates: int = 50,
                            excludeSelf: bool = True,
                            maxQueries: int | None = _MAX_QUERY_ROWS,
                            coarse: str = "float",
                            bits: int = 8) -> DataFrame:
    """Matryoshka two-stage retrieval (Kusupati et al. 2022, MRL):
    a COARSE pass ranks by cosine over only the first ``dPrime``
    dimensions of the embedding (MRL-trained prefixes are themselves
    valid embeddings; for PCA-rotated vectors the prefix carries most
    of the variance), keeping ``candidates`` per query; an EXACT pass
    re-scores just those candidates on the full vector. The coarse
    fold costs dPrime/d of the exact scan — at d=1024, dPrime=64 the
    first pass reads 6% of the floats — and the rerank touches
    ``candidates × nq`` rows however large the corpus.

    Both stages are deterministic Catalyst expressions (prefix slice,
    order-pinned cosine folds, rank windows with id tie-breaks), so
    the whole two-stage pipeline replays hash-exact in SQL
    (``knn_matryoshka`` catalog oracle).

    Scale shape: stage 1 is the BruteForceKNN expr skeleton on the
    sliced prefix (broadcast queries, corpus-side folds, top-C
    window); stage 2 semi-joins the small candidate frame back to the
    corpus on ``idCol`` — broadcast-sized by construction (nq × C
    ids) — then re-scores map-side. No stage shuffles the corpus.

    Returns (query_id, neighbor_id, sim, rank) — ``sim`` is the
    FULL-dimension cosine, ranked DESC with neighbor-ASC tie-break.

    ``coarse="sq8"`` composes MRL over scalar quantization — the
    production recipe: the corpus side of stage 1 scores against the
    SQ-RECONSTRUCTED prefix (exact per-prefix-dim [lo, hi] bounds,
    ``bits``-bit uniform codes, lo + code·Δ reconstruction — the
    ScalarQuantizerKNN formulas verbatim), while the query prefix
    stays exact float (asymmetric, the faiss convention). A stored
    coarse index then holds dPrime CODES per vector instead of dPrime
    floats — at d=1024, dPrime=64, bits=8 the coarse scan reads 0.8%
    of the full-float bytes — and the exact rerank unchanged on top
    caps the recall cost (pinned vs the float lane in tests). Still
    deterministic end-to-end (exact bounds fit), so it oracles
    (``knn_matryoshka_sq8``).
    """
    from mmlspark_spark.functions.vector import dot, norm
    from mmlspark_spark.operators.scale import (
        VECTOR_MATH_BYTES_PER_SLOT,
        spread_narrow_scan,
    )

    if dPrime < 1:
        raise ValueError(f"dPrime={dPrime} must be >= 1")
    if candidates < k:
        raise ValueError(
            f"candidates={candidates} < k={k}: the rerank could not "
            f"fill the top-k (recall would silently cap below 1)")
    if coarse not in ("float", "sq8"):
        raise ValueError(f"coarse={coarse!r} not in ('float', 'sq8')")
    _check_query_size(queries, "truncated_rerank_search", maxQueries)

    vec = F.transform(vecCol, lambda x: x.cast("double"))
    pre = F.slice(vec, 1, dPrime)

    # ---- stage 1: coarse top-C on the dPrime-prefix ----------------
    q = queries.select(
        F.col(idCol).alias("query_id"), vec.alias("__qv"),
        pre.alias("__qp"),
    ).select("query_id", "__qv", "__qp",
             F.greatest(norm("__qp"), F.lit(1e-300)).alias("__qpn"),
             F.greatest(norm("__qv"), F.lit(1e-300)).alias("__qn"))
    if coarse == "sq8":
        # corpus prefix → SQ codes → reconstruction; the coarse scan
        # of a STORED index then reads codes, not floats (8× at
        # bits=8). Query side stays exact float (asymmetric).
        sq = ScalarQuantizerKNN(idCol=idCol, vecCol="__p", bits=bits,
                                dim=dPrime, maxQueries=None)
        bounds = sq.fit_bounds(data.select(pre.alias("__p")))
        b = F.broadcast(bounds.select("lo", "hi"))
        recon = sq._recon_expr(
            sq._codes_expr(pre, F.col("lo"), F.col("hi")),
            F.col("lo"), F.col("hi"))
        d = (spread_narrow_scan(data, VECTOR_MATH_BYTES_PER_SLOT)
             .crossJoin(b)
             .select(F.col(idCol).alias("neighbor_id"),
                     recon.alias("__dp")))
    else:
        d = spread_narrow_scan(data, VECTOR_MATH_BYTES_PER_SLOT).select(
            F.col(idCol).alias("neighbor_id"), pre.alias("__dp"))
    d = d.select("neighbor_id", "__dp",
                 F.greatest(norm("__dp"), F.lit(1e-300)).alias("__dpn"))
    coarse = d.crossJoin(F.broadcast(q.select("query_id", "__qp", "__qpn"))).select(
        "query_id", "neighbor_id",
        (dot("__qp", "__dp") / (F.col("__qpn") * F.col("__dpn")))
        .alias("__csim"))
    if excludeSelf:
        coarse = coarse.filter(F.col("query_id") != F.col("neighbor_id"))
    wc = Window.partitionBy("query_id").orderBy(
        F.col("__csim").desc(), F.col("neighbor_id").asc())
    cand = (coarse.withColumn("__crk", F.row_number().over(wc))
            .filter(F.col("__crk") <= candidates)
            .select("query_id", "neighbor_id"))

    # ---- stage 2: exact rerank of the candidate ids ----------------
    full = data.select(F.col(idCol).alias("neighbor_id"),
                       vec.alias("__dv"))
    full = full.select("neighbor_id", "__dv",
                       F.greatest(norm("__dv"), F.lit(1e-300))
                       .alias("__dn"))
    # the candidate frame is nq × C rows — broadcast it onto the
    # corpus so the rerank join never shuffles the big side
    rer = (full.join(F.broadcast(cand), "neighbor_id")
           .join(F.broadcast(q.select("query_id", "__qv", "__qn")),
                 "query_id")
           .select("query_id", "neighbor_id",
                   (dot("__qv", "__dv")
                    / (F.col("__qn") * F.col("__dn"))).alias("sim")))
    wr = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id").asc())
    return (rer.withColumn("rank", F.row_number().over(wr))
            .filter(F.col("rank") <= k)
            .select("query_id", "neighbor_id", "sim", "rank"))
