"""Deduplication operators for training-data pipelines.

Four tiers, all expressed as DataFrame dataflows (no driver-side state),
each designed so the expensive part happens BEFORE the shuffle:

- Exact:        shuffle on a 128-bit content hash, never on raw text.
- N-gram Jaccard: exact pairwise similarity restricted to shingle-sharing
                pairs (the join prunes the O(n^2) space).
- MinHash+LSH:  constant-size signatures per doc (map-side partial agg),
                band-bucket join for candidates, optional exact verify.
- SimHash:      one 64-bit fingerprint per doc computed in a single map
                (pure expression, no shuffle), banded for Hamming search.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from mmlspark_spark.core.base import Transformer
from mmlspark_spark.core.cache import (
    attach_intermediates,
    persist_intermediate,
)
from mmlspark_spark.functions.keys import content_hash128
from mmlspark_spark.functions.text_quality import tokens, word_shingles
from mmlspark_spark.llm.index_common import (
    _add_tombstones,
    _begin_file_append,
    _clear_append_markers,
    _clear_tombstones,
    _commit_file_append,
    _compact_partitioned_store,
    _drop_tombstoned,
    _file_append_committed,
    _write_committed_marker,
    _parquet_row_count,
    _read_store,
    _read_tombstones,
    _refuse_save_over_torn_append,
    _refuse_tombstoned_append,
    _refuse_torn_file_append,
    _replace_flat_store,
)
from mmlspark_spark.operators.scale import spread_narrow_scan as _spread_narrow_scan


class ExactDeduplicator(Transformer):
    """Keep one row per distinct value of ``keyCols``.

    Survivorship: by default the lowest ``idCol`` wins. When the dedup
    key is a NORMALIZED form (a URL, a lowercased/trimmed text, a
    content fingerprint column) the group's rows genuinely differ, and
    ``tieBreakCol``/``tieBreakDesc`` choose which original survives —
    e.g. ``tieBreakCol="n_chars", tieBreakDesc=True`` keeps the
    longest document per URL, the standard web-crawl policy. ``idCol``
    always breaks remaining ties, so the winner is deterministic under
    any partitioning.

    Scale: dedups by 128 bits of hash (xxhash64 ⊕ md5) so the shuffle key
    is fixed-width even when the key is a 100 KB document; collision
    probability ~2^-96 at 10^12 docs. ``row_number`` over the hash
    partition keeps exactly one deterministic winner.
    """

    def __init__(self, keyCols=("text",), idCol: str = "doc_id",
                 tieBreakCol: str | None = None,
                 tieBreakDesc: bool = False):  # noqa: D107
        super().__init__(keyCols=list(keyCols), idCol=idCol,
                         tieBreakCol=tieBreakCol, tieBreakDesc=tieBreakDesc)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, *self.keyCols, self.idCol)
        if self.tieBreakCol:
            self._require_cols(schema, self.tieBreakCol)
        return schema

    def _transform(self, df: DataFrame) -> DataFrame:
        # Null-safe, unambiguous key serialization — see
        # functions/keys.py for why concat_ws and multi-arg xxhash64
        # both silently collide ('a', NULL) with (NULL, 'a').
        h1, h2 = content_hash128(self.keyCols)
        order = [F.col(self.idCol)]
        if self.tieBreakCol:
            tb = F.col(self.tieBreakCol)
            # a row MISSING the survivorship signal must never beat one
            # that has it: nulls_last covers NULL, but Spark sorts NaN
            # GREATER than every double — in desc mode a NaN-scored row
            # would win — so float NaN folds to NULL first
            if isinstance(df.schema[self.tieBreakCol].dataType,
                          (T.FloatType, T.DoubleType)):
                tb = F.when(F.isnan(tb), F.lit(None)).otherwise(tb)
            order = [tb.desc_nulls_last() if self.tieBreakDesc
                     else tb.asc_nulls_last(), F.col(self.idCol)]
        w = Window.partitionBy(h1, h2).orderBy(*order)
        return (
            df.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn")
        )


def _distinct_shingles(df: DataFrame, idCol: str, textCol: str, n: int,
                       hashed: bool = False) -> DataFrame:
    """One (id, shingle) row per distinct shingle per doc.

    ``hashed=True`` maps each shingle to its xxhash64 **before** the
    explode, so every downstream shuffle/aggregation key is a fixed
    8-byte long instead of a raw n-gram string (~n words) — at 100 TB
    the shuffle width stops depending on shingle length. Set
    comparisons are exact up to 64-bit hash collisions
    (P ≈ m²/2⁶⁵ for m distinct shingles — negligible)."""
    df = _spread_narrow_scan(df)
    # hashing happens INSIDE word_shingles' single transform lambda —
    # a second transform(arr, xxhash64) layer would re-evaluate the
    # whole shingle construction per element (HOF lambdas get no
    # subexpression elimination)
    arr = word_shingles(textCol, n, hashed=hashed)
    # word_shingles dedupes per doc before the explode: a boilerplate
    # doc repeating one shingle 10^6 times would otherwise explode
    # 10^6 identical rows into the shuffle; set semantics downstream
    # are unchanged
    return df.select(
        F.col(idCol).alias("__id"),
        F.explode(arr).alias("__shingle"),
    )


def ngram_jaccard_pairs(
    df: DataFrame, idCol: str = "doc_id", textCol: str = "text",
    n: int = 5, minJaccard: float = 0.0,
    maxDocsPerShingle: int | None = None,
    materialize: bool = True,
) -> DataFrame:
    """Exact n-gram Jaccard similarity for every pair of documents that
    shares at least one word n-gram shingle.

    Plan shape (chosen over the naive shingle self-join, which scans +
    tokenizes the corpus 4×): shingles are hashed to 8-byte longs
    map-side (every downstream shuffle key is fixed-width), ONE
    explode+groupBy gathers the doc list per shingle, co-occurring
    pairs are generated from each list with array expressions (the same
    output-sensitive candidate space the equi-join would produce, at
    half the shuffles), and per-doc shingle counts are recovered from
    the grouped lists rather than a second map-side tokenization pass.
    Physical reuse of the shingle exchange: AQE's stage reuse misses
    the multi-consumer ``per_shingle`` subtree (each consumer would
    re-scan + re-tokenize the corpus), so with ``materialize=True``
    (default) the grouped (long, long-list) frame is persisted at
    MEMORY_AND_DISK before the fan-out — one tokenization pass total.
    The persisted handle is attached to the returned DataFrame; call
    :func:`mmlspark_spark.core.cache.release_intermediates` on the
    result after your action to free the blocks (bench.py does).
    At 100 TB this is the difference between one corpus scan and three.

    ``maxDocsPerShingle`` is the 100 TB guard: the pair expansion is
    O(L²) *inside one row's array* for a shingle shared by L docs, and
    AQE cannot split a single row — a boilerplate shingle shared by 10⁵
    docs would materialize ~10¹⁰ pair structs in one row. With the cap,
    shingles above the support threshold are dropped before expansion
    (standard MinHash/shingling practice: ubiquitous shingles carry no
    similarity signal anyway — they inflate candidate sets, and any
    truly near-duplicate pair still co-occurs on rarer shingles). The
    number of dropped shingles is emitted as the observed metric
    ``ngram_jaccard_hot_shingle_drops`` (visible to any
    QueryExecutionListener / ``Observation``).

    Default None = exact semantics over every shingle (matches the SQL
    oracle). At scale, set e.g. 1000.

    Returns (doc_a, doc_b, jaccard) with doc_a < doc_b.
    """
    sh = _distinct_shingles(df, idCol, textCol, n, hashed=True)
    per_shingle = sh.groupBy("__shingle").agg(
        F.array_sort(F.collect_set("__id")).alias("__ids"))
    cached = []
    if materialize:
        per_shingle = persist_intermediate(per_shingle)
        cached.append(per_shingle)
    if maxDocsPerShingle is not None:
        keep = per_shingle.observe(
            "ngram_jaccard_hot_shingle_drops",
            F.sum(F.when(F.size("__ids") > maxDocsPerShingle, 1)
                  .otherwise(0)).alias("dropped_shingles"),
        ).filter(F.size("__ids") <= maxDocsPerShingle)
        counts_src = per_shingle.filter(
            F.size("__ids") <= maxDocsPerShingle)
    else:
        keep = per_shingle
        counts_src = per_shingle
    # Per-doc shingle counts derived from the grouped lists, NOT from a
    # second map-side ``size(word_shingles(...))`` pass: tokenization is
    # the dominant cost (measured 2.5 s of the 5 s query at sf0.1), and
    # reading the already-shuffled aggregate back (ReusedExchange) makes
    # the counts branch a (long, long) groupBy instead of a full
    # re-scan + re-tokenize of the corpus. With a cap, counts also come
    # from the surviving shingle universe, so Jaccard stays an honest
    # ratio over the shingles that were actually compared.
    counts = (counts_src.select(F.explode("__ids").alias("__id"))
              .groupBy("__id").agg(F.count("*").alias("__n")))
    # all ordered pairs (i < j) from each shingle's doc list
    ids = F.col("__ids")
    pair_structs = F.flatten(F.transform(
        ids,
        lambda x, i: F.transform(
            F.slice(ids, i + 2, F.size(ids)),
            lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
        ),
    ))
    inter = (
        keep.filter(F.size(ids) > 1)
        .select(F.explode(pair_structs).alias("__p"))
        .groupBy(F.col("__p.doc_a").alias("doc_a"),
                 F.col("__p.doc_b").alias("doc_b"))
        .agg(F.count("*").alias("__inter"))
    )
    if materialize:
        # counts feeds both join sides (doc_a and doc_b); it is tiny
        # (16 B/doc) and caching it keeps each side a cache read
        # instead of an explode+groupBy over the cached shingle lists.
        counts = persist_intermediate(counts)
        cached.append(counts)
    ca = counts.select(F.col("__id").alias("doc_a"), F.col("__n").alias("__na"))
    cb = counts.select(F.col("__id").alias("doc_b"), F.col("__n").alias("__nb"))
    out = (
        inter.join(ca, "doc_a").join(cb, "doc_b")
        .select(
            "doc_a", "doc_b",
            (F.col("__inter")
             / (F.col("__na") + F.col("__nb") - F.col("__inter"))).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= minJaccard)
    )
    return attach_intermediates(out, *cached)


class MinHashLSHDeduplicator(Transformer):
    """MinHash + banded LSH near-duplicate detection.

    ``MATCH_BATCH_COL`` names the BATCH-side id column of
    ``match_against_index`` pairs — the declared contract streaming
    wrappers key on (``neardup_screen_foreach_batch``), instead of
    the brittle "first column is the batch side" positional
    convention.

    Dataflow: shingle → k min-hashes per doc (ONE groupBy with k ``min``
    aggregates — map-side combinable, constant state per doc) → band
    hashes → equi-join on (band index, band hash) → candidate pairs with
    estimated Jaccard (fraction of equal minhash slots); optionally
    verified with exact shingle Jaccard.

    transform(df) returns (doc_a, doc_b, est_jaccard[, jaccard]) pairs.

    Scale: signatures are k×8 bytes/doc regardless of document size; the
    only shuffles are the signature groupBy and the band join.
    ``maxBucketSize`` caps the band join's hot buckets: a bucket holding
    L docs yields L² join rows, so one boilerplate bucket of 10⁵ docs is
    10¹⁰ pairs. Buckets above the cap are dropped before the join (their
    members are near-identical mass duplicates that still collide in
    other, smaller buckets or can be handled by exact dedup first); the
    drop count is the observed metric ``minhash_hot_bucket_drops``. Set
    ``maxBucketSize=None`` for the uncapped join.

    ``materialize=True`` (default) persists the signature frame before
    its three-consumer fan-out (banding + both sides of the signature
    join-back) — AQE's exchange reuse misses the shared subtree, so
    without it each consumer re-scans and re-shingles the corpus. Call
    :func:`mmlspark_spark.core.cache.release_intermediates` on the
    transform output after your action to free the blocks. Measured at
    sf0.1/local[32]: 5.2 s → 2.4 s together with the narrow-scan
    spread.
    """

    MATCH_BATCH_COL = "doc_a"

    def __init__(self, idCol: str = "doc_id", textCol: str = "text",  # noqa: D107
                 shingleSize: int = 5, numHashes: int = 32, bands: int = 8,
                 threshold: float = 0.5, verifyExact: bool = False,
                 maxBucketSize: int | None = 1000, materialize: bool = True):
        if numHashes % bands:
            raise ValueError("numHashes must be divisible by bands")
        super().__init__(idCol=idCol, textCol=textCol, shingleSize=shingleSize,
                         numHashes=numHashes, bands=bands, threshold=threshold,
                         verifyExact=verifyExact, maxBucketSize=maxBucketSize,
                         materialize=materialize)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.textCol)
        id_type = schema[self.idCol].dataType
        fields = [
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
            T.StructField("est_jaccard", T.DoubleType(), True),
        ]
        if self.verifyExact:
            fields.append(T.StructField("jaccard", T.DoubleType(), True))
        return T.StructType(fields)

    def match_schema(self, schema: T.StructType) -> T.StructType:
        """Schema of :meth:`match_against_index` pairs — like
        :meth:`transform_schema` but NEVER the ``verifyExact``
        ``jaccard`` column: the stored side carries signatures, not
        text, so index matching only estimates. Streaming wrappers
        must build their bootstrap empty frame from THIS (a
        verifyExact dedup would otherwise emit a different pairs
        schema on batch 0 than on every later batch, breaking
        schema-pinned sinks)."""
        self._require_cols(schema, self.idCol, self.textCol)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
            T.StructField("est_jaccard", T.DoubleType(), True),
        ])

    def signatures(self, df: DataFrame) -> DataFrame:
        """(id, sig: array<long>[numHashes]) — one row per doc."""
        k = self.numHashes
        # Explode + k-way min groupBy: the per-doc partial aggregation
        # state is k longs (map-side combinable), and each shingle is
        # hashed k times exactly once. Pure-expression alternatives
        # (array_min per hash fn, or a fold accumulating element-wise
        # minima) measure 2-12x slower at sf0.1 because Catalyst either
        # re-inlines the tokenization into every hash iteration
        # (CollapseProject) or allocates a k-array per shingle in the
        # fold — the shuffle is the cheaper substrate here.
        # hashed=True: each shingle string is xxhash64'd ONCE map-side;
        # the k per-slot hashes then mix an 8-byte long instead of
        # re-hashing the raw n-gram string k times (measured ~15% off
        # the signature job at sf0.1, and the win grows with shingle
        # length since string hashing is O(bytes)).
        sh = _distinct_shingles(df, self.idCol, self.textCol,
                                self.shingleSize, hashed=True)
        mins = sh.groupBy("__id").agg(
            *[F.min(F.xxhash64(F.lit(i), F.col("__shingle"))).alias(f"h{i}")
              for i in range(k)]
        )
        return mins.select(
            "__id", F.array(*[F.col(f"h{i}") for i in range(k)]).alias("__sig")
        )

    def _banded(self, sigs: DataFrame) -> DataFrame:
        """(id, band, bandhash) — the LSH bucket keys, one row per
        (doc, band). Shared by :meth:`_transform` and the index
        lifecycle so the banding arithmetic can never diverge between
        the in-memory and stored lanes."""
        k, b = self.numHashes, self.bands
        r = k // b
        return sigs.select(
            "__id",
            F.posexplode(F.array(*[
                F.xxhash64(F.lit(j), *[F.col("__sig")[j * r + i]
                                       for i in range(r)])
                for j in range(b)
            ])).alias("__band", "__bandhash"),
        )

    # ------------------------------------------------- persistence
    def save_index(self, docs: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        """Persist the near-dup index so incoming batches never
        re-shingle the existing corpus — the incremental NEAR-dup
        story (IncrementalDeduplicator's bloom registry is its EXACT
        counterpart). Layout:

        - ``{path}/signatures`` — (id, sig array<long>[numHashes]):
          k×8 bytes per document regardless of document size, the
          frame candidate pairs verify against.
        - ``{path}/buckets`` — flat (id, band, bandhash) LSH keys;
          :meth:`match_against_index` equi-joins an incoming batch's
          bucket keys against this (index-sized shuffle, never a
          corpus re-shingle).
        - ``{path}/_minhash_manifest.json`` — pins shingleSize /
          numHashes / bands: stored signatures are only comparable
          under the exact same seeded hash grid, so a mismatched
          deduplicator must refuse to load.

        One shingle pass per save: buckets derive from the signatures
        read back from the artifact."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        if mode == "append":
            # save derives buckets from the READ-BACK signatures dir;
            # appending would re-band every pre-existing doc and
            # duplicate its bucket keys (double-counting the cap,
            # 2x candidate fan-out) — incremental growth is
            # append_to_index's job, which bands only the new rows
            raise ValueError(
                "save_index(mode='append') would duplicate existing "
                "bucket keys — use append_to_index for incremental "
                "growth")
        spark = docs.sparkSession
        _refuse_save_over_torn_append(
            spark, path, "MinHashLSHDeduplicator.save_index")
        self.signatures(docs).write.mode(mode).parquet(
            f"{path}/signatures")
        sigs = _read_store(spark, f"{path}/signatures")
        (self._banded(sigs)
         .repartition(F.col("__bandhash"))
         .sortWithinPartitions("__band", "__bandhash")
         .write.mode(mode).parquet(f"{path}/buckets"))
        _fs_write_text(spark, f"{path}/_minhash_manifest.json",
                       _json.dumps({"shingleSize": self.shingleSize,
                                    "numHashes": self.numHashes,
                                    "bands": self.bands,
                                    "version": 1}))
        # tombstones clear LAST, once the store + manifest are down:
        # a torn save then leaves the old mask conservatively hiding
        # rows (a retry fixes it) instead of resurrecting taken-down
        # ids — the unsafe failure direction for takedowns
        _clear_tombstones(spark, path)
        _clear_append_markers(spark, path)

    def _check_manifest(self, spark, path: str) -> None:
        """Refuse a hash-grid mismatch — shared by :meth:`load_index`
        AND :meth:`append_to_index` (appending signatures hashed under
        a different grid would corrupt the artifact while its manifest
        still advertises the old grid, poisoning every later load)."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(
            _fs_read_text(spark, f"{path}/_minhash_manifest.json"))
        mine = {"shingleSize": self.shingleSize,
                "numHashes": self.numHashes, "bands": self.bands}
        stored = {k2: man.get(k2) for k2 in mine}
        if stored != mine:
            raise ValueError(
                f"MinHash index at {path} was built with {stored}; "
                f"this deduplicator has {mine} — signatures under a "
                f"different hash grid are incomparable")

    def append_to_index(self, new_docs: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow the artifact: shingle ONLY the new documents and
        append their signatures and bucket keys. The hash grid is
        fixed by construction (seeded xxhash64), so matching against
        the appended index equals matching against a fresh index over
        the unioned corpus (pinned in tests). Refuses a hash-grid
        mismatch — mixed-grid signatures in one artifact would be
        silent garbage that load_index can no longer detect — and
        refuses ids with a pending tombstone (the appended rows would
        be masked at read time and deleted by the next compaction;
        compact first, then re-append).

        Crash-ordering invariant (shared file-append protocol,
        index_common.py): the two store writes are bracketed by the
        pending marker — a crash between them (signatures committed,
        bucket keys absent: the doc LOOKS indexed but never matches)
        leaves the marker, readers refuse, and
        ``repair_file_append`` rolls back bit-exactly. ``batchId``
        (streaming) commits to a replay-guard marker instead."""
        spark = new_docs.sparkSession
        _refuse_torn_file_append(
            spark, path, "MinHashLSHDeduplicator.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        self._check_manifest(spark, path)
        _refuse_tombstoned_append(
            new_docs.select(F.col(self.idCol)), path, self.idCol,
            "MinHashLSHDeduplicator.append_to_index")
        _begin_file_append(spark, path, batchId)
        sigs_new = persist_intermediate(self.signatures(new_docs))
        try:
            sigs_new.write.mode("append").parquet(f"{path}/signatures")
            (self._banded(sigs_new)
             .repartition(F.col("__bandhash"))
             .sortWithinPartitions("__band", "__bandhash")
             .write.mode("append").parquet(f"{path}/buckets"))
        finally:
            sigs_new.unpersist()
        _commit_file_append(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        """Read a :meth:`save_index` artifact for
        :meth:`match_against_index`. Refuses a hash-grid mismatch —
        signatures hashed under a different shingleSize / numHashes /
        bands are incomparable, and a silent mismatch would report
        est_jaccard garbage — and a torn append (see
        ``repair_file_append``)."""
        _refuse_torn_file_append(
            spark, path, "MinHashLSHDeduplicator.load_index")
        self._check_manifest(spark, path)
        return {"signatures": _read_store(spark, f"{path}/signatures"),
                "buckets": _read_store(spark, f"{path}/buckets"),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_index` artifact (takedowns —
        the missing half of the append-only near-dup story):
        metadata-only until :meth:`compact_index`;
        :meth:`match_against_index` masks tombstoned ids at read time.
        Unknown ids are a no-op."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned docs from both stores and
        clear the tombstone set: signatures and bucket keys are
        rewritten minus the dead ids through the shared staging+rename
        swap (never a half-written only copy), keeping save_index's
        bandhash-clustered bucket layout. Match results are identical
        before and after (pinned in tests). Returns docs removed."""
        _refuse_torn_file_append(
            spark, path, "MinHashLSHDeduplicator.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        sigs = _read_store(spark, f"{path}/signatures")
        before = _parquet_row_count(spark, f"{path}/signatures")
        _replace_flat_store(
            _drop_tombstoned(sigs, ts, "__id"), f"{path}/signatures")
        keep_b = (_drop_tombstoned(
            _read_store(spark, f"{path}/buckets"), ts, "__id")
            .repartition(F.col("__bandhash"))
            .sortWithinPartitions("__band", "__bandhash"))
        _replace_flat_store(keep_b, f"{path}/buckets")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/signatures")

    def match_against_index(self, index: dict,
                            new_docs: DataFrame) -> DataFrame:
        """Near-dup screening of an incoming batch against the STORED
        corpus: returns (doc_a = incoming id, doc_b = indexed id,
        est_jaccard ≥ threshold) without ever re-shingling the
        indexed corpus. Within-batch duplicates are deliberately out
        of scope — run :meth:`transform` on the batch itself for
        those (the two results compose into the full picture).

        Plan shape: the batch's bucket keys (k×8 B/doc signatures →
        b keys/doc) equi-join the stored bucket keys; hot stored
        buckets are capped BEFORE the fan-out by counting only the
        TOUCHED buckets (semi-join first — the count job is
        proportional to the batch's bucket footprint, not the index);
        signatures attach only to surviving candidate pairs.
        maxBucketSize here counts STORED members only (the incoming
        batch is not in the bucket store) — this deliberately differs
        from :meth:`transform`, whose cap sees the union bucket; a
        bucket with ≤ cap stored members still fans out |batch ∩
        bucket| × stored rows, so size the cap for the batch shape
        too. The catalog oracle replays exactly these stored-member
        semantics."""
        sigs_new = self.signatures(new_docs)
        cached = []
        if self.materialize:
            # the batch signature frame has two consumers (banding +
            # the pair join-back) — persist so the batch shingles once
            sigs_new = persist_intermediate(sigs_new)
            cached.append(sigs_new)
        nb = self._banded(sigs_new)
        # tombstoned ids are masked from the bucket store BEFORE the
        # cap count — a deleted doc must neither surface as doc_b nor
        # count toward a bucket's hot-member total (matching equals a
        # fresh index over the surviving corpus, pinned in tests)
        stored = _drop_tombstoned(index["buckets"],
                                  index.get("tombstones"), "__id")
        touched = stored.join(
            nb.select("__band", "__bandhash").distinct(),
            ["__band", "__bandhash"], "left_semi")
        if self.maxBucketSize is not None:
            sizes = (touched.groupBy("__band", "__bandhash")
                     .agg(F.count("*").alias("__n")))
            touched = (touched.join(
                sizes.filter(F.col("__n") <= self.maxBucketSize),
                ["__band", "__bandhash"], "left_semi"))
        cand = (nb.join(
            touched.select("__band", "__bandhash",
                           F.col("__id").alias("__stored_id")),
            ["__band", "__bandhash"])
            .filter(F.col("__id") != F.col("__stored_id"))
            .select(F.col("__id").alias("doc_a"),
                    F.col("__stored_id").alias("doc_b"))
            .dropDuplicates(["doc_a", "doc_b"]))
        k = self.numHashes
        sa = sigs_new.select(
            F.col("__id").alias("doc_a"), F.col("__sig").alias("__sa"))
        sb = index["signatures"].select(
            F.col("__id").alias("doc_b"), F.col("__sig").alias("__sb"))
        est = F.size(F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"),
                       lambda x, y: x == y),
            lambda eq: eq,
        )).cast("double") / F.lit(float(k))
        out = (cand.join(sa, "doc_a").join(sb, "doc_b")
               .select("doc_a", "doc_b", est.alias("est_jaccard"))
               .filter(F.col("est_jaccard") >= self.threshold))
        return attach_intermediates(out, *cached)

    def _transform(self, df: DataFrame) -> DataFrame:
        k = self.numHashes
        sigs = self.signatures(df)
        cached = []
        if self.materialize:
            # sigs fans out to three consumers (banding + both sides of
            # the signature join-back); AQE's exchange reuse misses the
            # shared subtree, so each consumer would re-scan and
            # re-shingle the corpus. Signatures are k×8 B/doc —
            # persisting them turns three corpus tokenization passes
            # into one. Released by the caller via
            # core.cache.release_intermediates (bench.py does).
            sigs = persist_intermediate(sigs)
            cached.append(sigs)
        # Candidate generation is ONE groupBy over (band, bandhash) rows
        # of 24 bytes each — never a self-join, never a signature on the
        # wire. The bucket cap is applied to the same grouped lists (no
        # separate counting pass re-running the signature aggregation),
        # and pairs come from the bounded upper-triangle expansion of
        # each bucket's id list, exactly like ngram_jaccard_pairs.
        # Signatures are attached only to the deduplicated candidate
        # pairs (usually orders of magnitude fewer rows than the
        # corpus). Measured at sf0.1: 4.2 s → 3.9 s vs the
        # sig-carrying self-join + separate cap pass, with the same
        # output.
        banded = self._banded(sigs)
        buckets = (banded.groupBy("__band", "__bandhash")
                   .agg(F.array_sort(F.collect_set("__id")).alias("__ids")))
        cap = self.maxBucketSize
        if cap is not None:
            buckets = buckets.observe(
                "minhash_hot_bucket_drops",
                F.sum(F.when(F.size("__ids") > cap, 1)
                      .otherwise(0)).alias("dropped_buckets"))
            keep = buckets.filter((F.size("__ids") <= cap)
                                  & (F.size("__ids") > 1))
        else:
            keep = buckets.filter(F.size("__ids") > 1)
        ids = F.col("__ids")
        pair_structs = F.flatten(F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        ))
        cand = (keep.select(F.explode(pair_structs).alias("__p"))
                .select("__p.doc_a", "__p.doc_b")
                .dropDuplicates(["doc_a", "doc_b"]))
        sa = sigs.select(F.col("__id").alias("doc_a"),
                         F.col("__sig").alias("__sa"))
        sb = sigs.select(F.col("__id").alias("doc_b"),
                         F.col("__sig").alias("__sb"))
        est = F.size(F.filter(
            F.zip_with(F.col("__sa"), F.col("__sb"), lambda x, y: x == y),
            lambda eq: eq,
        )).cast("double") / F.lit(float(k))
        pairs = (cand.join(sa, "doc_a").join(sb, "doc_b")
                 .select("doc_a", "doc_b", est.alias("est_jaccard")))
        pairs = pairs.filter(F.col("est_jaccard") >= self.threshold)
        if not self.verifyExact:
            return attach_intermediates(pairs, *cached)
        # Candidate-bounded exact verify: join each candidate pair to
        # the two docs' shingle-hash sets and intersect — cost is
        # O(candidates × shingles/doc). Running ngram_jaccard_pairs
        # over the whole corpus here would re-expand the FULL pair
        # space (uncapped O(L²) hot-shingle blowup included), exactly
        # the work LSH existed to avoid.
        per_doc = (_distinct_shingles(df, self.idCol, self.textCol,
                                      self.shingleSize, hashed=True)
                   .groupBy("__id")
                   .agg(F.collect_set("__shingle").alias("__set")))
        if self.materialize:
            per_doc = persist_intermediate(per_doc)
            cached.append(per_doc)
        pa = per_doc.select(F.col("__id").alias("doc_a"),
                            F.col("__set").alias("__seta"))
        pb = per_doc.select(F.col("__id").alias("doc_b"),
                            F.col("__set").alias("__setb"))
        inter = F.size(F.array_intersect("__seta", "__setb")).cast("double")
        union = (F.size("__seta") + F.size("__setb")).cast("double") - inter
        out = (
            pairs.join(pa, "doc_a").join(pb, "doc_b")
            .withColumn("jaccard",
                        F.when(union > 0, inter / union).otherwise(F.lit(0.0)))
            .select("doc_a", "doc_b", "est_jaccard", "jaccard")
            .filter(F.col("jaccard") >= self.threshold)
        )
        return attach_intermediates(out, *cached)


class FingerprintIndexMixin:
    """The stored-index lifecycle for every 64-bit-fingerprint
    deduplicator (SimHash text, dHash images, Haitsma-Kalker audio —
    any class exposing ``fingerprints(df) -> (__id, __sh long)`` plus
    ``bands`` / ``maxHammingDistance`` / ``maxBucketSize``): the
    artifact is just ``{path}/fingerprints`` (16 bytes/doc, the
    cheapest index in the engine; band chunks are bit-slices derived
    free at match time) plus a version manifest. The fingerprint
    functions are parameter-free, so unlike the MinHash artifact
    there is no hash grid to pin — bands / maxHammingDistance are
    query-time knobs.

    ``MATCH_BATCH_COL`` declares the batch-side id column of
    ``match_against_index`` pairs for streaming wrappers."""

    MATCH_BATCH_COL = "doc_a"

    def save_index(self, docs: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        if mode == "append":
            raise ValueError(
                "save_index(mode='append') would rewrite the manifest "
                "without checking the existing artifact — use "
                "append_to_index for incremental growth")
        _refuse_save_over_torn_append(
            docs.sparkSession, path, f"{type(self).__name__}.save_index")
        self.fingerprints(docs).write.mode(mode).parquet(
            f"{path}/fingerprints")
        _fs_write_text(docs.sparkSession,
                       f"{path}/_fp_index_manifest.json",
                       _json.dumps({"version": 1,
                                    "family": type(self).__name__}))
        # tombstones clear LAST, once the store + manifest are down:
        # a torn save then leaves the old mask conservatively hiding
        # rows (a retry fixes it) instead of resurrecting taken-down
        # ids — the unsafe failure direction for takedowns
        _clear_tombstones(docs.sparkSession, path)
        _clear_append_markers(docs.sparkSession, path)

    def _check_manifest(self, spark, path: str) -> None:
        """Refuse a cross-FAMILY artifact: every fingerprint family
        stores the same (id, long) shape, so appending audio
        fingerprints onto a SimHash text index would succeed silently
        and poison every later match — the manifest pins the class
        that built the artifact."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(
            _fs_read_text(spark, f"{path}/_fp_index_manifest.json"))
        fam = man.get("family")
        if fam is not None and fam != type(self).__name__:
            raise ValueError(
                f"fingerprint index at {path} was built by {fam}; "
                f"this is a {type(self).__name__} — fingerprints from "
                f"different families are incomparable")

    def append_to_index(self, new_docs: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow the artifact: fingerprint ONLY the new rows
        (map-side, shuffle-free) and append. Refuses a cross-family
        artifact (and a missing one — a typo'd path would otherwise
        half-create a manifest-less index that only fails at load
        time) and refuses ids with a pending tombstone (the appended
        rows would be masked at read time and deleted by the next
        compaction; compact first, then re-append)."""
        spark = new_docs.sparkSession
        _refuse_torn_file_append(
            spark, path, f"{type(self).__name__}.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        self._check_manifest(spark, path)
        _refuse_tombstoned_append(
            new_docs.select(F.col(self.idCol)), path, self.idCol,
            f"{type(self).__name__}.append_to_index")
        # single store, but the marker still matters: a crash MID-JOB
        # can commit a partial part-file set on some stores, and the
        # streaming topology needs the committed-marker replay guard
        _begin_file_append(spark, path, batchId)
        self.fingerprints(new_docs).write.mode("append").parquet(
            f"{path}/fingerprints")
        _commit_file_append(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        _refuse_torn_file_append(
            spark, path, f"{type(self).__name__}.load_index")
        self._check_manifest(spark, path)
        return {"fingerprints":
                _read_store(spark, f"{path}/fingerprints"),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_index` artifact —
        metadata-only until :meth:`compact_index`;
        :meth:`match_against_index` masks tombstoned ids at read
        time. Unknown ids are a no-op."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned fingerprints and clear the
        tombstone set, through the shared staging+rename swap (never
        a half-written only copy). Returns rows removed."""
        _refuse_torn_file_append(
            spark, path, f"{type(self).__name__}.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        fps = _read_store(spark, f"{path}/fingerprints")
        before = _parquet_row_count(spark, f"{path}/fingerprints")
        _replace_flat_store(_drop_tombstoned(fps, ts, "__id"),
                            f"{path}/fingerprints")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/fingerprints")

    def match_against_index(self, index: dict,
                            new_rows: DataFrame) -> DataFrame:
        """Near-dup screening of an incoming batch against the stored
        corpus: (doc_a = incoming id, doc_b = indexed id, hamming ≤
        maxHammingDistance) — the batch fingerprints map-side, its
        bit-slice chunks equi-join the stored fingerprints' chunks,
        hot stored buckets are capped before the fan-out (touched
        buckets only). Tombstoned ids are masked BEFORE banding, so
        they neither surface nor count toward the bucket cap (equals
        a fresh index over the survivors, pinned in tests).
        Within-batch duplicates stay with ``transform`` on the batch
        (the two compose)."""
        stored = _drop_tombstoned(index["fingerprints"],
                                  index.get("tombstones"), "__id")
        return _hamming_band_match(
            stored, self.fingerprints(new_rows),
            self.bands, self.maxHammingDistance, self.maxBucketSize)


def simhash(text, num_bits: int = 64):
    """64-bit SimHash of whitespace tokens as a single Catalyst
    expression: per token, xxhash64 supplies the bit pattern; bit j of
    the fingerprint is the sign of sum over tokens of (+1/-1). Runs
    entirely map-side — fingerprinting 100 TB is shuffle-free.

    The bit loop is unrolled with Python ints (shift amounts must be
    literals); the fingerprint is assembled by summing a literal array of
    disjoint powers of two (bit 63 as its two's-complement negative), so
    the whole thing is one expression tree with no duplicated aggregate.
    """
    t = tokens(text)
    votes = F.aggregate(
        t,
        F.array_repeat(F.lit(0), num_bits),
        lambda acc, x: F.zip_with(
            acc,
            F.array(*[
                F.when(
                    F.shiftright(F.xxhash64(x), j).bitwiseAND(F.lit(1)) == 1,
                    F.lit(1),
                ).otherwise(F.lit(-1))
                for j in range(num_bits)
            ]),
            lambda a, v: a + v,
        ),
    )
    powers = F.array(*[
        F.lit((1 << j) if j < 63 else -(1 << 63)).cast("long")
        for j in range(num_bits)
    ])
    signed_bits = F.zip_with(
        votes, powers,
        lambda v, p: F.when(v > 0, p).otherwise(F.lit(0).cast("long")),
    )
    return F.aggregate(signed_bits, F.lit(0).cast("long"), lambda acc, v: acc + v)


def _simhash_fold_batches(batches):
    """The SimHash vote fold over raw Arrow RecordBatches of
    ``(__id, __h: array<long>)``: bit j of the fingerprint is the sign
    of Σ±1 over tokens ((h>>j)&1 → +1 else −1), ties → 0 — the same
    contract as :func:`simhash`'s 64-wide unrolled aggregate, which
    dominates batch-side fingerprinting cost (the r12 verdict's
    slowest advisory lane, 92% of the match lane's time). Token
    HASHING stays JVM-side (``transform(tokens, xxhash64)``) so the
    hash family is bit-exact with the expression lane and the DuckDB
    replays; only the 64-lane vote accumulation crosses to numpy.

    ``mapInArrow``, not a pandas UDF: an ``array<long>`` column
    reaches a pandas UDF as one numpy object per ROW (Arrow list →
    per-row ndarray conversion both ways), which the r16 A/B measured
    at 12× the cost of the fold itself. Here the ListArray's flat
    values/offsets buffers are read zero-copy, so the whole batch is
    one ``unpackbits`` + one segmented ``reduceat`` — no per-row
    Python objects anywhere. Rows are chunked so the transient
    (tokens × 64) bit matrix stays bounded however large the Arrow
    batch is.

    NULL token array (NULL text) → NULL fingerprint; empty → 0,
    matching the expression lane exactly (lane equality pinned in
    tests/test_curation.py)."""
    import sys

    import numpy as np
    import pyarrow as pa

    chunk_tokens = 1 << 21  # bit-matrix peak ≈ 512 MB int32

    for batch in batches:
        names = batch.schema.names
        ids = batch.column(names.index("__id"))
        h = batch.column(names.index("__h"))
        n = len(h)
        out = np.zeros(n, dtype=np.int64)
        if n:
            # offsets are ABSOLUTE indices into the (unsliced) child
            # values buffer — do not rebase
            offs = h.offsets.to_numpy(
                zero_copy_only=False).astype(np.int64)
            vals = h.values.to_numpy(zero_copy_only=False)
            cnt = offs[1:] - offs[:-1]
            a = 0
            while a < n:
                b = int(np.searchsorted(
                    offs, offs[a] + chunk_tokens, "right")) - 1
                b = min(max(b, a + 1), n)
                t = offs[b] - offs[a]
                if t == 0:
                    a = b
                    continue
                flat = vals[offs[a]:offs[b]].view(np.uint64)
                if sys.byteorder != "little":  # pragma: no cover
                    flat = flat.byteswap()
                # (T, 64) bit matrix, column j = bit j of each hash
                bits = np.unpackbits(
                    flat.view(np.uint8).reshape(-1, 8),
                    axis=1, bitorder="little").astype(np.int32)
                starts = offs[a:b] - offs[a]
                # reduceat returns values[idx] for an empty segment
                # (and an out-of-range idx for a trailing one) —
                # clip, then overwrite empties with 0
                c = cnt[a:b]
                ones = np.add.reduceat(
                    bits, np.minimum(starts, t - 1), axis=0)
                ones[c == 0] = 0
                votes = 2 * ones - c[:, None].astype(np.int32)
                fp = np.packbits(votes > 0, axis=1,
                                 bitorder="little")
                out[a:b] = fp.view(np.int64).ravel()
                a = b
        mask = h.is_null().to_numpy(zero_copy_only=False)
        yield pa.RecordBatch.from_arrays(
            [ids, pa.array(out, type=pa.int64(), mask=mask)],
            names=["__id", "__sh"])


class SimHashDeduplicator(FingerprintIndexMixin, Transformer):
    """SimHash near-dup detection: 64-bit fingerprints, banded into
    ``bands`` chunks; pairs agreeing on ≥1 chunk are candidates,
    filtered to ``maxHammingDistance``.

    Recall contract: banding GUARANTEES a candidate only when Hamming
    distance < ``bands`` (pigeonhole — some chunk must then be equal).
    With ``maxHammingDistance >= bands`` the output still includes any
    farther pair that happens to agree on a chunk, but completeness is
    only promised below ``bands``. For guaranteed recall at Hamming ≤ d,
    use ``bands = d + 1``.

    ``maxBucketSize`` caps hot chunk buckets exactly like
    :class:`MinHashLSHDeduplicator` (metric
    ``simhash_hot_bucket_drops``).

    ``fingerprintLane`` picks how the 64-bit fingerprint is computed
    — identical outputs, pinned in tests:

    - ``'arrow'`` (default): tokens are xxhash64'd JVM-side (the
      same hash family as the expression lane and the DuckDB
      replays), then the 64-lane sign-vote fold runs vectorized in
      numpy over raw Arrow batches via ``mapInArrow``
      (:func:`_simhash_fold_batches`) — zero-copy on the list
      buffers; the r16 A/B measured it ~12× cheaper than the prior
      pandas-UDF fold and ~5× cheaper than the unrolled aggregate.
    - ``'expr'``: the original pure-Catalyst expression
      (:func:`simhash`) — zero Python workers; keep for
      environments where Arrow batches are unwelcome.

    transform(df) returns (doc_a, doc_b, hamming).
    """

    def __init__(self, idCol: str = "doc_id", textCol: str = "text",  # noqa: D107
                 bands: int = 4, maxHammingDistance: int = 3,
                 maxBucketSize: int | None = 1000,
                 fingerprintLane: str = "arrow"):
        if fingerprintLane not in ("expr", "arrow"):
            raise ValueError(
                "fingerprintLane must be 'expr' (pure Catalyst) or "
                "'arrow' (JVM token hashing + numpy vote fold)")
        super().__init__(idCol=idCol, textCol=textCol, bands=bands,
                         maxHammingDistance=maxHammingDistance,
                         maxBucketSize=maxBucketSize,
                         fingerprintLane=fingerprintLane)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.textCol)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
            T.StructField("hamming", T.IntegerType(), True),
        ])

    def fingerprints(self, df: DataFrame) -> DataFrame:
        # NULL text → NULL fingerprint; such docs carry no content to
        # compare and would otherwise ALL collide into one
        # (band, NULL-chunk) bucket — a corpus with many null texts
        # materializes a quadratic ghost bucket (or spuriously trips
        # the hot-bucket cap) for rows the hamming filter discards
        # anyway
        if self.fingerprintLane == "arrow":
            src = _spread_narrow_scan(df).select(
                F.col(self.idCol).alias("__id"),
                F.transform(tokens(self.textCol),
                            lambda x: F.xxhash64(x)).alias("__h"))
            out_schema = T.StructType([
                T.StructField("__id", df.schema[self.idCol].dataType,
                              True),
                T.StructField("__sh", T.LongType(), True)])
            return (src.mapInArrow(_simhash_fold_batches, out_schema)
                    .filter(F.col("__sh").isNotNull()))
        return (_spread_narrow_scan(df).select(
            F.col(self.idCol).alias("__id"),
            simhash(self.textCol).alias("__sh"))
            .filter(F.col("__sh").isNotNull()))

    def _transform(self, df: DataFrame) -> DataFrame:
        return _hamming_band_pairs(
            self.fingerprints(df), self.bands, self.maxHammingDistance,
            self.maxBucketSize, "simhash_hot_bucket_drops")


def _fp_chunk_exprs(bands: int, col: str = "__sh") -> list:
    """The ``bands`` chunk-key expressions over a 64-bit fingerprint
    column — ONE copy shared by the in-memory pair stage and the
    stored-index match lane (the MinHash _banded lesson: duplicated
    banding arithmetic silently desynchronizes). Variable-width chunks
    so ALL 64 bits participate when bands does not divide 64 (fixed
    64//b widths silently left the top bits out of every bucket key —
    larger buckets, more spurious candidates, no warning). The
    pigeonhole recall contract (Hamming < bands → some chunk equal)
    is width-independent."""
    base, rem = divmod(64, bands)
    widths = [base + (1 if j < rem else 0) for j in range(bands)]
    offsets = [sum(widths[:j]) for j in range(bands)]
    out = []
    for j in range(bands):
        shifted = F.shiftrightunsigned(F.col(col), offsets[j])
        if widths[j] >= 64:  # bands=1: the whole fingerprint
            out.append(shifted)
        else:
            out.append(shifted.bitwiseAND(F.lit((1 << widths[j]) - 1)))
    return out


def _hamming_band_match(stored_fp: DataFrame, batch_fp: DataFrame,
                        bands: int, maxHamming: int,
                        maxBucketSize: int | None) -> DataFrame:
    """Match an incoming batch's fingerprints against a STORED
    fingerprint frame: (doc_a = batch id, doc_b = stored id, hamming ≤
    maxHamming). Both sides band with the shared chunk expressions;
    hot STORED buckets are capped before the join fan-out by counting
    only the buckets the batch touches (the MinHash match pattern —
    the count job is proportional to the batch's bucket footprint,
    not the index)."""
    def banded(fp: DataFrame, p: str) -> DataFrame:
        return fp.select(
            F.col("__id").alias(f"{p}_id"),
            F.col("__sh").alias(f"{p}_sh"),
            F.posexplode(F.array(*_fp_chunk_exprs(bands)))
            .alias("__band", "__chunk"))

    sb = banded(stored_fp, "s")
    nb = banded(batch_fp, "n")
    touched = sb.join(nb.select("__band", "__chunk").distinct(),
                      ["__band", "__chunk"], "left_semi")
    if maxBucketSize is not None:
        sizes = (touched.groupBy("__band", "__chunk")
                 .agg(F.count("*").alias("__n")))
        touched = touched.join(
            sizes.filter(F.col("__n") <= maxBucketSize),
            ["__band", "__chunk"], "left_semi")
    return (nb.join(touched, ["__band", "__chunk"])
            .filter(F.col("n_id") != F.col("s_id"))
            .select(F.col("n_id").alias("doc_a"),
                    F.col("s_id").alias("doc_b"),
                    F.bit_count(F.col("n_sh").bitwiseXOR(F.col("s_sh")))
                    .cast("int").alias("hamming"))
            .dropDuplicates(["doc_a", "doc_b"])
            .filter(F.col("hamming") <= maxHamming))


def _hamming_band_pairs(fp: DataFrame, bands: int, maxHamming: int,
                        maxBucketSize: int | None,
                        metricName: str) -> DataFrame:
    """Shared banded Hamming-pair stage over a 64-bit fingerprint
    frame ``(__id, __sh)`` — SimHashDeduplicator (text) and
    ImageDHashDeduplicator (perceptual hashes) differ only in how the
    fingerprint is computed.

    The fingerprint subtree is map-only (no exchange underneath), so a
    banded SELF-join would re-scan + re-fingerprint the corpus once
    per join side — and the separate hot-bucket counting pass a third
    time. One groupBy over (band, chunk) buckets instead: a single
    fingerprint pass, the ``maxBucketSize`` cap applied to the grouped
    lists for free, and pairs from the bounded upper-triangle
    expansion. The fingerprint rides inside the bucket structs (16
    bytes/row) so Hamming needs no join-back."""
    banded = fp.select(
        F.struct("__id", "__sh").alias("__m"),
        F.posexplode(F.array(*_fp_chunk_exprs(bands)))
        .alias("__band", "__chunk"),
    )
    buckets = (banded.groupBy("__band", "__chunk")
               .agg(F.array_sort(F.collect_set("__m")).alias("__ms")))
    if maxBucketSize is not None:
        buckets = buckets.observe(
            metricName,
            F.sum(F.when(F.size("__ms") > maxBucketSize, 1)
                  .otherwise(0)).alias("dropped_buckets"))
        keep = buckets.filter((F.size("__ms") <= maxBucketSize)
                              & (F.size("__ms") > 1))
    else:
        keep = buckets.filter(F.size("__ms") > 1)
    ms = F.col("__ms")
    pair_structs = F.flatten(F.transform(
        ms,
        lambda x, i: F.transform(
            F.slice(ms, i + 2, F.size(ms)),
            lambda y: F.struct(x["__id"].alias("doc_a"),
                               y["__id"].alias("doc_b"),
                               x["__sh"].bitwiseXOR(y["__sh"])
                               .alias("__xor")),
        ),
    ))
    return (
        keep.select(F.explode(pair_structs).alias("__p"))
        .select(F.col("__p.doc_a").alias("doc_a"),
                F.col("__p.doc_b").alias("doc_b"),
                F.bit_count("__p.__xor").cast("int").alias("hamming"))
        .dropDuplicates(["doc_a", "doc_b"])
        .filter(F.col("hamming") <= maxHamming)
    )


class EmbeddingDeduplicator(Transformer):
    """Embedding-cosine near-duplicate pairs.

    Two paths, mirroring the similarity-search stack:

    - ``method='exact'``: all-pairs cosine via a self-join on a blocking
      key-free cross join of the (small) candidate set — use only when
      one side is bounded;
    - ``method='lsh'`` (default): random-hyperplane bucketing — only
      bucket-colliding pairs are scored, which is the 100 TB path (the
      shuffle is on the band hash, never O(n²)).

    transform(df) returns (id_a, id_b, cosine) with id_a < id_b and
    cosine >= threshold.

    ``MATCH_BATCH_COL`` declares the batch-side id column of
    ``match_against_index`` pairs for streaming wrappers (this
    family names its pair columns id_a/id_b, not doc_a/doc_b).
    """

    MATCH_BATCH_COL = "id_a"

    def __init__(self, idCol: str = "vec_id", vecCol: str = "embedding",
                 threshold: float = 0.95, method: str = "lsh",
                 numPlanes: int = 16, bands: int = 8, seed: int = 42,
                 maxBucketSize: int | None = 1000):
        if method not in ("exact", "lsh"):
            raise ValueError("method must be 'exact' or 'lsh'")
        super().__init__(idCol=idCol, vecCol=vecCol, threshold=threshold,
                         method=method, numPlanes=numPlanes, bands=bands,
                         seed=seed, maxBucketSize=maxBucketSize)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.vecCol)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("id_a", id_type, True),
            T.StructField("id_b", id_type, True),
            T.StructField("cosine", T.DoubleType(), True),
        ])

    def _pairs_exact(self, df: DataFrame) -> DataFrame:
        a = df.select(F.col(self.idCol).alias("id_a"),
                      F.col(self.vecCol).alias("__va"))
        b = df.select(F.col(self.idCol).alias("id_b"),
                      F.col(self.vecCol).alias("__vb"))
        return a.join(b, F.col("id_a") < F.col("id_b"))

    def _pairs_lsh(self, df: DataFrame) -> DataFrame:
        # Bucket groupBy over (band, chunk) with ID-ONLY lists: the
        # embedding vector never rides the candidate shuffle (a banded
        # self-join would carry the full vector per banded row — ~KBs ×
        # bands per doc at 100 TB — and re-run the map-only signature
        # subtree once per join side). Vectors are joined back for the
        # (deduplicated, tiny) candidate set only, keyed by id.
        from mmlspark_spark.llm.similarity import LSHKNN

        lsh = LSHKNN(idCol=self.idCol, vecCol=self.vecCol,
                     numPlanes=self.numPlanes, bands=self.bands,
                     seed=self.seed)
        from mmlspark_spark.functions.vector import vector_dim
        dim = vector_dim(df, self.vecCol)
        banded = lsh._signature_bands(df, dim, "d").select(
            "__band", "d_chunk", "d_id")
        buckets = (banded.groupBy("__band", "d_chunk")
                   .agg(F.array_sort(F.collect_set("d_id")).alias("__ids")))
        cap = self.maxBucketSize
        if cap is not None:
            buckets = buckets.observe(
                "embedding_hot_bucket_drops",
                F.sum(F.when(F.size("__ids") > cap, 1)
                      .otherwise(0)).alias("dropped_buckets"))
            keep = buckets.filter((F.size("__ids") <= cap)
                                  & (F.size("__ids") > 1))
        else:
            keep = buckets.filter(F.size("__ids") > 1)
        ids = F.col("__ids")
        pair_structs = F.flatten(F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
            ),
        ))
        cand = (keep.select(F.explode(pair_structs).alias("__p"))
                .select("__p.id_a", "__p.id_b")
                .dropDuplicates(["id_a", "id_b"]))
        va = df.select(F.col(self.idCol).alias("id_a"),
                       F.col(self.vecCol).alias("__va"))
        vb = df.select(F.col(self.idCol).alias("id_b"),
                       F.col(self.vecCol).alias("__vb"))
        return cand.join(va, "id_a").join(vb, "id_b")

    def _transform(self, df: DataFrame) -> DataFrame:
        from mmlspark_spark.functions.vector import cosine_similarity

        pairs = (self._pairs_exact(df) if self.method == "exact"
                 else self._pairs_lsh(df))
        return (pairs.select(
            "id_a", "id_b",
            cosine_similarity("__va", "__vb").alias("cosine"))
            .filter(F.col("cosine") >= self.threshold))

    # ------------------------------------------------- persistence
    def _banded_keys(self, df: DataFrame, dim: int) -> DataFrame:
        """(id, band, chunk) hyperplane bucket keys — the SAME seeded
        LSHKNN signature expressions the in-memory lane uses, so
        stored and fresh banding can never diverge."""
        from mmlspark_spark.llm.similarity import LSHKNN

        lsh = LSHKNN(idCol=self.idCol, vecCol=self.vecCol,
                     numPlanes=self.numPlanes, bands=self.bands,
                     seed=self.seed)
        return (lsh._signature_bands(df, dim, "d")
                .select(F.col("d_id").alias("__id"), "__band",
                        F.col("d_chunk").alias("__chunk")))

    def _grid(self, dim: int) -> dict:
        return {"numPlanes": self.numPlanes, "bands": self.bands,
                "seed": self.seed, "dim": dim}

    def _check_manifest(self, spark, path: str) -> dict:
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(
            _fs_read_text(spark, f"{path}/_emb_index_manifest.json"))
        mine = {"numPlanes": self.numPlanes, "bands": self.bands,
                "seed": self.seed}
        stored = {k2: man.get(k2) for k2 in mine}
        if stored != mine:
            raise ValueError(
                f"Embedding index at {path} was built with {stored}; "
                f"this deduplicator has {mine} — hyperplane "
                f"signatures under a different grid are incomparable")
        return man

    def _require_lsh(self, what: str) -> None:
        """The stored index IS the LSH candidate generator — an
        'exact'-configured deduplicator silently getting LSH-recall
        screening from it would betray the caller's semantics, so
        EVERY lifecycle entry point refuses (not just save)."""
        if self.method != "lsh":
            raise ValueError(
                f"{what} requires method='lsh' — the exact path has "
                f"no candidate-generation artifact")

    def _write_index_rows(self, docs: DataFrame, path: str, dim: int,
                          mode: str) -> None:
        """Write (vectors, buckets) for ``docs`` — ONE source pass:
        buckets band the vectors READ BACK from the just-written
        artifact (deterministic planes, so identical to banding the
        source — the MinHash save pattern), and the bucket rows
        repartition by the high-cardinality id (the chunk key has
        only 2^(numPlanes/bands) values — 4 at the default grid —
        which would serialize the write onto 4 tasks however big the
        corpus), with sortWithinPartitions keeping (band, chunk)
        row-group locality inside each file."""
        rows = docs.select(F.col(self.idCol).alias("__id"),
                           F.col(self.vecCol).alias("__vec"))
        cached = None
        if mode == "append":
            # append cannot use the overwrite path's read-back (the
            # stored dir holds old + new), so the input evaluates for
            # BOTH writes — persist the (id, vec) projection so a
            # nondeterministic source (sample/limit/uncached shuffle)
            # cannot leave the vectors and bucket stores inconsistent
            rows = persist_intermediate(rows)
            cached = rows
        try:
            rows.write.mode(mode).parquet(f"{path}/vectors")
            if mode == "append":
                saved = rows.select(F.col("__id").alias(self.idCol),
                                    F.col("__vec").alias(self.vecCol))
            else:
                saved = (docs.sparkSession.read
                         .parquet(f"{path}/vectors")
                         .select(F.col("__id").alias(self.idCol),
                                 F.col("__vec").alias(self.vecCol)))
            (self._banded_keys(saved, dim)
             .repartition(F.col("__id"))
             .sortWithinPartitions("__band", "__chunk")
             .write.mode(mode).parquet(f"{path}/buckets"))
        finally:
            if cached is not None:
                cached.unpersist()

    def save_index(self, docs: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        """Persist the embedding near-dup index (LSH method only):
        ``{path}/vectors`` (id, embedding — the verify payload),
        ``{path}/buckets`` (id, band, chunk hyperplane keys), and a
        manifest pinning numPlanes/bands/seed/dim — signatures depend
        on all four (the planes are drawn per-dim from the seed), so
        a mismatched deduplicator must refuse."""
        import json as _json

        from mmlspark_spark.functions.vector import vector_dim
        from mmlspark_spark.llm.export import _fs_write_text

        self._require_lsh("save_index")
        if mode == "append":
            raise ValueError(
                "save_index(mode='append') would rewrite the manifest "
                "without checking the existing artifact's grid — use "
                "append_to_index for incremental growth")
        _refuse_save_over_torn_append(
            docs.sparkSession, path, "EmbeddingDeduplicator.save_index")
        dim = vector_dim(docs, self.vecCol)
        self._write_index_rows(docs, path, dim, mode)
        _fs_write_text(docs.sparkSession,
                       f"{path}/_emb_index_manifest.json",
                       _json.dumps({**self._grid(dim), "version": 1}))
        # tombstones clear LAST, once the store + manifest are down:
        # a torn save then leaves the old mask conservatively hiding
        # rows (a retry fixes it) instead of resurrecting taken-down
        # ids — the unsafe failure direction for takedowns
        _clear_tombstones(docs.sparkSession, path)
        _clear_append_markers(docs.sparkSession, path)

    def append_to_index(self, new_docs: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow the artifact: band ONLY the new vectors (the planes
        are fixed by the seed, so appended == fresh exactly). Refuses
        a grid/dim mismatch, ids with a pending tombstone (the
        appended rows would be masked at read time and deleted by the
        next compaction; compact first, then re-append), and a torn
        prior append (shared file-append protocol, index_common.py —
        a crash between the vectors and buckets writes would leave a
        vector that never matches; ``repair_file_append`` rolls
        back). ``batchId`` commits to the streaming replay guard."""
        from mmlspark_spark.functions.vector import vector_dim

        spark = new_docs.sparkSession
        self._require_lsh("append_to_index")
        _refuse_torn_file_append(
            spark, path, "EmbeddingDeduplicator.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        man = self._check_manifest(spark, path)
        dim = vector_dim(new_docs, self.vecCol)
        if dim != man["dim"]:
            raise ValueError(
                f"new vectors have dim {dim}, index at {path} holds "
                f"dim {man['dim']}")
        _refuse_tombstoned_append(
            new_docs.select(F.col(self.idCol)), path, self.idCol,
            "EmbeddingDeduplicator.append_to_index")
        _begin_file_append(spark, path, batchId)
        self._write_index_rows(new_docs, path, dim, "append")
        _commit_file_append(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        self._require_lsh("load_index")
        _refuse_torn_file_append(
            spark, path, "EmbeddingDeduplicator.load_index")
        man = self._check_manifest(spark, path)
        return {"vectors": _read_store(spark, f"{path}/vectors"),
                "buckets": _read_store(spark, f"{path}/buckets"),
                "dim": int(man["dim"]),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone ids in a :meth:`save_index` artifact —
        metadata-only until :meth:`compact_index`;
        :meth:`match_against_index` masks tombstoned ids at read
        time. Unknown ids are a no-op."""
        self._require_lsh("delete_from_index")
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned docs from both stores
        (vectors + hyperplane bucket keys) and clear the tombstone
        set, through the shared staging+rename swap (never a
        half-written only copy); the bucket rewrite keeps
        save_index's id-partitioned, (band, chunk)-sorted layout.
        Returns docs removed."""
        self._require_lsh("compact_index")
        _refuse_torn_file_append(
            spark, path, "EmbeddingDeduplicator.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        vecs = _read_store(spark, f"{path}/vectors")
        before = _parquet_row_count(spark, f"{path}/vectors")
        _replace_flat_store(_drop_tombstoned(vecs, ts, "__id"),
                            f"{path}/vectors")
        keep_b = (_drop_tombstoned(
            _read_store(spark, f"{path}/buckets"), ts, "__id")
            .repartition(F.col("__id"))
            .sortWithinPartitions("__band", "__chunk"))
        _replace_flat_store(keep_b, f"{path}/buckets")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/vectors")

    def match_against_index(self, index: dict,
                            new_docs: DataFrame) -> DataFrame:
        """Near-dup screening of an incoming batch against the stored
        corpus: (id_a = incoming id, id_b = indexed id, cosine ≥
        threshold). The batch bands map-side under the fixed seeded
        planes; its keys equi-join the stored buckets; hot stored
        buckets are capped BEFORE the fan-out (touched buckets only,
        stored members counted); vectors join back for the surviving
        candidates only. Within-batch duplicates stay with
        :meth:`transform` on the batch (the two compose)."""
        from mmlspark_spark.functions.vector import (
            cosine_similarity,
            vector_dim,
        )

        self._require_lsh("match_against_index")
        dim = vector_dim(new_docs, self.vecCol)
        if dim != index["dim"]:
            raise ValueError(
                f"query vectors have dim {dim}, stored index holds "
                f"dim {index['dim']}")
        nb = self._banded_keys(new_docs, dim)
        # tombstoned ids are masked from the bucket store BEFORE the
        # cap count — a deleted doc must neither surface as id_b nor
        # count toward a bucket's hot-member total
        stored = _drop_tombstoned(index["buckets"],
                                  index.get("tombstones"), "__id")
        touched = stored.join(
            nb.select("__band", "__chunk").distinct(),
            ["__band", "__chunk"], "left_semi")
        if self.maxBucketSize is not None:
            sizes = (touched.groupBy("__band", "__chunk")
                     .agg(F.count("*").alias("__n")))
            touched = touched.join(
                sizes.filter(F.col("__n") <= self.maxBucketSize),
                ["__band", "__chunk"], "left_semi")
        cand = (nb.join(
            touched.select("__band", "__chunk",
                           F.col("__id").alias("__stored_id")),
            ["__band", "__chunk"])
            .filter(F.col("__id") != F.col("__stored_id"))
            .select(F.col("__id").alias("id_a"),
                    F.col("__stored_id").alias("id_b"))
            .dropDuplicates(["id_a", "id_b"]))
        va = new_docs.select(F.col(self.idCol).alias("id_a"),
                             F.col(self.vecCol).alias("__va"))
        vb = index["vectors"].select(F.col("__id").alias("id_b"),
                                     F.col("__vec").alias("__vb"))
        return (cand.join(va, "id_a").join(vb, "id_b")
                .select("id_a", "id_b",
                        cosine_similarity("__va", "__vb")
                        .alias("cosine"))
                .filter(F.col("cosine") >= self.threshold))


def connected_components(
    edges: DataFrame, srcCol: str = "doc_a", dstCol: str = "doc_b",
    maxIter: int = 25, driverCollectThreshold: int = 1_000_000,
) -> DataFrame:
    """(node, component) labels over an undirected edge list — the
    cluster step between near-dup candidate pairs and survivor
    selection.

    Two paths, picked by edge count:

    - **small graph** (≤ ``driverCollectThreshold`` edges): collect
      the 16 B/edge pairs and run path-compressed union-find on the
      driver in one job. The pair graph is orders of magnitude smaller
      than the corpus by construction (`maxDocsPerShingle` /
      `maxBucketSize` bound candidate generation), so even a 100 TB
      corpus commonly lands here: 1M edges ≈ 16 MB collected (and up to ~2M
      labeled nodes re-parallelized on return), well under driver
      budget — vs 2 shuffles + 2 actions *per iteration*
      distributed (measured 6.5 s of pure job overhead for a 47-node
      graph at sf0.01).
    - **large graph**: iterative min-label propagation. Each iteration
      joins the current labels to the checkpointed symmetrized edge
      list and takes the per-node minimum of (own, neighbors);
      converges in O(component diameter) rounds (near-dup graphs are
      dense clumps, diameter 2-3). Lineage is cut per iteration with
      localCheckpoint; a ``maxIter`` cap raises on non-convergence
      rather than silently mislabeling (the access-anomaly CC fix's
      contract).

    A generic single-relation variant of the bipartite user/resource
    propagation in ``anomaly/access.py``.
    """
    src, dst = F.col(srcCol), F.col(dstCol)
    pair_df = edges.select(src.alias("__a"), dst.alias("__b")).distinct()
    # Checkpoint BEFORE the path-picking count: the caller usually
    # hands in the expensive candidate-generation pipeline, and
    # without this pin the count would run it once and the chosen
    # path's collect/iterations would run it all over again.
    pair_df = pair_df.localCheckpoint(eager=True)
    n_edges = pair_df.count()
    if n_edges <= driverCollectThreshold:
        return _cc_driver_union_find(pair_df, edges)
    return _cc_distributed(pair_df, maxIter)


def _cc_driver_union_find(pair_df: DataFrame, edges: DataFrame) -> DataFrame:
    id_type = pair_df.schema["__a"].dataType
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for a, b in pair_df.toLocalIterator():
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        if ra != rb:  # union by min so the label IS the min node id
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    rows = [(n, find(n)) for n in parent]
    return edges.sparkSession.createDataFrame(
        rows, T.StructType([T.StructField("node", id_type),
                            T.StructField("component", id_type)]))


def _cc_distributed(pair_df: DataFrame, maxIter: int) -> DataFrame:
    sym = (pair_df.select(F.col("__a").alias("__n"), F.col("__b").alias("__m"))
           .union(pair_df.select(F.col("__b").alias("__n"),
                                 F.col("__a").alias("__m")))
           .distinct())
    # Pin the symmetrized edge list ONCE so per-iteration joins read
    # shuffle-free checkpoint blocks instead of re-running the
    # union+distinct every round.
    sym = sym.localCheckpoint(eager=True)
    labels = (sym.select("__n").distinct()
              .select("__n", F.col("__n").alias("__label")))
    labels = labels.localCheckpoint(eager=True)
    for _ in range(maxIter):
        neigh = (sym.join(labels.withColumnRenamed("__n", "__m"), "__m")
                 .groupBy("__n").agg(F.min("__label").alias("__nmin")))
        # the changed flag rides the label frame — no extra join-based
        # comparison pass against the previous iteration
        new_labels = (labels.join(neigh, "__n", "left").select(
            "__n",
            F.least("__label", F.coalesce("__nmin", "__label"))
            .alias("__label"),
            (F.coalesce("__nmin", "__label") < F.col("__label"))
            .alias("__chg")))
        new_labels = new_labels.localCheckpoint(eager=True)
        changed = new_labels.filter("__chg").count()
        labels = new_labels.drop("__chg")
        if changed == 0:
            break
    else:
        raise RuntimeError(
            f"connected_components did not converge in {maxIter} "
            "iterations; raise maxIter (component diameter exceeds it)")
    # Superseded iterations' localCheckpoint blocks have no public
    # release handle from the DataFrame API (df.rdd.unpersist() only
    # touches a fresh conversion wrapper, not the checkpointed internal
    # RDD); they are reclaimed by the ContextCleaner once the python
    # references drop. Labels are 16 B/node and the loop runs
    # O(component diameter) rounds, so the transient footprint is
    # iterations × nodes × 16 B — bounded and small relative to the
    # edge list itself.
    return labels.select(F.col("__n").alias("node"),
                         F.col("__label").alias("component"))


def resolve_duplicate_clusters(
    pairs: DataFrame, idColA: str = "doc_a", idColB: str = "doc_b",
    maxIter: int = 25, driverCollectThreshold: int = 1_000_000,
) -> DataFrame:
    """Candidate pairs → (doc_id, component, is_kept): the final step
    of a dedup pipeline. Documents are clustered by connectivity over
    the pair graph and ONE canonical survivor is kept per cluster (the
    minimum doc id — deterministic, join-free: the component label IS
    the survivor id). Docs absent from ``pairs`` have no duplicates
    and are implicitly kept; callers union them back if they need the
    full keep list."""
    comp = connected_components(
        pairs, idColA, idColB, maxIter=maxIter,
        driverCollectThreshold=driverCollectThreshold)
    return comp.select(
        F.col("node").alias("doc_id"),
        "component",
        (F.col("node") == F.col("component")).alias("is_kept"))


def duplicated_substring_spans(
    df: DataFrame, idCol: str = "doc_id", textCol: str = "text",
    k: int = 50, crossDocOnly: bool = False,
    maxDocsPerWindow: int | None = 10_000,
) -> DataFrame:
    """Exact duplicated character spans — the substring-level dedup
    family (public "deduplicate exact substrings of length ≥ k"
    formulation, suffix-array tools re-expressed as a Spark dataflow).

    Every k-char window of every document is hashed (md5 — portable,
    so the DuckDB oracle replays it); a window whose hash occurs more
    than once (``crossDocOnly=True``: in more than one document) marks
    a duplicated region, and overlapping marks merge into MAXIMAL
    spans per document with interval islands (window functions). All
    copies are marked — choosing which copy survives is downstream
    policy, exactly as in the reference formulation.

    Returns (id, span_start, span_end) — 1-based inclusive character
    positions of each maximal duplicated span (length ≥ k).

    Scale: the window explode is map-side and feeds ONE groupBy on
    the fixed-width hash that both counts and carries the (id, pos)
    occurrence lists — no join back to the window frame (AQE does not
    reuse identical exchanges across branches, so a join-back would
    explode + md5 the corpus twice; the ngram per-shingle pattern).
    The only other shuffle is the per-doc islands window. Cost is
    O(len·k) hashed bytes per doc — the honest price of exactness
    without a suffix array; run it AFTER document-level dedup has
    removed whole-doc copies. ``maxDocsPerWindow`` caps the DOWNSTREAM
    fan-out of pathological boilerplate windows — the explode of a
    multi-million-occurrence list and every later stage — with the
    observed drop metric ``substring_dedup_hot_window_drops``. It does
    NOT bound the aggregation buffer itself: the occurrence list is
    collected before the cap filters the row (Spark has no bounded
    collect_list), which is why whole-doc dedup first is part of the
    contract — it removes the mass-duplicate windows that would build
    giant lists. ``None`` = exact semantics (matches the SQL oracle).
    """
    c = F.col(textCol)
    win = (df.filter(F.length(c) >= k)
           .select(F.col(idCol).alias("__id"),
                   F.explode(F.sequence(
                       F.lit(1), F.length(c) - (k - 1))).alias("__pos"),
                   c.alias("__t"))
           .select("__id", "__pos",
                   F.md5(F.col("__t").substr(F.col("__pos"),
                                             F.lit(k))).alias("__h")))
    per_hash = win.groupBy("__h").agg(
        F.collect_list(F.struct("__id", "__pos")).alias("__occ"))
    n_docs = F.size(F.array_distinct(
        F.transform("__occ", lambda x: x["__id"])))
    dup = per_hash.filter(
        (n_docs > 1) if crossDocOnly else (F.size("__occ") > 1))
    if maxDocsPerWindow is not None:
        dup = dup.observe(
            "substring_dedup_hot_window_drops",
            F.sum(F.when(n_docs > maxDocsPerWindow, 1)
                  .otherwise(0)).alias("dropped_windows"),
        ).filter(n_docs <= maxDocsPerWindow)
    marked = (dup.select(F.explode("__occ").alias("__o"))
              .select(F.col("__o.__id").alias("__id"),
                      F.col("__o.__pos").alias("__pos"),
                      (F.col("__o.__pos") + (k - 1)).alias("__end")))
    # interval islands: a mark starting after every earlier mark's
    # max end opens a new maximal span
    w_doc = Window.partitionBy("__id").orderBy("__pos")
    prev_max = F.max("__end").over(
        w_doc.rowsBetween(Window.unboundedPreceding, -1))
    grouped = marked.withColumn(
        "__grp",
        F.sum(F.when(F.col("__pos") > F.coalesce(prev_max, F.lit(0)), 1)
              .otherwise(0)).over(w_doc))
    return (grouped.groupBy("__id", "__grp")
            .agg(F.min("__pos").alias("span_start"),
                 F.max("__end").alias("span_end"))
            .select(F.col("__id").alias(idCol),
                    "span_start", "span_end"))


# Above this many distinct batch prefixes the directory-pruning
# filter switches from literal isin() to a broadcast semi-join: a
# literal per prefix re-enters every analysis pass of every action,
# and a 12-16 bit registry can surface tens of thousands of them.
_PREFIX_ISIN_MAX = 1024


def _bit_at(pos):
    """1L << (pos % 64) with a COLUMN shift amount — the PySpark
    ``F.shiftleft`` wrapper only accepts a python-int numBits, so the
    SQL function is invoked directly."""
    return F.call_function(
        "shiftleft", F.lit(1).cast("long"),
        F.pmod(pos, F.lit(64)).cast("int"))


class IncrementalDeduplicator(Transformer):
    """Dedup an incoming batch against an already-ingested reference
    corpus — the always-on ingestion companion to ``ExactDeduplicator``
    (which dedups WITHIN one frame) and ``streaming_dedup`` (which
    dedups a live stream within a watermark horizon). A daily crawl
    drop is checked against the historical registry; rows whose key
    already exists are dropped (``mode='drop'``) or flagged
    (``mode='flag'``, appends boolean ``is_duplicate``).

    Scale design — why this is not just an anti join. The naive form
    shuffles the ENTIRE incoming batch against the reference on the
    join key; at 100 TB/day of incoming against a multi-PB registry
    that shuffle dominates the pipeline. Spark's own runtime
    bloom-filter injection (InjectRuntimeFilter) solves this for
    semi/inner joins but deliberately never fires for anti joins (an
    over-approximating filter cannot prune the probe side of an anti
    join). So this operator builds the bloom explicitly and splits the
    batch in two exact phases:

    1. BUILD: one aggregation over the reference computes a Bloom
       bitset (``bloomBits`` bits, ``bloomHashes`` independent
       xxhash64 lanes) as ~``bloomBits``/64 packed longs, densified
       JVM-side into a ONE-ROW broadcast frame (the DSIR ratio-row
       pattern — never an array literal, whose per-word child
       expressions cost seconds of driver/analysis time at 2^20
       bits).
    2. PROBE, map-only: every incoming row evaluates the membership
       test as pure codegen expressions (element_at + bit test on the
       broadcast bitset column). Bloom negatives are DEFINITELY new
       (no false negatives) and pass through WITHOUT EVER SHUFFLING —
       at real duplicate rates (a few %) this is almost the whole
       batch.
    3. CONFIRM: only bloom positives (true dups + FP rate ~0.1% at
       the default 20 bits/key) join the reference on the 128-bit
       content hash for an exact verdict.

    The result is byte-identical to the plain anti join (the bloom
    only routes rows, never decides), so the catalog oracle is a plain
    SQL anti join. ``bloomBits=0`` disables the filter and degrades to
    the single anti join — use that when the reference is too large
    for a driver-held bitset (>~2^24 bits; at that point bucket both
    sides on the hash instead, operators/scale.py:bucketed_join).

    Reference cost: the registry never needs raw text, and both the
    bloom build AND the confirm join run off the SAME reduced
    two-hash-lane frame (bloom positions derive from the first lane),
    which is persisted inside ``transform`` so the reference scans
    ONCE per batch — the persisted handle attaches to the output for
    ``core.cache.release_intermediates``. A long-lived registry
    should store just the two lanes: build it with the
    ``reference_registry`` static helper and pass it with
    ``referenceIsRegistry=True`` to skip re-hashing entirely.
    """

    MATCH_BATCH_COL = "doc_a"

    def __init__(self, referenceDf: DataFrame = None, keyCols=("text",),
                 mode: str = "drop", bloomBits: int = 1 << 20,
                 bloomHashes: int = 5, referenceIsRegistry: bool = False,
                 idCol: str = "doc_id",
                 maxDocsPerKey: int | None = 1000,
                 prefixBits: int = 8):
        if mode not in ("drop", "flag"):
            raise ValueError(f"mode must be 'drop' or 'flag', got {mode!r}")
        if bloomBits and (bloomBits & 63):
            raise ValueError("bloomBits must be a multiple of 64")
        if not 1 <= prefixBits <= 20:
            # 2^prefixBits partition DIRECTORIES: below 2 it prunes
            # nothing, above ~10^6 file-system metadata dominates
            raise ValueError("prefixBits must be in [1, 20]")
        super().__init__(referenceDf=referenceDf, keyCols=list(keyCols),
                         mode=mode, bloomBits=bloomBits,
                         bloomHashes=bloomHashes,
                         referenceIsRegistry=referenceIsRegistry,
                         idCol=idCol, maxDocsPerKey=maxDocsPerKey,
                         prefixBits=prefixBits)

    @staticmethod
    def reference_registry(df: DataFrame, keyCols=("text",)) -> DataFrame:
        """Reduce a corpus to its distinct two-hash-lane registry frame
        (columns ``__rh1``, ``__rh2``) — store THIS across batches, not
        raw text, and pass it back with ``referenceIsRegistry=True``."""
        h1, h2 = content_hash128(list(keyCols))
        return df.select(h1.alias("__rh1"), h2.alias("__rh2")).distinct()

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, *self.keyCols)
        if self.mode == "flag":
            return T.StructType(list(schema.fields) + [
                T.StructField("is_duplicate", T.BooleanType(), False)])
        return schema

    def _registry(self) -> DataFrame:
        if self.referenceIsRegistry:
            return self.referenceDf
        return self.reference_registry(self.referenceDf, self.keyCols)

    def _positions(self, h1, bits: int | None = None,
                   k: int | None = None):
        """The k bloom bit positions derived from the FIRST hash lane
        (re-hashed with a seed prefix per lane) — both sides compute
        them from their h1, so a stored hash-only registry suffices
        to build the bloom; no raw key needed. ``bits``/``k`` override
        the instance geometry when a stored artifact's manifest is
        authoritative (compaction's bloom rebuild)."""
        bits = self.bloomBits if bits is None else bits
        k = self.bloomHashes if k is None else k
        return [F.pmod(F.xxhash64(F.lit(i), h1), F.lit(bits))
                for i in range(k)]

    def _bloom_word_rows(self, frame: DataFrame, h1col: str,
                         bits: int | None = None,
                         k: int | None = None) -> DataFrame:
        """Sparse packed-bitset frame ``(__w, __bits)`` over a hash
        frame — ONE aggregation (positions → 64-bit words via
        bit_or), ≤ bits/64 result rows. The in-memory lane collects
        this; the stored lifecycle persists it as the artifact's
        bloom sidecar."""
        return (frame
                .select(F.explode(F.array(*[
                    p.cast("long")
                    for p in self._positions(F.col(h1col), bits, k)]))
                 .alias("__p"))
                .groupBy(F.shiftrightunsigned("__p", 6).alias("__w"))
                .agg(F.bit_or(_bit_at("__p")).alias("__bits")))

    def _bloom_dense_row(self, word_rows: DataFrame,
                         bits: int | None = None) -> DataFrame:
        """ONE-ROW frame holding the dense packed bitset
        (``__bloom_arr``: array<long>[bits/64]) — the DSIR ratio-row
        pattern: probes attach it with ``crossJoin(F.broadcast(...))``
        and read it map-side, so the bitset is one plan node however
        many bits it holds."""
        bits = self.bloomBits if bits is None else bits
        spark = word_rows.sparkSession
        # densify on the DRIVER: the sparse set is ≤ bits/64 rows
        # (128 KB at 2^20 bits), and one row of DATA ships back for
        # free. The two in-plan alternatives both measured seconds
        # PER ACTION at 2^20 bits: an array literal is 16k child
        # expressions through every analysis pass, and a JVM
        # map-densify (try_element_at over a collect_list'd map) is a
        # linear key scan per lookup — O(words²) inside one task.
        words = [0] * (bits // 64)
        for r in word_rows.collect():
            words[int(r["__w"])] = int(r["__bits"])
        return spark.createDataFrame(
            [(words,)],
            T.StructType([T.StructField(
                "__bloom_arr", T.ArrayType(T.LongType()), False)]))

    def _bloom_probe(self, h1, bits: int | None = None,
                     k: int | None = None):
        """Map-only bloom membership expression against the broadcast
        ``__bloom_arr`` column (attach the one-row frame with
        ``crossJoin(F.broadcast(...))`` first): bloom negatives are
        DEFINITELY absent from the keyed corpus, no shuffle spent on
        them. The crossJoin is a one-row BroadcastNestedLoopJoin —
        O(N), the allowed-lint shape."""
        arr = F.col("__bloom_arr")
        probe = F.lit(True)
        for p in self._positions(h1, bits, k):
            word = F.element_at(arr,
                                (F.shiftrightunsigned(p, 6) + 1).cast("int"))
            probe = probe & (word.bitwiseAND(_bit_at(p)) != 0)
        return probe

    def _transform(self, df: DataFrame) -> DataFrame:
        # persisted: the registry feeds the bloom build AND the confirm
        # join — one reference scan per batch, not two. When the caller
        # hands us an already-reduced registry (referenceIsRegistry)
        # the frame is THEIRS: do not persist it (persist returns self,
        # so attaching it would let release_intermediates unpersist a
        # cross-batch frame the caller still uses).
        if self.referenceIsRegistry:
            reg, owned = self.referenceDf, []
        else:
            reg = persist_intermediate(self._registry())
            owned = [reg]
        h1, h2 = content_hash128(self.keyCols)
        keyed = df.withColumn("__ih1", h1).withColumn("__ih2", h2)
        cond = ((F.col("__ih1") == F.col("__rh1"))
                & (F.col("__ih2") == F.col("__rh2")))
        if not self.bloomBits:
            if self.mode == "drop":
                return attach_intermediates(
                    keyed.join(reg, cond, "left_anti")
                    .drop("__ih1", "__ih2"), *owned)
            # registry hashes are distinct, so the left join is 1:0/1:1
            return attach_intermediates(
                keyed
                .join(reg.select(F.col("__rh1"), F.col("__rh2"),
                                 F.lit(True).alias("__dup")),
                      cond, "left")
                .withColumn("is_duplicate",
                            F.coalesce("__dup", F.lit(False)))
                .drop("__ih1", "__ih2", "__rh1", "__rh2", "__dup"), *owned)
        bloom_row = self._bloom_dense_row(
            self._bloom_word_rows(reg, "__rh1"))
        keyed = (keyed.crossJoin(F.broadcast(bloom_row))
                 .withColumn("__bloom",
                             self._bloom_probe(F.col("__ih1")))
                 .drop("__bloom_arr"))
        fast_new = keyed.filter(~F.col("__bloom"))      # map-only, no shuffle
        candidates = keyed.filter(F.col("__bloom"))     # dups + ~0.1% FPs
        if self.mode == "drop":
            confirmed_new = candidates.join(reg, cond, "left_anti")
            return attach_intermediates(
                fast_new.unionByName(confirmed_new)
                .drop("__bloom", "__ih1", "__ih2"), *owned)
        dup_flagged = (candidates
                       .join(reg.select("__rh1", "__rh2",
                                        F.lit(True).alias("__dup")),
                             cond, "left")
                       .withColumn("is_duplicate",
                                   F.coalesce("__dup", F.lit(False)))
                       .drop("__dup", "__rh1", "__rh2"))
        return attach_intermediates(
            fast_new.withColumn("is_duplicate", F.lit(False))
            .unionByName(dup_flagged)
            .drop("__bloom", "__ih1", "__ih2"), *owned)

    # ------------------------------------------------- persistence
    #
    # The EXACT family's stored-index lifecycle — the same artifact
    # contract every near-dup/ANN/BM25 family in this engine carries
    # (save/append/load/match, tombstone deletes, compaction), closing
    # the one asymmetry in the matrix: the "does today's crawl contain
    # anything we already ingested?" registry previously lived only as
    # a caller-managed DataFrame (reference_registry). Layout:
    #
    # - ``{path}/hashes/__hp=<p>/`` — (id, h1, h2) content-hash rows,
    #   PARTITIONED by a ``prefixBits``-wide prefix of h1 (default 8 →
    #   256 directories; manifest-pinned) and sorted by (h1, h2)
    #   within partitions. ~48 B/doc however large the documents: the
    #   10^12-doc registry is ~40 TB where the corpus is 100 TB+, and
    #   a small batch's distinct prefixes prune the directories read —
    #   size prefixBits so corpus/2^prefixBits is a scan the ingest
    #   cadence can afford (a 10^12-doc registry wants 12-16 bits).
    # - ``{path}/bloom`` — sparse packed-bitset sidecar (__w, __bits),
    #   built once per save from the read-back store. Batches probe it
    #   map-only via the one-row broadcast row, so the common no-match
    #   row never touches the hash store at all. Deletes leave it STALE
    #   (over-approximating — it routes rows, never decides, so
    #   results are exact regardless); compaction rebuilds it exactly.
    # - ``{path}/_exact_manifest.json`` — pins keyCols and the bloom
    #   geometry: hashes built under different key serialization are
    #   incomparable, and appended bloom words OR into the stored
    #   bitset, so both must refuse a mismatch.

    def _hashed(self, df: DataFrame) -> DataFrame:
        """(id, h1, h2, prefix) — the map-side content-hash projection
        every lifecycle lane shares (functions/keys.py null-safe
        serialization, the SAME hash family transform uses)."""
        h1, h2 = content_hash128(self.keyCols)
        return (df.select(F.col(self.idCol).alias("__id"),
                          h1.alias("__h1"), h2.alias("__h2"))
                .withColumn("__hp", F.pmod(F.col("__h1"),
                                           F.lit(1 << self.prefixBits))
                            .cast("int")))

    def _write_hash_rows(self, hashed: DataFrame, path: str,
                         mode: str) -> None:
        """The prefix-partitioned hash-row write shared by save and
        append. Partition column FIRST in the sort: the partitioned
        writer then streams one output file at a time per task instead
        of holding a file open per __hp value (the IVF store's
        pattern). A seam on purpose: crash-consistency tests inject a
        failure here to pin the save/append orderings."""
        (hashed
         .repartition(F.col("__hp"))
         .sortWithinPartitions("__hp", "__h1", "__h2")
         .write.mode(mode).partitionBy("__hp")
         .parquet(f"{path}/hashes"))

    def match_schema(self, schema: T.StructType) -> T.StructType:
        """Schema of :meth:`match_against_index` pairs — the contract
        streaming wrappers build their bootstrap empty frame from."""
        self._require_cols(schema, self.idCol, *self.keyCols)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
        ])

    def save_index(self, docs: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        """Persist the exact-dedup registry (see the layout note
        above). One hash pass per save: the bloom sidecar derives
        from the read-back store, so however nondeterministic the
        input frame, the bitset and the hash rows can never
        disagree."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        if mode == "append":
            raise ValueError(
                "save_index(mode='append') would rewrite the manifest "
                "and bloom sidecar without checking the existing "
                "artifact — use append_to_index for incremental "
                "growth")
        spark = docs.sparkSession
        self._write_hash_rows(self._hashed(docs), path, mode)
        if self.bloomBits:
            (self._bloom_word_rows(
                _read_store(spark, f"{path}/hashes"), "__h1")
             .write.mode("overwrite").parquet(f"{path}/bloom"))
        _fs_write_text(spark, f"{path}/_exact_manifest.json",
                       _json.dumps({"version": 1,
                                    "family": "IncrementalDeduplicator",
                                    "keyCols": list(self.keyCols),
                                    "bloomBits": self.bloomBits,
                                    "bloomHashes": self.bloomHashes,
                                    "prefixBits": self.prefixBits}))
        # stale tombstones from a previous index at this path must not
        # mask the new corpus — but they clear LAST, only once the
        # store + sidecar + manifest are all down: a crash mid-save
        # then leaves partially written hashes still covered by the
        # old mask (conservative — rows hidden, a retry fixes it)
        # instead of letting taken-down ids resurrect, the unsafe
        # failure direction for takedowns
        _clear_tombstones(spark, path)

    def _check_manifest(self, spark, path: str) -> None:
        """Refuse a key/bloom-geometry mismatch — shared by
        :meth:`load_index` AND :meth:`append_to_index` (hashes under a
        different key serialization are incomparable; bloom words
        under a different geometry would OR garbage into the stored
        bitset)."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(
            _fs_read_text(spark, f"{path}/_exact_manifest.json"))
        mine = {"keyCols": list(self.keyCols),
                "bloomBits": self.bloomBits,
                "bloomHashes": self.bloomHashes,
                "prefixBits": self.prefixBits}
        stored = {k2: man.get(k2) for k2 in mine}
        if stored != mine:
            raise ValueError(
                f"exact-dedup index at {path} was built with {stored}; "
                f"this deduplicator has {mine} — content hashes / "
                f"bloom words under different geometry are "
                f"incomparable")

    def append_to_index(self, new_docs: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow the registry: hash ONLY the new documents, append
        their rows to the prefix-partitioned store, and OR their
        bloom words into the sidecar (bloom union is exact — the
        merged bitset equals a fresh build over the unioned corpus,
        pinned in tests). Refuses geometry mismatches and ids with a
        pending tombstone (the appended rows would be masked now and
        deleted at the next compaction).

        No pending marker here, unlike the sibling families: the
        bloom-FIRST write order is this append's own crash protocol
        (a torn append leaves a safely over-approximating bloom and
        no rows — a replay re-appends cleanly), and the registry's
        drop semantics make replays self-healing. ``batchId`` still
        stamps the committed replay-guard marker so the generic
        streaming wrapper can skip a fully-committed batch without
        re-screening."""
        spark = new_docs.sparkSession
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        self._check_manifest(spark, path)
        _refuse_tombstoned_append(
            new_docs.select(F.col(self.idCol)), path, self.idCol,
            "IncrementalDeduplicator.append_to_index")
        hn = persist_intermediate(self._hashed(new_docs))
        try:
            # bloom FIRST, hash rows second: an over-approximating
            # bloom is always safe (it only routes — extra bits cost a
            # confirm-join row, never a wrong answer), so a crash
            # between the two leaves a superset bloom and no appended
            # rows; a clean retry lands the rows. The reverse order
            # would leave appended docs ABSENT from the bloom, and
            # since bloom negatives skip the confirm join their future
            # duplicates would be silently missed until a compaction
            # rebuilt the bitset.
            if self.bloomBits:
                merged = (_read_store(spark, f"{path}/bloom")
                          .unionByName(self._bloom_word_rows(hn, "__h1"))
                          .groupBy("__w")
                          .agg(F.bit_or("__bits").alias("__bits")))
                _replace_flat_store(merged, f"{path}/bloom")
            self._write_hash_rows(hn, path, "append")
        finally:
            hn.unpersist()
        if batchId is not None:
            _write_committed_marker(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        """Read a :meth:`save_index` artifact for
        :meth:`match_against_index`. ``bloom_row`` is the one-row
        dense-bitset frame, densified ONCE per load (a ≤ bloomBits/64
        sparse-row driver collect — 128 KB at the default 2^20 bits),
        so each match pays a LocalTableScan broadcast, never a
        densify or a plan-bloating array literal."""
        self._check_manifest(spark, path)
        idx = {"hashes": _read_store(spark, f"{path}/hashes"),
               "tombstones": _read_tombstones(spark, path),
               "bloom_row": None}
        if self.bloomBits:
            idx["bloom_row"] = self._bloom_dense_row(
                _read_store(spark, f"{path}/bloom"))
        return idx

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone doc ids (takedowns) — metadata-only until
        :meth:`compact_index`; :meth:`match_against_index` masks
        tombstoned docs at read time. The bloom sidecar is left
        deliberately stale: it over-approximates (a deleted doc's
        bits stay set), which costs a confirm-join row but never a
        wrong result. Unknown ids are a no-op."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned docs: rewrite ONLY the
        ``__hp=`` partition directories holding a dead id (shared
        partition-store machinery — untouched prefixes keep their
        files byte-for-byte), rebuild the bloom sidecar EXACTLY over
        the survivors (retiring the post-delete over-approximation),
        then clear the tombstones. Bloom geometry comes from the
        artifact's own manifest, so a default-constructed instance
        compacts any exact-dedup artifact (the compact_all fleet
        sweep). Returns docs removed."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        man = _json.loads(
            _fs_read_text(spark, f"{path}/_exact_manifest.json"))
        before = _parquet_row_count(spark, f"{path}/hashes")
        _compact_partitioned_store(spark, f"{path}/hashes", ts,
                                   idCol="__id", partCol="__hp",
                                   sortCols=("__hp", "__h1", "__h2"))
        after = _parquet_row_count(spark, f"{path}/hashes")
        if man.get("bloomBits"):
            if after:
                rebuilt = self._bloom_word_rows(
                    _read_store(spark, f"{path}/hashes"), "__h1",
                    bits=man["bloomBits"], k=man["bloomHashes"])
            else:
                # every doc was tombstoned: the store is the keeper's
                # zero-row schema file. An explicit empty word frame
                # (createDataFrame writes a schema footer even for a
                # plan an empty aggregation might emit zero files for)
                # keeps the sidecar loadable — the densified bitset is
                # all zeros, so every future probe is a definite miss,
                # exactly an empty registry's semantics.
                rebuilt = spark.createDataFrame(
                    [], "__w bigint, __bits bigint")
            _replace_flat_store(rebuilt, f"{path}/bloom")
        _clear_tombstones(spark, path)
        return before - after

    def match_against_index(self, index: dict,
                            new_docs: DataFrame) -> DataFrame:
        """Screen an incoming batch against the STORED registry:
        returns (doc_a = incoming id, doc_b = stored id) for every
        exact content match, without re-hashing or re-scanning the
        registry corpus. Within-batch duplicates stay with
        :class:`ExactDeduplicator` on the batch (the two compose).

        Plan shape, in pruning order: (1) the batch hashes map-side;
        (2) the broadcast bitset row drops definite non-members
        map-side; (3) the survivors' distinct hash prefixes
        (≤ 2^prefixBits values, collected from the small batch side)
        prune the stored partition directories; (4) tombstoned ids are masked
        BEFORE the hot-key cap; (5) ``maxDocsPerKey`` caps keys whose
        STORED member count exceeds it (a boilerplate text duplicated
        10^6 times in the registry would otherwise fan out 10^6 rows
        per matching batch doc — the capped keys are exactly the mass
        duplicates exact dedup should have collapsed at ingest);
        (6) one equi-join on the 128-bit hash emits the pairs."""
        spark = new_docs.sparkSession
        bh = persist_intermediate(self._hashed(new_docs))
        brow = index.get("bloom_row")
        probe = bh if brow is None else (
            bh.crossJoin(F.broadcast(brow))
            .filter(self._bloom_probe(F.col("__h1")))
            .drop("__bloom_arr"))
        prefixes = [r[0] for r in
                    probe.select("__hp").distinct().collect()]
        if not prefixes:
            bh.unpersist()
            return spark.createDataFrame(
                [], self.match_schema(new_docs.schema))
        # Directory pruning, sized to what the batch actually covers.
        # An unconditional isin() would rebuild up to 2^prefixBits
        # literal child expressions (65k at the 12-16 bits a large
        # registry wants) — the same plan-bloat class the bloom
        # one-row fix removed. When the batch touches (nearly) every
        # prefix the filter prunes nothing, so skip it; at moderate
        # counts the literal list is cheap and prunes at PLANNING
        # time; past _PREFIX_ISIN_MAX values ship the prefix set as
        # DATA (one small broadcast semi-join on the partition column
        # — dynamic partition pruning territory, zero literals).
        hashes = index["hashes"]
        if len(prefixes) * 4 >= (1 << self.prefixBits) * 3:
            pass
        elif len(prefixes) <= _PREFIX_ISIN_MAX:
            hashes = hashes.filter(F.col("__hp").isin(prefixes))
        else:
            pf = spark.createDataFrame(
                [(int(p),) for p in prefixes], "__hp int")
            hashes = hashes.join(F.broadcast(pf), "__hp", "left_semi")
        stored = _drop_tombstoned(
            hashes, index.get("tombstones"), "__id")
        touched = stored.join(
            probe.select("__h1", "__h2").distinct(),
            ["__h1", "__h2"], "left_semi")
        if self.maxDocsPerKey is not None:
            sizes = (touched.groupBy("__h1", "__h2")
                     .agg(F.count("*").alias("__n")))
            touched = touched.join(
                sizes.filter(F.col("__n") <= self.maxDocsPerKey),
                ["__h1", "__h2"], "left_semi")
        out = (probe.join(
            touched.select("__h1", "__h2",
                           F.col("__id").alias("__sid")),
            ["__h1", "__h2"])
            .select(F.col("__id").alias("doc_a"),
                    F.col("__sid").alias("doc_b")))
        return attach_intermediates(out, bh)

    def transform_with_index(self, index: dict,
                             df: DataFrame) -> DataFrame:
        """:meth:`transform`'s drop/flag semantics against a STORED
        registry — the daily-batch call ("dedup today's crawl against
        the artifact, keep my schema"): rows whose content key exists
        in the index are dropped (``mode='drop'``) or flagged
        (``mode='flag'``, appends boolean ``is_duplicate``). Built on
        :meth:`match_against_index`, so the bloom/prefix/tombstone/cap
        pruning order — and the read-time delete contract — are
        identical to the pair lane; membership derives from the
        distinct matched batch ids, so a key the hot-key cap dropped
        is NOT treated as a duplicate (size ``maxDocsPerKey`` for the
        batch shape, or set it None for strict registry semantics).

        The result reads the stored files LAZILY: materialize it
        (localCheckpoint / write) before mutating the artifact it was
        computed from (append_to_index, compact_index) — the standard
        read-from-own-write discipline every lifecycle consumer in
        this engine follows (the streaming screen wrapper checkpoints
        its pairs for exactly this reason)."""
        from mmlspark_spark.core.cache import propagate_intermediates

        pairs = self.match_against_index(index, df)
        dup_ids = (pairs.select(F.col("doc_a").alias(self.idCol))
                   .distinct())
        if self.mode == "drop":
            out = df.join(dup_ids, self.idCol, "left_anti")
        else:
            out = (df.join(dup_ids.withColumn("__dup", F.lit(True)),
                           self.idCol, "left")
                   .withColumn("is_duplicate",
                               F.coalesce("__dup", F.lit(False)))
                   .drop("__dup"))
        return propagate_intermediates(pairs, out)


class LineDeduplicator(Transformer):
    """CCNet-style line-level deduplication: a line that occurs in
    more than ``maxDocFrequency`` distinct documents is boilerplate
    (cookie banners, navigation, license footers) and is removed from
    EVERY document; each document's surviving lines are reassembled in
    their original order. This is document REWRITING — the complement
    of ExactDeduplicator's row dropping — and the standard first pass
    of web-corpus pipelines (CCNet dedups paragraphs/lines against
    shard frequencies before any doc-level dedup).

    Docs whose every line is boilerplate: dropped when ``dropEmpty``
    (default — an all-boilerplate doc carries no signal), else kept
    with empty text. A null text has no lines and behaves like an
    all-boilerplate doc.

    ``normalize=True`` computes frequencies over lower(trim(line))
    (CCNet normalizes before hashing) while rewriting the ORIGINAL
    lines; default False keeps count and rewrite keys identical.

    Scale: lines shuffle as two fixed-width hash lanes, never raw
    text (the doc-frequency agg is (hash, id)-distinct then a count —
    both 8-16 B keys). The hot-line set is intrinsically SMALL — at
    most |corpus lines| / maxDocFrequency lines can exceed the
    threshold — so it broadcasts, and the removal is a map-side
    broadcast anti join. Reassembly is one groupBy(doc) of
    (pos, line) structs sorted in-array; the only per-doc state is
    the doc's own lines.
    """

    def __init__(self, idCol: str = "doc_id", textCol: str = "text",
                 maxDocFrequency: int = 5, sep: str = "\n",
                 normalize: bool = False, dropEmpty: bool = True):
        if maxDocFrequency < 1:
            raise ValueError("maxDocFrequency must be >= 1")
        super().__init__(idCol=idCol, textCol=textCol,
                         maxDocFrequency=maxDocFrequency, sep=sep,
                         normalize=normalize, dropEmpty=dropEmpty)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.textCol)
        return schema

    def _transform(self, df: DataFrame) -> DataFrame:
        import re as _re

        sep_re = _re.escape(self.sep)
        lines = df.select(
            F.col(self.idCol).alias("__id"),
            F.posexplode(F.split(F.col(self.textCol), sep_re))
            .alias("__pos", "__line"))
        key = (F.lower(F.trim("__line")) if self.normalize
               else F.col("__line"))
        # the shared two-lane content hash (functions/keys.py) — keep
        # every dedup path on one key/hash scheme
        lh1, lh2 = content_hash128([key])
        lines = (lines.withColumn("__lh1", lh1)
                 .withColumn("__lh2", lh2))
        # doc frequency = distinct docs per line: two-stage on
        # fixed-width keys (a line repeated inside one doc counts once)
        hot = (lines.select("__lh1", "__lh2", "__id").distinct()
               .groupBy("__lh1", "__lh2")
               .agg(F.count("*").alias("__df"))
               .filter(F.col("__df") > self.maxDocFrequency)
               .select(F.col("__lh1").alias("__hh1"),
                       F.col("__lh2").alias("__hh2")))
        kept = lines.join(
            F.broadcast(hot),
            (F.col("__lh1") == F.col("__hh1"))
            & (F.col("__lh2") == F.col("__hh2")), "left_anti")
        rebuilt = (kept.groupBy("__id")
                   .agg(F.concat_ws(self.sep, F.transform(
                       F.array_sort(F.collect_list(
                           F.struct("__pos", "__line"))),
                       lambda s: s["__line"])).alias("__text")))
        how = "inner" if self.dropEmpty else "left"
        joined = df.join(rebuilt, df[self.idCol] == rebuilt["__id"], how)
        text = (F.col("__text") if self.dropEmpty
                else F.coalesce("__text", F.lit("")))
        return joined.select(*[
            text.alias(c) if c == self.textCol else df[c]
            for c in df.columns])


def winnow_fingerprints(df: DataFrame, idCol: str = "doc_id",
                        textCol: str = "text", k: int = 4,
                        window: int = 4) -> DataFrame:
    """Winnowing fingerprints (Schleimer et al., SIGMOD 2003 — the
    MOSS algorithm): k-gram rolling hashes, then from every window of
    ``window`` consecutive gram hashes select the minimum (rightmost
    on ties). Guarantees any shared run of k + window - 1 tokens
    between two documents shares at least one selected fingerprint —
    the local, position-aware complement to MinHash's whole-document
    signatures (use it for copy/quote detection where the MATCH SPAN
    matters, not just document-level similarity).

    Returns (id, pos, fp): gram position + fingerprint, DISTINCT per
    document. All hashing is portable modular arithmetic (the
    doc_fingerprint_portable Rabin-Karp family) and tokenization is
    the cross-engine-pinned whitespace class (``pinned_tokens`` — Java
    ``\\s`` and DuckDB-RE2 ``\\s`` disagree on ``\\x0B``), so the
    ``winnow_fingerprint`` catalog query replays the whole selection
    hash-exact in DuckDB.

    Scale shape: three Generate barriers (token hashes → gram hashes →
    selected structs) keep each per-row array computed ONCE
    (CollapseProject would otherwise re-inline the tokenize into every
    window min — the chunk_documents pitfall); per-row work is
    O(tokens·k + grams·window) map-side; the only shuffle is the final
    DISTINCT over (id, pos, fp) — fixed-width rows, never documents.
    """
    from mmlspark_spark.functions.text_quality import (_FP_MOD,
                                                       pinned_tokens)

    m = F.lit(_FP_MOD).cast("long")
    tokh_expr = F.transform(
        pinned_tokens(F.col(textCol)),
        lambda t: F.aggregate(
            F.split(t, ""), F.lit(0).cast("long"),
            lambda a, c: F.pmod(a * 131 + F.ascii(c), m)))
    d1 = df.select(F.col(idCol),
                   F.explode(F.array(tokh_expr)).alias("__tokh"))
    th = F.col("__tokh")
    grams_expr = F.when(
        F.size(th) >= k,
        F.transform(
            F.sequence(F.lit(0), F.size(th) - k),
            lambda i: F.aggregate(
                F.slice(th, i + 1, k), F.lit(0).cast("long"),
                lambda a, h: F.pmod(a * 31 + h, m))),
    ).otherwise(F.array().cast("array<long>"))
    d2 = d1.select(F.col(idCol),
                   F.explode(F.array(grams_expr)).alias("__grams"))
    g = F.col("__grams")
    G = F.size(g)
    W = F.least(F.lit(window), G)
    win = lambda s: F.slice(g, s + 1, W)  # noqa: E731
    sel = F.transform(
        F.sequence(F.lit(0), G - W),
        lambda s: F.struct(
            (s + W - F.array_position(F.reverse(win(s)),
                                      F.array_min(win(s))))
            .cast("long").alias("pos"),
            F.array_min(win(s)).alias("fp")))
    return (d2.filter(G > 0)
            .select(F.col(idCol), F.explode(sel).alias("__e"))
            .select(idCol, F.col("__e.pos").alias("pos"),
                    F.col("__e.fp").alias("fp"))
            .distinct())
