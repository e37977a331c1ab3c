"""Sparse (BM25) and hybrid (reciprocal-rank-fusion) retrieval.

The retrieval slot of the training-data pipeline: corpus search
drives decontamination audits, targeted subset mining ("find docs
about X"), and hybrid dense+sparse candidate generation for dedup
review. Public formulations only:

- :class:`BM25Retriever` — Okapi BM25 (Robertson et al., TREC-3) with
  the Lucene idf variant ``ln(1 + (N − df + 0.5)/(df + 0.5))`` so idf
  is never negative. The index is a term-keyed postings DataFrame
  (term, doc, tf, dl); scoring joins the SMALL query-term frame
  (broadcast) against the postings exchange, so search cost is
  O(postings of query terms), never a corpus scan.
- :func:`reciprocal_rank_fusion` — RRF (Cormack, Clarke & Büttcher
  2009): ``score(d) = Σ_sources 1/(k + rank_s(d))``; rank-only fusion
  needs no score normalization across heterogeneous retrievers (BM25
  vs cosine), which is why it is the default hybrid combiner in
  production search stacks.

Scale shape: postings build is one explode + groupBy(doc, term);
document frequency is a groupBy(term) over the postings (same key as
the scoring join — the exchange is reusable); corpus-wide scalars
(N, avgdl) ride a one-row broadcast. The skew hazard is stopword
postings (a term in half the corpus); ``maxDfRatio`` prunes terms
with df > ratio·N at index time — the classic stopword cut, which
BM25's idf already drives toward 0 weight, so the pruning changes
scores only marginally while bounding the worst join fan-out.

Float parity (oracle story): per-(query, doc) term contributions are
folded in TERM-SORTED order via an explicit left fold — never an
unordered SUM — and every double op mirrors the DuckDB oracle
operation-for-operation, so ``bm25_search`` / ``hybrid_rrf`` verify
hash-exact.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from mmlspark_spark.functions.text_quality import pinned_tokens
from mmlspark_spark.llm.index_common import (
    _add_tombstones,
    _clear_tombstones,
    _drop_tombstoned,
    _hadoop_fs,
    _read_store,
    _read_tombstones,
    _refuse_tombstoned_append,
    _replace_flat_store,
)


def _list_file_names(fs, P, path: str) -> list[str] | None:
    """Basenames of the plain files directly under ``path`` (never
    subdirectories), or None when the directory does not exist — the
    pre-append inventory the torn-append rollback diffs against."""
    if not fs.exists(P(path)):
        return None
    return sorted(st.getPath().getName()
                  for st in fs.listStatus(P(path)) if st.isFile())


def _force_flat_store(df: DataFrame, store_path: str) -> None:
    """Rebuild a flat store UNCONDITIONALLY (repair path): unlike
    :func:`_replace_flat_store` this tolerates a target that is
    missing or half-swapped — the staging copy is fully materialized
    BEFORE the old directory (whatever its state) is deleted, so a
    crash mid-repair just means repair runs again."""
    spark = df.sparkSession
    staging = f"{store_path}__staging"
    fs, P = _hadoop_fs(spark, store_path)
    fs.delete(P(staging), True)
    df.write.mode("overwrite").parquet(staging)
    fs.delete(P(store_path), True)
    if not fs.rename(P(staging), P(store_path)):
        raise IOError(f"could not swap {staging} into {store_path}")


class BM25Retriever:
    """Okapi BM25 search over a text corpus.

    ``search(docs, queries)`` returns (query_id, doc_id, score, rank)
    — top ``k`` docs per query, score-DESC with doc-ASC tie-break,
    scores rounded to 6dp BEFORE ranking (float-drift-proof member
    sets, the engine convention).
    """

    def __init__(self, idCol: str = "doc_id", textCol: str = "text",
                 queryIdCol: str = "query_id", queryTextCol: str = "query",
                 k: int = 10, k1: float = 1.2, b: float = 0.75,
                 maxDfRatio: float | None = None):
        self.idCol, self.textCol = idCol, textCol
        self.queryIdCol, self.queryTextCol = queryIdCol, queryTextCol
        self.k, self.k1, self.b = k, float(k1), float(b)
        self.maxDfRatio = maxDfRatio

    def positional_postings(self, docs: DataFrame) -> DataFrame:
        """(term, doc, dl, positions array<int>) — the PHRASE-capable
        inverted index: 0-based token offsets per (term, doc), sorted.
        Same build shape as :meth:`postings` (one tokenize pass,
        explode, groupBy on the term key); the positions array is what
        Lucene stores for PhraseQuery."""
        toks = (docs.filter(F.col(self.textCol).isNotNull())
                .select(F.col(self.idCol).alias("__doc"),
                        pinned_tokens(self.textCol).alias("__toks")))
        return (toks.select("__doc", F.size("__toks").alias("__dl"),
                            F.posexplode("__toks").alias("__pos", "__t"))
                .groupBy("__t", "__doc", "__dl")
                .agg(F.array_sort(F.collect_list("__pos"))
                     .alias("__positions")))

    def phrase_search(self, docs: DataFrame,
                      phrases: DataFrame) -> DataFrame:
        """Exact-phrase retrieval — the decontamination-audit
        primitive ("which documents contain this benchmark question
        VERBATIM, token-for-token"), which bag-of-words BM25 cannot
        answer. ``phrases`` carries (queryIdCol, queryTextCol); a doc
        matches where the phrase's tokens appear CONSECUTIVELY.

        Plan shape: the phrase-term frame (one row per phrase slot) is
        broadcast onto the positional postings — search cost is
        O(postings of the phrase's terms), never a corpus scan. Per
        (phrase, doc) the slot postings collect into one row and the
        match count is pure array math: ``phrase_tf = |∩_i (positions_i
        − i)|`` (shift each slot's occurrences back by its offset; a
        common value is a phrase start). A (phrase, doc) pair
        survives only when ALL slots found postings (count == slot
        count) and the intersection is non-empty.

        Returns (query_id, doc_id, phrase_tf, rank) — tf DESC, doc
        ASC, top ``k``. Deterministic end-to-end (integer positions,
        set intersection), so it oracles hash-exact
        (``bm25_phrase_search``)."""
        return self._phrase_score(self.positional_postings(docs),
                                  phrases)

    def _phrase_score(self, post: DataFrame,
                      phrases: DataFrame) -> DataFrame:
        """The phrase-match tail shared by :meth:`phrase_search`
        (positions built from docs) and
        :meth:`phrase_search_with_index` (positions read from a saved
        artifact): broadcast phrase slots onto the positional postings,
        all-slots-found gate, shifted-positions intersection, top-k."""
        pterms = (phrases
                  .select(F.col(self.queryIdCol).alias("__p"),
                          F.posexplode(pinned_tokens(self.queryTextCol))
                          .alias("__i", "__t")))
        nterms = pterms.groupBy("__p").agg(F.count("*").alias("__n"))
        hits = post.join(F.broadcast(pterms), "__t")
        per = (hits.groupBy("__p", "__doc")
               .agg(F.count("*").alias("__m"),
                    F.array_sort(F.collect_list(F.struct(
                        F.col("__i").alias("i"),
                        F.col("__positions").alias("ps"))))
                    .alias("__slots")))
        full = per.join(F.broadcast(nterms), "__p").filter(
            F.col("__m") == F.col("__n"))
        first = F.element_at("__slots", 1)
        init = F.transform(first["ps"], lambda p: p - first["i"])
        rest = F.slice("__slots", 2, F.greatest(
            F.size("__slots") - 1, F.lit(0)))
        tf = F.size(F.aggregate(
            rest, init,
            lambda acc, s: F.array_intersect(
                acc, F.transform(s["ps"], lambda p: p - s["i"]))))
        scored = (full.select(F.col("__p").alias("query_id"),
                              F.col("__doc").alias("doc_id"),
                              tf.cast("bigint").alias("phrase_tf"))
                  .filter(F.col("phrase_tf") > 0))
        w = Window.partitionBy("query_id").orderBy(
            F.col("phrase_tf").desc(), F.col("doc_id").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.k))

    def postings(self, docs: DataFrame) -> DataFrame:
        """(term, doc, tf, dl) — the inverted index. dl rides along
        from the tokenize pass (no per-doc join-back)."""
        toks = (docs.filter(F.col(self.textCol).isNotNull())
                .select(F.col(self.idCol).alias("__doc"),
                        pinned_tokens(self.textCol).alias("__toks")))
        return (toks.select("__doc", F.size("__toks").alias("__dl"),
                            F.explode("__toks").alias("__t"))
                .groupBy("__t", "__doc", "__dl")
                .agg(F.count("*").alias("__tf")))

    def _stats(self, docs: DataFrame) -> DataFrame:
        """One row: corpus size N, exact total token count, and
        average doc length (exact integer sum / N — one double
        division, same on both engines). ``__sumdl`` exists so
        :meth:`append_to_index` can extend the stats EXACTLY: the
        appended avgdl is (sumdl + sumdl_new)/(N + N_new) over exact
        integers — the same single IEEE division a fresh build
        performs, so appended and fresh indexes score bit-identically
        (reconstructing the sum as avgdl·N would be off by an ulp)."""
        return (docs.filter(F.col(self.textCol).isNotNull())
                .select(F.size(pinned_tokens(self.textCol))
                        .alias("__dl"))
                .agg(F.count("*").alias("__N"),
                     F.sum("__dl").cast("bigint").alias("__sumdl"),
                     (F.sum("__dl").cast("double")
                      / F.count("*")).alias("__avgdl")))

    def _doclens(self, docs: DataFrame) -> DataFrame:
        """(__doc, __dl) — one row per indexable document, INCLUDING
        zero-token docs (non-null text, no tokens), which have no
        posting rows but do count toward N/avgdl. This per-doc frame
        is what makes DELETION exact: compaction subtracts the dead
        docs' (count, Σdl) from the stored stats, which is impossible
        to reconstruct from postings alone once a zero-token doc is
        involved."""
        return (docs.filter(F.col(self.textCol).isNotNull())
                .select(F.col(self.idCol).alias("__doc"),
                        F.size(pinned_tokens(self.textCol))
                        .alias("__dl")))

    @staticmethod
    def _stats_from_doclens(doclens: DataFrame) -> DataFrame:
        """The one-row (N, Σdl, avgdl) frame aggregated from a doclens
        frame — the IDENTICAL integer aggregate + single IEEE division
        :meth:`_stats` performs directly on docs, so stats derived
        from the stored doclens equal a fresh build bit-for-bit."""
        return doclens.agg(
            F.count("*").alias("__N"),
            F.sum("__dl").cast("bigint").alias("__sumdl"),
            (F.sum("__dl").cast("double") / F.count("*"))
            .alias("__avgdl"))

    def _index_frames(self, docs: DataFrame,
                      post: DataFrame | None = None,
                      stats: DataFrame | None = None):
        """(postings, dfreq, stats, cached) — the logical index build
        shared by :meth:`search` and :meth:`save_index`. ``dfreq``
        carries the maxDfRatio stopword cut when configured; ``cached``
        holds persist handles the caller must attach/release. ``post``
        lets a caller that already built (term, doc, tf, dl) — e.g. a
        positions-enabled save deriving tf from the positional
        postings — skip the second corpus tokenize pass; ``stats``
        lets save_index derive the corpus scalars from its stored
        doclens instead of a third pass."""
        if post is None:
            post = self.postings(docs)
        dfreq = post.groupBy("__t").agg(F.count("*").alias("__df"))
        if stats is None:
            stats = self._stats(docs)
        cached: list[DataFrame] = []
        if self.maxDfRatio is not None:
            # the stats subtree is a full corpus tokenize pass and
            # now has TWO consumers (the stopword cut + scoring) —
            # persist the one-row result so it runs once
            from mmlspark_spark.core.cache import persist_intermediate

            stats = persist_intermediate(stats)
            cached.append(stats)
            dfreq = (dfreq.crossJoin(F.broadcast(
                stats.select("__N")))
                .filter(F.col("__df")
                        <= F.lit(self.maxDfRatio) * F.col("__N"))
                .drop("__N"))
        return post, dfreq, stats, cached

    def search(self, docs: DataFrame, queries: DataFrame) -> DataFrame:
        post, dfreq, stats, cached = self._index_frames(docs)
        out = self._score(post, dfreq, stats, queries)
        if cached:
            from mmlspark_spark.core.cache import attach_intermediates

            out = attach_intermediates(out, *cached)
        return out

    def _score(self, post: DataFrame, dfreq: DataFrame, stats: DataFrame,
               queries: DataFrame) -> DataFrame:
        k1, b = self.k1, self.b
        qterms = (queries
                  .select(F.col(self.queryIdCol).alias("__q"),
                          F.explode(F.array_distinct(
                              pinned_tokens(self.queryTextCol)))
                          .alias("__t")))
        # postings ⋈ df share the term key (one exchange); the tiny
        # query-term frame broadcasts onto it
        hits = (post.join(dfreq, "__t")
                .join(F.broadcast(qterms), "__t")
                .crossJoin(F.broadcast(stats)))
        idf = F.log(
            F.lit(1.0)
            + ((F.col("__N") - F.col("__df") + F.lit(0.5))
               / (F.col("__df") + F.lit(0.5))))
        denom = (F.col("__tf")
                 + F.lit(k1) * (F.lit(1.0) - F.lit(b)
                                + F.lit(b) * (F.col("__dl").cast("double")
                                              / F.col("__avgdl"))))
        part = idf * (F.col("__tf") * F.lit(k1 + 1.0)) / denom
        # term-sorted left fold — NEVER an unordered float SUM — so
        # the oracle reproduces the exact double
        scored = (hits.select("__q", "__doc",
                              F.struct(F.col("__t").alias("t"),
                                       part.alias("p")).alias("__s"))
                  .groupBy("__q", "__doc")
                  .agg(F.array_sort(F.collect_list("__s")).alias("__ss"))
                  .select("__q", "__doc",
                          F.round(F.aggregate(
                              F.transform("__ss", lambda s: s["p"]),
                              F.lit(0.0), lambda a, x: a + x), 6)
                          .alias("score")))
        w = Window.partitionBy("__q").orderBy(
            F.col("score").desc(), F.col("__doc").asc())
        return (scored.withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= self.k)
                .select(F.col("__q").alias("query_id"),
                        F.col("__doc").alias("doc_id"),
                        "score", "rank"))

    # ------------------------------------------------- persistence
    def save_index(self, docs: DataFrame, path: str,
                   mode: str = "overwrite",
                   positions: bool = False) -> None:
        """Persist the inverted index as parquet so search never
        re-tokenizes the corpus — the production shape: index once,
        search many. Layout:

        - ``{path}/postings`` — (term, doc, tf, dl), repartitioned AND
          sorted by term so each row group holds a contiguous term
          range: parquet min/max footer stats then let a
          search-from-index scan SKIP every row group holding no query
          term (the I/O win that makes the saved index cheaper than
          re-tokenizing, at any corpus size). When maxDfRatio is set
          the stopword cut is baked into the stored postings (smaller
          index, bounded join fan-out forever after).
        - ``{path}/dfreq`` — per-term document frequency (pruned).
        - ``{path}/stats`` — the one-row (N, Σdl, avgdl) frame.
        - ``{path}/doclens`` — (doc, dl), one row per indexed doc
          INCLUDING zero-token docs: the per-doc ledger that makes
          :meth:`compact_index` exact (stats subtraction) — without
          it a deleted zero-token doc's N contribution is
          unrecoverable from postings.
        - ``{path}/positions`` (``positions=True``) — the
          phrase-capable positional postings (term, doc, dl, sorted
          0-based offsets), term-clustered like the tf postings
          (Lucene stores exactly this for PhraseQuery), so
          :meth:`phrase_search_with_index` reads only the row groups
          holding the phrase's terms instead of re-tokenizing the
          corpus on every decontamination audit. Positions are stored
          UNPRUNED even under maxDfRatio: a phrase must match every
          token, so dropping stopword positions would break "to be or
          not to be"-class phrases (BM25's bag-of-words cut does not
          apply to positional semantics). When positions are requested
          the tf postings are DERIVED from them (tf = |positions|) —
          one corpus tokenize pass total, not two.
        - ``{path}/_bm25_manifest.json`` — pins maxDfRatio so a
          retriever configured differently cannot silently search a
          differently-pruned index (k1/b are score-time-only and stay
          free), and records whether positions are present.
        """
        import json as _json

        from mmlspark_spark.core.cache import persist_intermediate
        from mmlspark_spark.llm.export import _fs_write_text

        if mode == "append":
            # dfreq is per-term over THIS corpus and stats is one row:
            # appending either would double-count every shared term
            # and leave two stats rows — incremental growth is
            # append_to_index's job (which re-aggregates df from the
            # MERGED postings and extends stats exactly)
            raise ValueError(
                "save_index(mode='append') would duplicate dfreq/"
                "stats rows — use append_to_index for incremental "
                "growth")
        from mmlspark_spark.llm.index_common import (
            _clear_append_markers,
            _refuse_save_over_torn_append,
        )

        _refuse_save_over_torn_append(
            docs.sparkSession, path, "BM25Retriever.save_index")
        spark = docs.sparkSession
        pos = None
        post_src = None
        if positions:
            pos = persist_intermediate(self.positional_postings(docs))
            post_src = pos.select(
                "__t", "__doc", "__dl",
                F.size("__positions").cast("bigint").alias("__tf"))
        # doclens before stats: stats derive from the READ-BACK ledger
        # (identical integers → identical division, and the stats
        # pass over docs is replaced, not added — still one
        # tokenize-for-stats pass per save). Without a maxDfRatio the
        # (doclens → stats) and (postings → dfreq) chains share no
        # data, so they run as two CONCURRENT driver threads (guide
        # §2.6): the doclens tokenize pass back-fills the tail of the
        # postings shuffle instead of following it. A save is an
        # all-overwrite rebuild — a crash mid-save leaves a mixed-
        # generation artifact under either ordering, and the retry
        # re-saves everything — so concurrency adds no failure state;
        # manifest and tombstone-clear stay strictly last.
        if self.maxDfRatio is None and mode == "overwrite":
            post = persist_intermediate(
                post_src if post_src is not None
                else self.postings(docs))
            dfreq = post.groupBy("__t").agg(F.count("*").alias("__df"))

            def doclens_then_stats() -> None:
                self._doclens(docs).write.mode(mode).parquet(
                    f"{path}/doclens")
                (self._stats_from_doclens(
                    _read_store(spark, f"{path}/doclens"))
                 .write.mode(mode).parquet(f"{path}/stats"))

            def postings_write() -> None:
                (post.repartition(F.col("__t"))
                 .sortWithinPartitions("__t")
                 .write.mode(mode).parquet(f"{path}/postings"))

            def dfreq_write() -> None:
                dfreq.write.mode(mode).parquet(f"{path}/dfreq")

            def positions_write() -> None:
                (pos.repartition(F.col("__t"))
                 .sortWithinPartitions("__t", "__doc")
                 .write.mode(mode).parquet(f"{path}/positions"))

            from concurrent.futures import ThreadPoolExecutor
            try:
                with ThreadPoolExecutor(max_workers=3) as pool:
                    fa = pool.submit(doclens_then_stats)
                    # the postings write materializes the persisted
                    # post (and pos) caches; dfreq and positions both
                    # read those caches, so they fan out only after it
                    pool.submit(postings_write).result()
                    tail = [pool.submit(dfreq_write)]
                    if pos is not None:
                        tail.append(pool.submit(positions_write))
                    for fut in [fa, *tail]:
                        fut.result()
                _fs_write_text(
                    spark, f"{path}/_bm25_manifest.json",
                    _json.dumps({"maxDfRatio": self.maxDfRatio,
                                 "positions": positions,
                                 "version": 1}))
            finally:
                post.unpersist()
                if pos is not None:
                    pos.unpersist()
            _clear_tombstones(spark, path)
            _clear_append_markers(spark, path)
            return
        self._doclens(docs).write.mode(mode).parquet(f"{path}/doclens")
        stats_src = self._stats_from_doclens(
            _read_store(docs.sparkSession, f"{path}/doclens"))
        post, dfreq, stats, cached = self._index_frames(
            docs, post=post_src, stats=stats_src)
        # post is the full corpus tokenize/explode pass and has 2-3
        # consumers below (the postings write, dfreq's groupBy, and
        # the pruning join when maxDfRatio is set) — persist it so the
        # corpus is tokenized ONCE per save, not per write (stats
        # derive from the stored doclens ledger, never from postings:
        # zero-token documents have no posting rows but DO count
        # toward N/avgdl — and doclens is what makes deletion exact)
        post = persist_intermediate(post)
        try:
            if self.maxDfRatio is not None:
                post_out = post.join(dfreq.select("__t"), "__t")
            else:
                post_out = post
            (post_out.repartition(F.col("__t"))
             .sortWithinPartitions("__t")
             .write.mode(mode).parquet(f"{path}/postings"))
            dfreq.write.mode(mode).parquet(f"{path}/dfreq")
            stats.write.mode(mode).parquet(f"{path}/stats")
            if pos is not None:
                (pos.repartition(F.col("__t"))
                 .sortWithinPartitions("__t", "__doc")
                 .write.mode(mode).parquet(f"{path}/positions"))
            _fs_write_text(
                docs.sparkSession, f"{path}/_bm25_manifest.json",
                _json.dumps({"maxDfRatio": self.maxDfRatio,
                             "positions": positions,
                             "version": 1}))
        finally:
            post.unpersist()
            if pos is not None:
                pos.unpersist()
            for c in cached:
                c.unpersist()
        # tombstones clear LAST, once the store + manifest are down:
        # a torn save then leaves the old mask conservatively hiding
        # rows (a retry fixes it) instead of resurrecting taken-down
        # ids — the unsafe failure direction for takedowns
        _clear_tombstones(docs.sparkSession, path)
        _clear_append_markers(docs.sparkSession, path)

    def append_to_index(self, new_docs: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Incrementally grow a :meth:`save_index` artifact: tokenize
        ONLY the new documents, append their postings (and positions,
        when the index carries them), then refresh the two
        index-global artifacts — document frequency merges the NEW
        postings' per-term doc counts into the stored dfreq (a
        full-outer join on the vocabulary + integer addition — the
        same integers a fresh build's term agg produces, so the
        result is bit-identical while the append never re-scans the
        postings store: O(batch + dfreq) per append instead of
        O(index), the difference between a daily batch and a
        micro-batch stream) and the one-row stats extend exactly over
        the stored integer token sum, so searching the appended index
        is bit-identical to a fresh build over the unioned corpus
        (pinned in tests).

        Refuses two artifact shapes where exact append is impossible:
        ``maxDfRatio`` indexes (the stopword cut already DISCARDED
        postings using the old N — terms crossing the threshold in
        either direction cannot be reconstructed without the original
        corpus; rebuild instead) and pre-``__sumdl`` stats rows (the
        exact sum cannot be recovered from avgdl·N). Also refuses ids
        with a pending tombstone — the appended postings would be
        masked at read time and deleted by the next compaction
        (compact first, then re-append).

        Crash-ordering invariant (the append sibling of save's
        tombstones-clear-LAST and the registry's bloom-first rules):
        the four mutations — doclens append, postings append, dfreq
        swap, stats swap — are bracketed by ``_append_pending.json``,
        written FIRST (stashing the pre-append stats row and the
        per-store part-file inventories) and removed LAST. A crash
        anywhere between leaves the marker behind, and every reader
        (:meth:`load_index`, :meth:`append_to_index`,
        :meth:`compact_index`) REFUSES a marked store rather than
        silently scoring half-appended docs with stale statistics;
        :meth:`repair_index` rolls the artifact back to the
        pre-append state bit-exactly, after which the batch simply
        re-appends. With ``batchId`` set (the streaming-ingest path)
        the marker commits by renaming to
        ``_append_committed_<batchId>.json``, making a replayed
        micro-batch a no-op — at-least-once foreachBatch delivery
        becomes exactly-once index growth even across torn appends."""
        import json as _json

        from mmlspark_spark.core.cache import persist_intermediate
        from mmlspark_spark.llm.export import _fs_read_text

        spark = new_docs.sparkSession
        self._refuse_torn(spark, path)
        if batchId is not None and self._batch_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        man = _json.loads(
            _fs_read_text(spark, f"{path}/_bm25_manifest.json"))
        if man.get("maxDfRatio") is not None:
            raise ValueError(
                f"BM25 index at {path} was built with maxDfRatio="
                f"{man['maxDfRatio']}: the stopword cut discarded "
                f"postings under the OLD corpus size, so an appended "
                f"index cannot equal a fresh build — rebuild with "
                f"save_index instead")
        old_stats = _read_store(spark, f"{path}/stats")
        if "__sumdl" not in old_stats.columns:
            raise ValueError(
                f"BM25 index at {path} predates exact-append stats "
                f"(no __sumdl); re-save the index once to upgrade")
        _refuse_tombstoned_append(
            new_docs.select(F.col(self.idCol)), path, self.idCol,
            "BM25Retriever.append_to_index")
        # pending marker FIRST (see docstring invariant): stash the
        # one-row stats and the per-store file inventories so a torn
        # append can be rolled back to this exact state — everything
        # else global (dfreq) re-derives exactly from the rolled-back
        # postings
        fs, P = _hadoop_fs(spark, f"{path}/doclens")
        old = old_stats.first()
        self._begin_append(spark, path, batchId, inventory={
            "postings": _list_file_names(fs, P, f"{path}/postings"),
            "positions": (_list_file_names(fs, P, f"{path}/positions")
                          if man.get("positions") else None),
            "doclens": _list_file_names(fs, P, f"{path}/doclens"),
        }, stats_row={"__N": int(old["__N"]),
                      "__sumdl": (int(old["__sumdl"])
                                  if old["__sumdl"] is not None else None),
                      "__avgdl": old["__avgdl"]})
        # extend the per-doc ledger when the artifact carries one
        # (post-doclens saves); pre-doclens artifacts stay pre-doclens
        # — compact_index refuses them with the re-save pointer
        if fs.exists(P(f"{path}/doclens")):
            self._doclens(new_docs).write.mode("append").parquet(
                f"{path}/doclens")

        pos = None
        post_src = None
        if man.get("positions"):
            pos = persist_intermediate(
                self.positional_postings(new_docs))
            post_src = pos.select(
                "__t", "__doc", "__dl",
                F.size("__positions").cast("bigint").alias("__tf"))
        # persisted: the postings write and the dfreq delta agg both
        # consume it — one tokenization pass over the batch, total
        new_post = persist_intermediate(
            self.postings(new_docs) if post_src is None else post_src)
        try:
            # same term-clustered layout as save_index: the appended
            # files must keep the row-group min/max skip property or
            # search I/O over the appended fraction degrades toward a
            # full postings scan
            (new_post.repartition(F.col("__t"))
             .sortWithinPartitions("__t")
             .write.mode("append").parquet(f"{path}/postings"))
            if pos is not None:
                (pos.repartition(F.col("__t"))
                 .sortWithinPartitions("__t", "__doc")
                 .write.mode("append").parquet(f"{path}/positions"))

            # delta df refresh: aggregate ONLY the new postings'
            # per-term doc counts and full-outer-merge them into the
            # stored dfreq — pure integer addition, so the result is
            # bit-identical to re-aggregating the merged postings
            # table, but the append never reads the postings store
            # (O(batch + dfreq), the contract a micro-batch stream
            # needs; pinned by a corrupted-postings test). The
            # staging+rename swap keeps the old-dfreq read and the
            # new-dfreq write on disjoint paths.
            delta = new_post.groupBy("__t").agg(
                F.count("*").alias("__df_new"))
            _replace_flat_store(
                _read_store(spark, f"{path}/dfreq")
                .join(delta, "__t", "full_outer")
                .select("__t",
                        (F.coalesce(F.col("__df"), F.lit(0))
                         + F.coalesce(F.col("__df_new"), F.lit(0))
                         ).alias("__df")),
                f"{path}/dfreq")
        finally:
            new_post.unpersist()
            if pos is not None:
                pos.unpersist()

        # stats: exact integer extension, then ONE double division —
        # the identical IEEE op a fresh build performs on the same
        # integers. One old row + one new row meet on the driver.
        new = self._stats(new_docs).first()
        n = int(old["__N"]) + int(new["__N"])
        sumdl = int(old["__sumdl"] or 0) + int(new["__sumdl"] or 0)
        _replace_flat_store(
            spark.createDataFrame(
                [(n, sumdl, float(sumdl) / n if n else None)],
                "__N bigint, __sumdl bigint, __avgdl double"),
            f"{path}/stats")
        # commit LAST: delete the pending marker (ad-hoc append) or
        # atomically rename it to the batch's committed marker (the
        # replay guard the streaming topology keys on)
        self._commit_append(spark, path, batchId)

    # ---------------------------------------- torn-append machinery
    def _refuse_torn(self, spark, path: str) -> None:
        """Refuse any read/mutate of a store whose last append tore
        (``_append_pending.json`` survives a crash between the
        postings commit and the dfreq/stats refresh — searching it
        would score the half-appended docs with stale statistics)."""
        fs, P = _hadoop_fs(spark, path)
        if fs.exists(P(f"{path}/_append_pending.json")):
            raise ValueError(
                f"BM25 index at {path} has a torn append (a crash "
                f"landed between append_to_index's per-doc commits "
                f"and its dfreq/stats refresh): run "
                f"repair_index(spark, path) to roll the artifact "
                f"back to the pre-append state bit-exactly, then "
                f"re-append the batch — or rebuild with save_index")

    def _batch_committed(self, spark, path: str, batchId: int) -> bool:
        fs, P = _hadoop_fs(spark, path)
        return fs.exists(
            P(f"{path}/_append_committed_{batchId}.json"))

    def _begin_append(self, spark, path: str, batchId: int | None,
                      inventory: dict | None = None,
                      stats_row: dict | None = None,
                      bootstrap: bool = False) -> None:
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        _fs_write_text(
            spark, f"{path}/_append_pending.json",
            _json.dumps({"batch_id": batchId, "bootstrap": bootstrap,
                         "files": inventory, "stats": stats_row,
                         "version": 1}))

    def _commit_append(self, spark, path: str,
                       batchId: int | None) -> None:
        fs, P = _hadoop_fs(spark, path)
        pending = P(f"{path}/_append_pending.json")
        if batchId is None:
            fs.delete(pending, False)
            return
        name = f"_append_committed_{batchId}.json"
        fs.delete(P(f"{path}/{name}"), False)
        if not fs.rename(pending, P(f"{path}/{name}")):
            raise IOError(
                f"could not commit append marker for batch {batchId} "
                f"at {path}")
        # prune superseded committed markers (exactly one is live; a
        # crash between the rename and this cleanup just leaves an
        # extra stale marker the next commit removes)
        for st in fs.listStatus(P(path)):
            n = st.getPath().getName()
            if n.startswith("_append_committed_") and n != name:
                fs.delete(st.getPath(), False)

    def repair_index(self, spark, path: str) -> dict:
        """Roll a TORN :meth:`append_to_index` (or a torn streaming
        bootstrap) back to the pre-append artifact, bit-exactly:

        - per-doc stores (postings / positions / doclens) drop every
          part file not in the marker's pre-append inventory — append
          only ever ADDS files to these stores, so the diff IS the
          torn batch (plus any ``_temporary`` litter a killed write
          job left);
        - dfreq re-aggregates from the rolled-back postings — the
          same integer ``groupBy(term).count`` a fresh build runs, so
          the result is bit-identical to the pre-append store whether
          or not the torn append's swap had landed;
        - the one-row stats restore from the integers stashed in the
          marker (exact; the avgdl double round-trips through JSON
          repr losslessly);
        - a torn streaming BOOTSTRAP (marker says so) instead deletes
          the half-written artifact wholesale — the replayed first
          batch re-bootstraps from nothing.

        Idempotent until it succeeds: the marker is removed LAST, so
        a crash mid-repair just means repair runs again. Returns
        ``{"repaired", "files_removed", "batch_id"}``."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        fs, P = _hadoop_fs(spark, path)
        pending = f"{path}/_append_pending.json"
        if not fs.exists(P(pending)):
            return {"repaired": False, "files_removed": 0,
                    "batch_id": None}
        marker = _json.loads(_fs_read_text(spark, pending))
        removed = 0
        if marker.get("bootstrap"):
            for store in ("postings", "positions", "dfreq", "stats",
                          "doclens", "tombstones"):
                if fs.delete(P(f"{path}/{store}"), True):
                    removed += 1
            fs.delete(P(f"{path}/_bm25_manifest.json"), False)
        else:
            for store, keep in (marker.get("files") or {}).items():
                if keep is None:  # store absent pre-append
                    continue
                store_path = f"{path}/{store}"
                keep_set = set(keep)
                if not fs.exists(P(store_path)):
                    continue
                for st in fs.listStatus(P(store_path)):
                    name = st.getPath().getName()
                    if st.isFile() and name not in keep_set:
                        fs.delete(st.getPath(), False)
                        removed += 1
                    elif (not st.isFile()
                          and name.startswith("_temporary")):
                        fs.delete(st.getPath(), True)
                        removed += 1
            # half-swap litter from a crash inside the staging swaps
            for litter in ("dfreq__staging", "dfreq__old",
                           "stats__staging", "stats__old"):
                fs.delete(P(f"{path}/{litter}"), True)
            _force_flat_store(
                _read_store(spark, f"{path}/postings")
                .groupBy("__t").agg(F.count("*").alias("__df")),
                f"{path}/dfreq")
            s = marker["stats"]
            _force_flat_store(
                spark.createDataFrame(
                    [(int(s["__N"]),
                      int(s["__sumdl"]) if s["__sumdl"] is not None
                      else None,
                      s["__avgdl"])],
                    "__N bigint, __sumdl bigint, __avgdl double"),
                f"{path}/stats")
        fs.delete(P(pending), False)
        return {"repaired": True, "files_removed": removed,
                "batch_id": marker.get("batch_id")}

    def load_index(self, spark, path: str) -> dict:
        """Read a :meth:`save_index` artifact back as the frame dict
        :meth:`search_with_index` consumes. Raises when this
        retriever's ``maxDfRatio`` differs from the one baked into the
        stored postings — re-pruning cannot be done post hoc (the cut
        terms are gone) and silently searching a differently-pruned
        index would skew scores — and when the store carries a torn
        append (see :meth:`repair_index`)."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        self._refuse_torn(spark, path)
        man = _json.loads(
            _fs_read_text(spark, f"{path}/_bm25_manifest.json"))
        if man.get("maxDfRatio") != self.maxDfRatio:
            raise ValueError(
                f"BM25 index at {path} was built with "
                f"maxDfRatio={man.get('maxDfRatio')}; this retriever "
                f"has maxDfRatio={self.maxDfRatio} — construct the "
                f"retriever with the index's value (the cut is baked "
                f"into the stored postings)")
        index = {"post": _read_store(spark, f"{path}/postings"),
                 "dfreq": _read_store(spark, f"{path}/dfreq"),
                 "stats": _read_store(spark, f"{path}/stats"),
                 "tombstones": _read_tombstones(spark, path)}
        if man.get("positions"):
            index["positions"] = _read_store(spark, f"{path}/positions")
        return index

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone doc ids in a :meth:`save_index` artifact
        (takedowns): metadata-only until :meth:`compact_index`. Both
        search lanes mask tombstoned docs at read time, so a deleted
        doc NEVER surfaces — but, exactly like Lucene's deleted-docs
        model, the corpus statistics (df, N, avgdl) still include the
        dead docs until compaction, so surviving docs' scores shift
        only then. Unknown ids are a no-op."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned docs and clear the tombstone
        set — after this, scores equal a fresh build over the
        surviving corpus bit-for-bit (pinned in tests): postings /
        positions / doclens are rewritten minus the dead docs through
        the staging+rename swap (term-clustered layout preserved),
        document frequency is re-aggregated from the compacted
        postings (index-sized, never a corpus re-tokenize), and the
        one-row stats subtract the dead docs' exact (count, Σdl) from
        the stored integers before the single IEEE division.

        Refuses two artifact shapes where exact compaction is
        impossible: ``maxDfRatio`` indexes (the stopword cut already
        discarded postings under the OLD corpus size — a fresh build
        over the survivors would cut a different term set; rebuild
        instead) and pre-``doclens`` artifacts (a deleted zero-token
        doc's N contribution is unrecoverable from postings; re-save
        once to upgrade). Returns docs removed."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        self._refuse_torn(spark, path)
        man = _json.loads(
            _fs_read_text(spark, f"{path}/_bm25_manifest.json"))
        if man.get("maxDfRatio") is not None:
            raise ValueError(
                f"BM25 index at {path} was built with maxDfRatio="
                f"{man['maxDfRatio']}: the stopword cut discarded "
                f"postings under the old corpus size, so a compacted "
                f"index cannot equal a fresh build over the "
                f"survivors — rebuild with save_index instead")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        fs, P = _hadoop_fs(spark, f"{path}/doclens")
        if not fs.exists(P(f"{path}/doclens")):
            raise ValueError(
                f"BM25 index at {path} predates the doclens ledger — "
                f"exact stats subtraction needs per-doc lengths; "
                f"re-save the index once to upgrade")
        doclens = _read_store(spark, f"{path}/doclens")
        dead = doclens.join(ts.withColumnRenamed("id", "__doc"),
                            "__doc", "left_semi").agg(
            F.count("*").alias("n"),
            F.coalesce(F.sum("__dl").cast("bigint"), F.lit(0))
            .alias("s")).first()
        dead_n, dead_s = int(dead["n"]), int(dead["s"])
        if dead_n == 0:
            _clear_tombstones(spark, path)
            return 0
        # STAGE all rewritten stores as concurrent jobs (guide §2.6 —
        # the staging writes are independent and leave every live
        # store untouched, so a crash anywhere in this block is a
        # no-op on the artifact), then PUBLISH them with sequential
        # renames in the pinned crash order below: a tear mid-swap
        # leaves exactly the states the sequential implementation
        # could leave (postings compacted + dfreq/stats stale == the
        # tombstoned-read semantics; a re-run compacts the rest).
        from concurrent.futures import ThreadPoolExecutor

        from mmlspark_spark.llm.index_common import (
            _stage_flat_store,
            _swap_flat_store,
        )

        old = _read_store(spark, f"{path}/stats").first()
        n = int(old["__N"]) - dead_n
        sumdl = int(old["__sumdl"] or 0) - dead_s

        def stage_postings_then_dfreq() -> None:
            keep_post = (_drop_tombstoned(
                _read_store(spark, f"{path}/postings"), ts, "__doc")
                .repartition(F.col("__t")).sortWithinPartitions("__t"))
            _stage_flat_store(keep_post, f"{path}/postings")
            # df from the COMPACTED postings — the same aggregate a
            # fresh build runs, read from the STAGED copy (the exact
            # rows the swap publishes), never a corpus re-tokenize
            _stage_flat_store(
                _read_store(spark, f"{path}/postings__staging")
                .groupBy("__t").agg(F.count("*").alias("__df")),
                f"{path}/dfreq")

        def stage_positions() -> None:
            keep_pos = (_drop_tombstoned(
                _read_store(spark, f"{path}/positions"), ts, "__doc")
                .repartition(F.col("__t"))
                .sortWithinPartitions("__t", "__doc"))
            _stage_flat_store(keep_pos, f"{path}/positions")

        def stage_doclens() -> None:
            _stage_flat_store(_drop_tombstoned(doclens, ts, "__doc"),
                              f"{path}/doclens")

        def stage_stats() -> None:
            _stage_flat_store(
                spark.createDataFrame(
                    [(n, sumdl, float(sumdl) / n if n else None)],
                    "__N bigint, __sumdl bigint, __avgdl double"),
                f"{path}/stats")

        tasks = [stage_postings_then_dfreq, stage_doclens, stage_stats]
        if man.get("positions"):
            tasks.append(stage_positions)
        with ThreadPoolExecutor(max_workers=len(tasks)) as pool:
            for fut in [pool.submit(t) for t in tasks]:
                fut.result()
        _swap_flat_store(spark, f"{path}/postings")
        if man.get("positions"):
            _swap_flat_store(spark, f"{path}/positions")
        _swap_flat_store(spark, f"{path}/doclens")
        _swap_flat_store(spark, f"{path}/dfreq")
        _swap_flat_store(spark, f"{path}/stats")
        _clear_tombstones(spark, path)
        return dead_n

    def search_with_index(self, index: dict,
                          queries: DataFrame) -> DataFrame:
        """BM25 top-k against a loaded :meth:`load_index` artifact —
        identical scores to :meth:`search` on the source corpus
        (round-trip pinned in tests), zero tokenize passes.
        Tombstoned docs are masked out of the postings before
        scoring, so they never surface; per the Lucene deleted-docs
        model, df/N/avgdl keep counting them until
        :meth:`compact_index`."""
        post = _drop_tombstoned(index["post"],
                                index.get("tombstones"), "__doc")
        return self._score(post, index["dfreq"],
                           index["stats"], queries)

    def phrase_search_with_index(self, index: dict,
                                 phrases: DataFrame) -> DataFrame:
        """Exact-phrase retrieval against a loaded
        :meth:`load_index` artifact saved with ``positions=True`` —
        identical results to :meth:`phrase_search` on the source
        corpus (positions are deterministic; round-trip pinned in
        tests), zero tokenize passes. This is the shape a
        decontamination audit runs repeatedly at 100 TB: the phrase
        terms broadcast onto the term-clustered stored positions, so
        each audit reads only the row groups holding those terms."""
        if "positions" not in index:
            raise ValueError(
                "BM25 index was saved without positions=True — "
                "phrase search needs positional postings; re-save "
                "the index with positions=True")
        pos = _drop_tombstoned(index["positions"],
                               index.get("tombstones"), "__doc")
        return self._phrase_score(pos, phrases)


def reciprocal_rank_fusion(rankings: list[DataFrame], k: int = 60,
                           topK: int | None = None) -> DataFrame:
    """RRF over N (query_id, doc_id, rank) frames:
    ``score = Σ_s 1/(k + rank_s)``, sources added in LIST ORDER
    (explicit left-to-right additions — replayable), docs absent
    from a source contribute 0. Returns (query_id, doc_id,
    rrf_score, rank); ``topK`` trims per query. The fusion is a
    chain of full outer joins on (query_id, doc_id) — each input is
    already top-k-sized per query, so every join is small however
    big the corpora behind the rankings were."""
    if not rankings:
        raise ValueError("rankings must be non-empty")
    tagged = [r.select("query_id", "doc_id",
                       F.col("rank").alias(f"__r{i}"))
              for i, r in enumerate(rankings)]
    joined = reduce(
        lambda a, b2: a.join(b2, ["query_id", "doc_id"], "full_outer"),
        tagged)
    score = F.lit(0.0)
    for i in range(len(rankings)):
        score = score + F.coalesce(
            F.lit(1.0) / (F.lit(float(k)) + F.col(f"__r{i}")),
            F.lit(0.0))
    out = joined.select("query_id", "doc_id",
                        F.round(score, 6).alias("rrf_score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("rrf_score").desc(), F.col("doc_id").asc())
    out = out.withColumn("rank", F.row_number().over(w))
    if topK is not None:
        out = out.filter(F.col("rank") <= topK)
    return out
