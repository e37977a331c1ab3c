"""Shared persistence mechanics for every stored index in the engine
(ANN code/vector stores, MinHash/fingerprint/embedding near-dup
artifacts, BM25 postings): the tombstone delete lifecycle and the
crash-safer flat-store rewrite.

Delete model (the Lucene/faiss ``remove_ids`` shape): deletes are
metadata until compaction — ``delete_from_index`` appends ids to
``{path}/tombstones``, every search/match lane masks them with an
anti-join at read time, and ``compact_index`` physically rewrites the
stores minus the dead rows and clears the set. A takedown on a 100 TB
index is therefore one tiny parquet append, not a store rewrite; the
rewrite happens once, when the operator chooses to pay for it.

Flat-store compaction writes through a staging directory and swaps via
rename (survivors → ``<store>__staging``; old store → ``<store>__old``;
staging → store; delete old), so a failure mid-write leaves either the
intact old store or both copies on disk — never a half-written only
copy. Rename is atomic on HDFS-like stores; on object stores it is a
copy, but the old data still exists until the final delete, so the
recovery property (some complete copy always present) holds there too.
"""

from __future__ import annotations

import functools

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T


@functools.lru_cache(maxsize=None)
def _jvm_attr(jvm, dotted: str):
    """``jvm.<dotted>`` — a JVM class or static method — looked up
    once per gateway: py4j pays one round trip per dotted segment on
    every lookup otherwise (five for ``org.apache.hadoop.fs.Path``)."""
    return functools.reduce(getattr, dotted.split("."), jvm)


def _hadoop_fs(spark, path: str):
    """(fs, Path-class) for ``path``'s scheme via the Hadoop FS API —
    works on every store the index itself can live on."""
    P = _jvm_attr(spark._jvm, "org.apache.hadoop.fs.Path")
    return P(path).getFileSystem(spark._jsc.hadoopConfiguration()), P


def _add_tombstones(ids: DataFrame, path: str, idCol: str) -> None:
    """Append an id set to ``{path}/tombstones`` — the delete
    mechanism every append-only index needs (takedowns, dedup
    survivors): deletes are metadata until compaction, so a delete
    never rewrites the (large) code/vector/postings store."""
    (ids.select(F.col(idCol).alias("id")).distinct()
     .write.mode("append").parquet(f"{path}/tombstones"))


def _read_tombstones(spark, path: str) -> DataFrame | None:
    """The live tombstone id set, or None when nothing was deleted.
    Existence is probed through the Hadoop FS API (works on every
    scheme the index itself can live on). NOT deduplicated: every
    consumer is an anti-/semi-join, whose semantics are set-membership
    regardless of duplicates — a distinct here would re-pay a shuffle
    in every plan branch that masks (the write side already
    distinct's per delete call, so dupes only arise from repeated
    deletes of the same id).

    The set's on-disk size is stamped on the returned frame
    (``_mmlspark_ts_bytes``, read from FS metadata — no job) so
    :func:`_drop_tombstoned` can decide whether broadcasting the mask
    is safe; a neglected index whose pending deletes grew huge must
    degrade to a shuffle join, not OOM every masked read."""
    fs, P = _hadoop_fs(spark, f"{path}/tombstones")
    if not fs.exists(P(f"{path}/tombstones")):
        return None
    df = _read_store(spark, f"{path}/tombstones").select("id")
    try:
        df._mmlspark_ts_bytes = int(
            fs.getContentSummary(P(f"{path}/tombstones")).getLength())
    except Exception:
        df._mmlspark_ts_bytes = None  # unknown size → keep the hint
    return df


def _clear_tombstones(spark, path: str) -> None:
    fs, P = _hadoop_fs(spark, f"{path}/tombstones")
    fs.delete(P(f"{path}/tombstones"), True)


# Above this on-disk size the tombstone set no longer gets the
# broadcast hint: ~64 MB of snappy parquet ids decompress to several
# hundred MB of in-memory rows per executor — the "takedown-scale"
# assumption has clearly lapsed, and the right degradation is a
# shuffle anti-join plus a compaction nudge, not an OOM on every
# masked read.
_BROADCAST_TOMBSTONE_BYTES = 64 << 20


def _drop_tombstoned(df: DataFrame, tombstones: DataFrame | None,
                     idCol: str) -> DataFrame:
    """Anti-join a stored frame against the tombstone set — the
    read-time mask that makes deletes visible before compaction.
    The tombstone side is broadcast-hinted: pending deletes are
    takedown-scale (compaction keeps the set bounded), and a
    broadcast anti-join keeps the big stored side MAP-SIDE — without
    the hint every consumer of the masked frame re-pays a full
    shuffle of the store (measured: +10 exchanges on the minhash
    match plan). The hint is guarded by the set's on-disk size
    (stamped by :func:`_read_tombstones`): past
    ``_BROADCAST_TOMBSTONE_BYTES`` the mask degrades to a shuffle
    join with a compaction warning instead of risking driver/executor
    OOM — the documented takedown-scale assumption, now enforced."""
    if tombstones is None:
        return df
    ts = tombstones.withColumnRenamed("id", idCol)
    nbytes = getattr(tombstones, "_mmlspark_ts_bytes", None)
    if nbytes is not None and nbytes > _BROADCAST_TOMBSTONE_BYTES:
        import warnings

        warnings.warn(
            f"pending tombstone set is {nbytes >> 20} MB on disk — "
            f"too large to broadcast safely; masking via shuffle "
            f"anti-join instead. Run compact_index to retire the "
            f"mask", stacklevel=2)
        return df.join(ts, idCol, "left_anti")
    return df.join(F.broadcast(ts), idCol, "left_anti")


def _refuse_tombstoned_append(new_ids: DataFrame, path: str,
                              idCol: str, what: str) -> None:
    """The re-insert-after-delete contract, enforced: appending an id
    with a PENDING tombstone would leave the new row masked at read
    time and DELETED by the next compaction — silent data loss wearing
    an append's clothes. Every ``append_to_*index`` calls this first
    and raises, pointing at compaction; the check is one semi-join
    count proportional to the (small) tombstone set, nothing at all
    when no deletes are pending."""
    ts = _read_tombstones(new_ids.sparkSession, path)
    if ts is None:
        return
    hit = (ts.join(new_ids.select(F.col(idCol).alias("id")).distinct(),
                   "id", "left_semi").limit(1).count())
    if hit:
        raise ValueError(
            f"{what}: the batch contains ids with pending tombstones "
            f"at {path} — the appended rows would be masked now and "
            f"deleted at the next compaction. Run compact_index first, "
            f"then re-append")


# --------------------------------------------------------------------
# Torn-append protocol for PURE FILE-ADD appends (round 16).
#
# Every near-dup family's append_to_index only ADDS part files to its
# stores (signatures/buckets, fingerprints, vectors/buckets,
# frames/sizes) — no global aggregate swaps (BM25, whose append also
# refreshes dfreq/stats, carries its own bracketing in retrieval.py).
# That makes one store-AGNOSTIC recovery possible: snapshot the
# artifact's file tree into ``_append_pending.json`` before the first
# write, remove the marker after the last, and roll a torn append back
# by deleting every file (and directory) the snapshot has never seen.
# A torn append otherwise leaves stores silently disagreeing — e.g.
# MinHash signatures committed but bucket keys absent: the doc LOOKS
# indexed yet never matches. Readers refuse a marked store instead.
#
# With ``batchId`` set (the streaming topologies), the marker commits
# by renaming to ``_append_committed_<batchId>.json`` — the replay
# guard that turns foreachBatch's at-least-once delivery into
# exactly-once index growth (a replayed committed batch no-ops).
#
# Cost: one recursive listing per append (the snapshot) — milliseconds
# on a filesystem, one LIST round per ~1000 files on an object store;
# compaction keeps file counts bounded, and correctness of the
# recovery path is worth a LIST.
# --------------------------------------------------------------------

_PENDING_MARKER = "_append_pending.json"


def _snapshot_tree(fs, P, path: str) -> dict:
    """{"files": [...], "dirs": [...]} of every entry under ``path``
    (relative paths, recursive), excluding the append markers
    themselves. The pre-append inventory the rollback diffs against."""
    files, dirs = [], []
    base = fs.makeQualified(P(path)).toString().rstrip("/")

    def rel(st) -> str:
        return st.getPath().toString()[len(base) + 1:]

    def walk(p):
        for st in fs.listStatus(p):
            name = st.getPath().getName()
            if name.startswith("_append_"):
                continue
            if st.isFile():
                files.append(rel(st))
            else:
                dirs.append(rel(st))
                walk(st.getPath())

    walk(P(path))
    return {"files": sorted(files), "dirs": sorted(dirs)}


def _begin_file_append(spark, path: str, batchId: int | None = None,
                       bootstrap: bool = False) -> None:
    """Write the pending marker (tree snapshot + batch identity)
    BEFORE the append's first write. ``bootstrap=True`` marks a
    first-batch save instead: its rollback deletes the half-written
    artifact wholesale (the replayed batch re-bootstraps)."""
    import json as _json

    from mmlspark_spark.llm.export import _fs_write_text

    fs, P = _hadoop_fs(spark, path)
    snap = (None if bootstrap or not fs.exists(P(path))
            else _snapshot_tree(fs, P, path))
    _fs_write_text(
        spark, f"{path}/{_PENDING_MARKER}",
        _json.dumps({"batch_id": batchId, "bootstrap": bootstrap,
                     "tree": snap, "version": 1}))


def _commit_file_append(spark, path: str,
                        batchId: int | None = None) -> None:
    """Remove the pending marker (ad-hoc append) or atomically rename
    it to the batch's committed marker (streaming replay guard),
    pruning superseded committed markers."""
    fs, P = _hadoop_fs(spark, path)
    pending = P(f"{path}/{_PENDING_MARKER}")
    if batchId is None:
        fs.delete(pending, False)
        return
    name = f"_append_committed_{batchId}.json"
    fs.delete(P(f"{path}/{name}"), False)
    if not fs.rename(pending, P(f"{path}/{name}")):
        raise IOError(
            f"could not commit append marker for batch {batchId} at "
            f"{path}")
    for st in fs.listStatus(P(path)):
        n = st.getPath().getName()
        if n.startswith("_append_committed_") and n != name:
            fs.delete(st.getPath(), False)


def _write_committed_marker(spark, path: str, batchId: int) -> None:
    """Directly stamp a batch's committed replay-guard marker (for
    families whose append carries its OWN crash protocol — the exact
    registry's bloom-first ordering — and therefore never writes a
    pending marker to rename)."""
    import json as _json

    from mmlspark_spark.llm.export import _fs_write_text

    name = f"_append_committed_{batchId}.json"
    _fs_write_text(spark, f"{path}/{name}",
                   _json.dumps({"batch_id": batchId, "version": 1}))
    fs, P = _hadoop_fs(spark, path)
    for st in fs.listStatus(P(path)):
        n = st.getPath().getName()
        if n.startswith("_append_committed_") and n != name:
            fs.delete(st.getPath(), False)


def _file_append_committed(spark, path: str, batchId: int) -> bool:
    fs, P = _hadoop_fs(spark, path)
    return fs.exists(P(f"{path}/_append_committed_{batchId}.json"))


def _refuse_torn_file_append(spark, path: str, what: str) -> None:
    """Refuse any read/mutate of an artifact whose last append tore
    (the pending marker survives a crash mid-append, when the stores
    may silently disagree — e.g. signatures without bucket keys)."""
    fs, P = _hadoop_fs(spark, path)
    if fs.exists(P(f"{path}/{_PENDING_MARKER}")):
        raise ValueError(
            f"{what}: index at {path} has a torn append (a crash "
            f"landed between its store writes, so the stores may "
            f"silently disagree) — run repair_file_append(spark, "
            f"path) to roll the artifact back to the pre-append "
            f"state bit-exactly, then re-append the batch, or "
            f"rebuild with save_index")


def _clear_append_markers(spark, path: str) -> None:
    """Drop stale COMMITTED replay-guard markers (an overwrite save
    starts the artifact's history over). Never touches a pending
    marker — that may be the caller's own bootstrap bracket."""
    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        return
    for st in fs.listStatus(P(path)):
        if st.getPath().getName().startswith("_append_committed_"):
            fs.delete(st.getPath(), False)


def _refuse_save_over_torn_append(spark, path: str, what: str) -> None:
    """An overwrite save on top of a torn APPEND must repair first:
    the save's own overwrite replaces store directories wholesale, so
    a later ``repair_file_append`` (whose snapshot predates the save)
    would gut the fresh artifact. A pending BOOTSTRAP marker passes —
    it is the streaming wrapper's bracket around THIS save."""
    import json as _json

    from mmlspark_spark.llm.export import _fs_read_text

    fs, P = _hadoop_fs(spark, path)
    pend = f"{path}/{_PENDING_MARKER}"
    if not fs.exists(P(pend)):
        return
    if _json.loads(_fs_read_text(spark, pend)).get("bootstrap"):
        return
    raise ValueError(
        f"{what}: index at {path} has a torn append — run "
        f"repair_file_append(spark, path) (BM25: repair_index) to "
        f"roll it back bit-exactly BEFORE re-saving; saving over the "
        f"torn state would leave a marker that later repairs would "
        f"misread against the fresh artifact")


def repair_file_append(spark, path: str) -> dict:
    """Roll a TORN pure-file-add append back to the pre-append
    artifact, bit-exactly: delete every file and directory the
    marker's tree snapshot has never seen (append only ever ADDS
    files, so the diff IS the torn batch plus any ``_temporary``
    litter a killed write job left). A torn BOOTSTRAP instead deletes
    the half-written artifact wholesale. Idempotent until it succeeds
    (the marker is removed LAST). Returns
    ``{"repaired", "files_removed", "batch_id"}``."""
    import json as _json

    from mmlspark_spark.llm.export import _fs_read_text

    fs, P = _hadoop_fs(spark, path)
    pending = f"{path}/{_PENDING_MARKER}"
    if not fs.exists(P(pending)):
        return {"repaired": False, "files_removed": 0,
                "batch_id": None}
    marker = _json.loads(_fs_read_text(spark, pending))
    removed = 0
    if marker.get("bootstrap") or marker.get("tree") is None:
        for st in fs.listStatus(P(path)):
            if st.getPath().getName().startswith("_append_"):
                continue
            fs.delete(st.getPath(), True)
            removed += 1
    else:
        snap = marker["tree"]
        keep_files = set(snap["files"])
        keep_dirs = set(snap["dirs"])
        current = _snapshot_tree(fs, P, path)
        # alien directories (a store the torn append created, or
        # _temporary litter inside an existing store) go wholesale —
        # safe because a kept entry's parent chain is always kept
        # (a pre-existing file cannot live inside a dir that did not
        # exist), so an alien dir can only hold alien content; the
        # nested-kept guard stays as a belt against a hand-edited
        # marker
        for d in current["dirs"]:
            if d in keep_dirs:
                continue
            if any(kd.startswith(f"{d}/") for kd in keep_dirs) or \
                    any(kf.startswith(f"{d}/") for kf in keep_files):
                continue
            if fs.delete(P(f"{path}/{d}"), True):
                removed += 1
        for f in current["files"]:
            if f not in keep_files:
                if fs.delete(P(f"{path}/{f}"), False):
                    removed += 1
    fs.delete(P(pending), False)
    return {"repaired": True, "files_removed": removed,
            "batch_id": marker.get("batch_id")}


def _stage_flat_store(keep: DataFrame, store_path: str) -> None:
    """The WRITE half of :func:`_replace_flat_store`: materialize
    ``keep`` into ``<store>__staging`` without touching the live
    store. Staging writes for several stores are side-effect-free on
    the artifact, so a multi-store compaction can run them as
    CONCURRENT jobs (guide §2.6 — later jobs back-fill the tail of
    earlier ones) while :func:`_swap_flat_store` publishes them in
    the crash-ordering the store contract pins. A crash anywhere in
    staging leaves every live store byte-untouched; stale staging
    directories are deleted on the next attempt."""
    spark = keep.sparkSession
    staging, old = f"{store_path}__staging", f"{store_path}__old"
    fs, P = _hadoop_fs(spark, store_path)
    # stale leftovers from an earlier crash must not poison the swap
    fs.delete(P(staging), True)
    fs.delete(P(old), True)
    keep.write.mode("overwrite").parquet(staging)


def _swap_flat_store(spark, store_path: str) -> None:
    """The RENAME half of :func:`_replace_flat_store`: the old
    directory is moved aside, the staged copy renamed into place, and
    only then is the old copy deleted. A crash before the first
    rename keeps the old store untouched; between the renames, the
    complete staging copy is on disk; after, only the delete of the
    obsolete copy remains."""
    staging, old = f"{store_path}__staging", f"{store_path}__old"
    fs, P = _hadoop_fs(spark, store_path)
    if not fs.rename(P(store_path), P(old)):
        raise IOError(f"could not stage out {store_path}")
    if not fs.rename(P(staging), P(store_path)):
        # roll back: put the old store back so the index stays live
        fs.rename(P(old), P(store_path))
        raise IOError(f"could not swap {staging} into {store_path}")
    fs.delete(P(old), True)


def _replace_flat_store(keep: DataFrame, store_path: str) -> None:
    """Rewrite a flat (non-partitioned) parquet store with ``keep``
    via staging + rename swap, so no failure point leaves the store's
    ONLY copy half-written — :func:`_stage_flat_store` followed
    immediately by :func:`_swap_flat_store`."""
    _stage_flat_store(keep, store_path)
    _swap_flat_store(keep.sparkSession, store_path)


def _compact_partitioned_store(spark, store_path: str, ts: DataFrame,
                               idCol: str, partCol: str,
                               sortCols: tuple) -> int:
    """Shared compaction for PARTITION-directory stores (layout
    ``{store_path}/{partCol}=<v>/`` — the IVF/IVFPQ cell stores and
    the exact-dedup hash-prefix store): rewrite ONLY the partition
    directories that hold a tombstoned ``idCol`` row (dynamic
    partition overwrite — untouched partitions keep their files
    byte-for-byte), DELETE the directories whose every row was
    tombstoned (the dynamic writer never emits a partition with zero
    surviving rows, so leaving them would resurrect the deleted ids
    the moment the tombstone set clears). Tombstones are NOT cleared
    here — callers clear them after any dependent sidecar (bloom
    bitsets, stats rows) is rebuilt. Returns the number of affected
    partitions."""
    dead = ts.withColumnRenamed("id", idCol)
    store = _read_store(spark, store_path)
    affected = [r[0] for r in store.join(dead, idCol, "left_semi")
                .select(partCol).distinct().collect()]
    if not affected:
        return 0
    # localCheckpoint cuts lineage so the write does not overwrite
    # a path its own plan is reading from; the materialized frame
    # is only the affected partitions' surviving rows
    keep = (store.filter(F.col(partCol).isin(affected))
            .join(dead, idCol, "left_anti").localCheckpoint())
    survivors = {r[0] for r in
                 keep.select(partCol).distinct().collect()}
    mode_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(mode_key, None)
    spark.conf.set(mode_key, "dynamic")
    try:
        if survivors:
            (keep.repartition(F.col(partCol))
             .sortWithinPartitions(*sortCols)
             .write.mode("overwrite").partitionBy(partCol)
             .parquet(store_path))
    finally:
        # conf.get(key, None) returns None when the key was never
        # set — restoring via set(key, None) would poison every
        # later mode="overwrite" partitionBy write in the session
        # (only matching partitions replaced → stale partitions
        # mixed into rebuilt indexes); unset restores Spark's
        # static default
        if prev is None:
            spark.conf.unset(mode_key)
        else:
            spark.conf.set(mode_key, prev)
    fs, P = _hadoop_fs(spark, store_path)
    for c in affected:
        if c not in survivors:
            fs.delete(P(f"{store_path}/{partCol}={c}"), True)
    remaining = [s for s in fs.listStatus(P(store_path))
                 if s.isDirectory()
                 and s.getPath().getName().startswith(f"{partCol}=")]
    if not remaining:
        # every partition died (an all-tombstoned store): the dynamic
        # writer never emits an empty partition and the dead-directory
        # sweep above just removed the last one, so without a keeper
        # the NEXT read of the store (load_index, a sidecar rebuild,
        # index_info's scan fallback) fails parquet schema inference
        # on an empty directory — rows gone but the artifact
        # unloadable. One zero-row schema-only file inside a single
        # partition directory keeps the layout readable and
        # append-compatible (createDataFrame([]) writes include the
        # schema footer; later appends add sibling files/directories).
        data_schema = T.StructType(
            [f for f in store.schema.fields if f.name != partCol])
        (spark.createDataFrame([], data_schema)
         .write.mode("overwrite").parquet(f"{store_path}/{partCol}=0"))
    return len(affected)


def _visible_files(fs, P, dir_path: str):
    """(name, FileStatus) of every file under ``dir_path`` that
    Spark's reader would see, by its hidden-path rule
    (``HadoopFSUtils.shouldFilterOutPathName``): names that start with
    ``.``, end in ``._COPYING_``, or start with ``_`` without holding
    ``=`` are skipped and never descended into — so ``_SUCCESS`` and a
    killed write's ``_temporary/`` are invisible while the IVF
    ``__cell=N`` partition directories are data."""
    for st in fs.listStatus(P(dir_path)):
        name = st.getPath().getName()
        if (name.startswith(".") or name.endswith("._COPYING_")
                or (name.startswith("_") and "=" not in name)):
            continue
        if st.isDirectory():
            yield from _visible_files(fs, P, st.getPath().toString())
        else:
            yield name, st


def _parquet_row_count(spark, dir_path: str) -> int:
    """Row count of a parquet store from FOOTER metadata only —
    recursive file listing + one footer read per file, O(files), no
    data row group touched, no Spark job. This is what makes a fleet
    sweep over hundreds of 100 TB artifacts affordable: the old
    ``spark.read.parquet(...).count()`` paid a full scan per store
    (row-group metadata pruning still schedules the files), while
    footers are a few KB each. Works on partitioned stores (the IVF
    ``__cell=N`` layout) because the listing recurses, and counts
    exactly the files a Spark read would scan (never a killed write's
    ``_temporary/`` litter)."""
    open_ = _jvm_attr(spark._jvm,
                      "org.apache.parquet.hadoop.ParquetFileReader.open")
    from_status = _jvm_attr(
        spark._jvm,
        "org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus")
    fs, P = _hadoop_fs(spark, dir_path)
    conf = spark._jsc.hadoopConfiguration()
    total = 0
    for name, st in _visible_files(fs, P, dir_path):
        if not name.endswith(".parquet"):
            continue
        rd = open_(from_status(st, conf))
        try:
            total += rd.getRecordCount()
        finally:
            rd.close()
    return total


# The footer key under which Spark's parquet writer stamps the Catalyst
# schema of the rows it wrote (ParquetReadSupport.SPARK_METADATA_KEY).
# Schema inference reads this same key from one footer, so handing it
# back to the reader yields the schema inference would have found.
_SPARK_ROW_METADATA = "org.apache.spark.sql.parquet.row.metadata"


def _read_store(spark, path: str) -> DataFrame:
    """Read a parquet store the engine wrote, with the schema stamped
    in its own footer. A schema-less ``spark.read.parquet`` infers the
    schema with a one-task Spark job (``mergeSchemasInParallel``) that
    reads that very footer key — a job on every load, append, compact
    and search. Here one listing glob and one footer read happen on
    the driver instead: no job, 25 py4j round trips with the read.

    The footer is the first ``part-*`` file by path, directly under
    ``path`` or one partition level down under Spark's hidden-path
    rule (``__cell=N`` counts, ``_temporary`` does not); the reader
    still discovers partition columns from the directory names. A
    missing, empty or foreign directory — no data file carrying the
    key — falls back to the plain read, so its errors stay the ones
    Spark always raised."""
    conf = spark._jsc.hadoopConfiguration()
    P = _jvm_attr(spark._jvm, "org.apache.hadoop.fs.Path")
    # Hadoop sorts glob results by path, as Spark sorts the files it
    # takes the footer from; empty (or None) when nothing matches
    found = (P(path).getFileSystem(conf)
             .globStatus(P(f"{path}/{{part-*,{{[!._]*,_*=*}}/part-*}}")))
    if not found:
        return spark.read.parquet(path)
    try:
        read_footer = _jvm_attr(
            spark._jvm,
            "org.apache.parquet.hadoop.ParquetFileReader.readFooter")
        meta = (read_footer(conf, found[0]).getFileMetaData()
                .getKeyValueMetaData().get(_SPARK_ROW_METADATA))
        schema = T._parse_datatype_json_string(meta)
    except Exception:
        # unreadable footer or no Spark schema key: not an engine
        # store, so the reader's own inference (and error) decides
        return spark.read.parquet(path)
    return spark.read.schema(schema).parquet(path)


_MANIFEST_NAMES = (
    "_minhash_manifest.json", "_fp_index_manifest.json",
    "_emb_index_manifest.json", "_video_index_manifest.json",
    "_bm25_manifest.json", "_ivf_manifest.json", "_pq_manifest.json",
    "_sq_manifest.json", "_ivfpq_manifest.json", "_lsh_manifest.json",
    "_exact_manifest.json",
)


def index_info(spark, path: str) -> dict:
    """Describe ANY stored index artifact at ``path`` — the ops
    surface for a fleet of indexes: which family/manifest built it,
    what stores it carries and how many rows each holds, and how many
    tombstones are pending (i.e. whether a compaction is due). Works
    uniformly across every family because they all share the same
    layout grammar: one ``_*manifest.json``, store subdirectories of
    parquet, an optional ``tombstones`` set.

    Returns ``{"path", "manifest_file", "manifest", "stores":
    {name: row_count}, "pending_tombstones": int}``. Raises if no
    known manifest is present (not an index artifact — a typo'd path
    must not report an empty healthy index).
    """
    import json as _json

    from mmlspark_spark.llm.export import _fs_read_text

    fs, P = _hadoop_fs(spark, path)
    if not fs.exists(P(path)):
        raise ValueError(f"no index artifact at {path}")
    manifest = manifest_file = None
    for name in _MANIFEST_NAMES:
        if fs.exists(P(f"{path}/{name}")):
            manifest_file = name
            manifest = _json.loads(_fs_read_text(spark,
                                                 f"{path}/{name}"))
            break
    if manifest is None:
        raise ValueError(
            f"{path} has no recognized index manifest "
            f"({', '.join(_MANIFEST_NAMES)}) — not an index artifact")
    stores: dict[str, int] = {}
    for st in fs.listStatus(P(path)):
        name = st.getPath().getName()
        if not st.isDirectory() or name == "tombstones" \
                or name.endswith(("__staging", "__old")):
            continue
        try:
            # footer metadata only — a fleet sweep over hundreds of
            # artifacts must stay O(files), never O(rows); the scan
            # fallback covers stores parquet-hadoop cannot open that
            # Spark's reader still can
            stores[name] = _parquet_row_count(spark, f"{path}/{name}")
        except Exception:
            try:
                stores[name] = _read_store(
                    spark, f"{path}/{name}").count()
            except Exception:
                # unreadable store — surfaced, not hidden
                stores[name] = -1
    ts = _read_tombstones(spark, path)
    return {"path": path, "manifest_file": manifest_file,
            "manifest": manifest, "stores": stores,
            # distinct HERE (the stored set may hold repeated deletes
            # of one id; the join lanes don't care, a count does)
            "pending_tombstones":
                0 if ts is None else ts.distinct().count()}


def _discover_artifacts(spark, root: str, maxDepth: int) -> list[str]:
    """Walk ``root`` for stored-index artifacts: a directory holding
    a recognized manifest IS an artifact (no descent below it — store
    subdirectories are not artifacts); anything else descends up to
    ``maxDepth``. One listStatus per directory, manifest membership
    checked against the listing (never N exists() round-trips)."""
    fs, P = _hadoop_fs(spark, root)
    found: list[str] = []

    def walk(p: str, depth: int) -> None:
        entries = list(fs.listStatus(P(p)))
        names = {e.getPath().getName() for e in entries}
        if any(m in names for m in _MANIFEST_NAMES):
            found.append(p)
            return
        if depth >= maxDepth:
            return
        for e in entries:
            if e.isDirectory():
                walk(str(e.getPath()), depth + 1)

    if fs.exists(P(root)):
        walk(root, 0)
    return sorted(found)


def _compactor_for(manifest_file: str, manifest: dict):
    """The family compaction entry point for a manifest —
    ``f(spark, path) -> int`` (rows removed; affected cells for the
    cell-partitioned IVF family, per its own contract)."""
    if manifest_file == "_minhash_manifest.json":
        from mmlspark_spark.llm.dedup import MinHashLSHDeduplicator

        return MinHashLSHDeduplicator().compact_index
    if manifest_file == "_fp_index_manifest.json":
        from mmlspark_spark.llm import dedup, multimodal_dedup

        fam = manifest.get("family", "SimHashDeduplicator")
        cls = getattr(dedup, fam, None) \
            or getattr(multimodal_dedup, fam, None) \
            or dedup.SimHashDeduplicator
        return cls().compact_index
    if manifest_file == "_emb_index_manifest.json":
        from mmlspark_spark.llm.dedup import EmbeddingDeduplicator

        return EmbeddingDeduplicator(method="lsh").compact_index
    if manifest_file == "_video_index_manifest.json":
        from mmlspark_spark.llm.multimodal_dedup import (
            VideoDHashDeduplicator,
        )

        return VideoDHashDeduplicator().compact_index
    if manifest_file == "_exact_manifest.json":
        from mmlspark_spark.llm.dedup import IncrementalDeduplicator

        # compact_index reads bloom geometry from the manifest itself,
        # so a default-constructed instance is correct here
        return IncrementalDeduplicator().compact_index
    if manifest_file == "_bm25_manifest.json":
        from mmlspark_spark.llm.retrieval import BM25Retriever

        # pass the stored maxDfRatio through so the refusal (exact
        # compaction is impossible on a pruned index) comes from
        # compact_index's own check, with its rebuild pointer
        return BM25Retriever(
            maxDfRatio=manifest.get("maxDfRatio")).compact_index
    from mmlspark_spark.llm import similarity as S

    if manifest_file == "_ivf_manifest.json":
        return S.IVFKNN().compact_index
    if manifest_file == "_pq_manifest.json":
        return S.PQKNN().compact_index
    if manifest_file == "_ivfpq_manifest.json":
        return S.PQKNN().compact_ivfpq_index
    if manifest_file == "_sq_manifest.json":
        return S.ScalarQuantizerKNN().compact_index
    if manifest_file == "_lsh_manifest.json":
        return S.LSHKNN().compact_index
    raise ValueError(f"no compactor for {manifest_file}")


def compact_all(spark, root: str, minPendingTombstones: int = 1,
                maxDepth: int = 3) -> list[dict]:
    """Fleet compaction sweep: discover every stored-index artifact
    under ``root`` (any family — the :func:`index_info` layout
    grammar), compact those whose pending tombstone count has
    reached ``minPendingTombstones``, and report per artifact. The
    nightly takedown-hygiene job in one call: deletes accumulate as
    metadata all day; the sweep pays the rewrites once, only where
    the mask has actually grown.

    Returns one dict per artifact: ``{"path", "manifest_file",
    "pending_tombstones", "action"}`` where ``action`` is
    ``"skipped"`` (below threshold), ``"compacted"`` (plus
    ``"removed"`` — rows, or affected cells for the IVF family —
    and ``"reclaimed_bytes"``, which can be slightly negative when
    parquet re-encoding outweighs the removed rows), or ``"error"``
    (plus ``"error"`` text — e.g. BM25's maxDfRatio artifacts refuse
    exact compaction by design; the sweep reports and moves on, one
    bad artifact never aborts the fleet)."""
    reports: list[dict] = []
    fs, P = _hadoop_fs(spark, root)
    for path in _discover_artifacts(spark, root, maxDepth):
        info = index_info(spark, path)
        rep = {"path": path, "manifest_file": info["manifest_file"],
               "pending_tombstones": info["pending_tombstones"]}
        if info["pending_tombstones"] < minPendingTombstones:
            rep["action"] = "skipped"
        else:
            before = fs.getContentSummary(P(path)).getLength()
            try:
                rep["removed"] = _compactor_for(
                    info["manifest_file"], info["manifest"])(spark,
                                                             path)
                rep["action"] = "compacted"
                rep["reclaimed_bytes"] = int(
                    before - fs.getContentSummary(P(path)).getLength())
            except Exception as e:
                rep["action"] = "error"
                rep["error"] = str(e)
        reports.append(rep)
    return reports
