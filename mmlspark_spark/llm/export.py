"""Training-shard export: the last stage of a curation pipeline.

Trainers consume a corpus as N deterministic shards (data-parallel
ranks map to shard sets; resumable jobs re-read a shard by number and
must get the same rows). This module writes that layout from a
DataFrame and proves what it wrote:

- **Deterministic membership.** Shard = ``pmod(xxhash64(id), n)`` — a
  pure column expression, so membership is reproducible across runs,
  partitionings, and cluster sizes, and re-exporting an unchanged
  corpus yields byte-identical shard assignment. (Round-robin or
  ``repartition(n)`` membership depends on task scheduling — a
  re-export would scatter rows differently and break resumability.)
- **One shuffle, parallel writes.** The shard column drives a single
  hash repartition; each shard directory (``shard=<i>/``) is written
  by its own task. ``maxRecordsPerFile`` caps file sizes inside a
  shard for HDFS/object-store-friendly blocks.
- **A manifest is part of the artifact.** ``write_training_shards``
  returns (and persists as ``_manifest.json`` via the Hadoop
  FileSystem API, so remote schemes work) per-shard row counts and
  order-insensitive whole-row checksums computed FROM THE WRITTEN
  FILES, not from the input plan — the manifest attests to what
  landed on disk, every column included. Driver state: O(shards).

At 100 TB this is the standard export shape: the shuffle carries each
row once, no driver bottleneck, and validation (count + checksum per
shard) reads column-pruned parquet.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mmlspark_spark.llm.index_common import (
    _hadoop_fs,
    _jvm_attr,
    _read_store,
)


def _fs_write_text(spark: SparkSession, path: str, content: str) -> None:
    """Write a small text file through the Hadoop FileSystem API —
    works for every scheme Spark can write parquet to (local, HDFS,
    s3a, abfs). A driver-local ``open()`` would succeed for the data
    and then fail for the manifest on any remote path."""
    fs, P = _hadoop_fs(spark, path)
    out = fs.create(P(path), True)
    try:
        out.write(bytearray(content.encode("utf-8")))
    finally:
        out.close()


def _fs_read_text(spark: SparkSession, path: str) -> str:
    fs, P = _hadoop_fs(spark, path)
    stream = fs.open(P(path))
    try:
        return _jvm_attr(spark._jvm,
                         "org.apache.commons.io.IOUtils.toString")(
            stream, "UTF-8")
    finally:
        stream.close()


def _content_checksum(df: DataFrame) -> "F.Column":
    """Order-insensitive checksum over EVERY non-shard column (sorted
    for determinism): an id-only checksum would pass verification on a
    corpus whose text was garbled but whose ids survived."""
    cols = sorted(c for c in df.columns if c != "shard")
    return F.bit_xor(F.xxhash64(F.struct(*cols)))


def shard_assignment(idCol: str, numShards: int):
    """The deterministic shard id expression (exposed so tests and
    downstream readers can recompute membership)."""
    return F.pmod(F.xxhash64(F.col(idCol)), F.lit(numShards)).cast("int")


def write_training_shards(df: DataFrame, path: str, numShards: int,
                          idCol: str, maxRecordsPerFile: int = 0,
                          mode: str = "overwrite",
                          orderSeed: int | None = None) -> dict:
    """Write ``df`` as ``numShards`` hash-sharded parquet directories
    under ``path`` plus a ``_manifest.json``; returns the manifest.

    Manifest: ``{"numShards": n, "totalRows": N, "shards": {"0":
    {"rows": r, "checksum": c}, ...}}`` where checksum is the XOR of
    ``xxhash64(id)`` over the shard's rows as written — order-
    insensitive AND overflow-free (a sum of 64-bit hashes trips ANSI
    mode's long-overflow check).

    ``orderSeed``: also fix the WITHIN-shard row order to a
    deterministic pseudo-random permutation (sort by
    ``xxhash64(seed, id)``) — the "global shuffle" trainers need for
    decorrelated batches, reproducible across re-exports (shuffle
    arrival order, the default, is not). Costs a sort within each
    write task, no extra shuffle. Caveat: the order is deterministic
    per FILE; a shard split across several files (``maxRecordsPerFile``)
    is only read back in a stable order if the reader lists files
    deterministically — keep one file per shard when exact replay
    order matters."""
    keyed = df.withColumn("shard", shard_assignment(idCol, numShards))
    # repartitionByRange, not hash repartition: hashing the shard ids
    # collides ~1/e of them into shared tasks (stragglers writing 2-3
    # directories while others idle); range partitioning on the exact
    # int values gives ~one task per shard directory
    arranged = keyed.repartitionByRange(numShards, "shard")
    if orderSeed is not None:
        # "shard" leads the sort: the dynamic-partition writer REQUIRES
        # its output ordered by the partition columns and inserts its
        # own (unstable) sort when it is not — which would silently
        # discard the seeded permutation. With the requirement already
        # satisfied, no extra sort is inserted and the within-shard
        # hash order survives into the files.
        arranged = arranged.sortWithinPartitions(
            "shard", F.xxhash64(F.lit(orderSeed), F.col(idCol)),
            F.col(idCol))
    writer = arranged.write.mode(mode).partitionBy("shard")
    if maxRecordsPerFile:
        writer = writer.option("maxRecordsPerFile", maxRecordsPerFile)
    writer.parquet(path)

    spark = df.sparkSession
    written = _read_store(spark, path)
    stats = (written.groupBy("shard")
             .agg(F.count("*").alias("rows"),
                  _content_checksum(written).alias("checksum"))
             .collect())
    manifest = {
        "numShards": numShards,
        "totalRows": int(sum(r["rows"] for r in stats)),
        "shards": {str(int(r["shard"])): {
            "rows": int(r["rows"]),
            "checksum": int(r["checksum"])} for r in stats},
    }
    _fs_write_text(spark, f"{path}/_manifest.json",
                   json.dumps(manifest, indent=1, sort_keys=True))
    return manifest


def read_training_shard(spark: SparkSession, path: str,
                        shard: int) -> DataFrame:
    """Read one shard back, partition-pruned: the ``shard=<i>``
    directory filter never touches the other shards' files."""
    return (_read_store(spark, path)
            .filter(F.col("shard") == shard).drop("shard"))


def verify_training_shards(spark: SparkSession, path: str) -> dict:
    """Recompute the manifest from disk and diff against the stored
    one; returns {"ok": bool, "mismatched": [shard, ...]}. The
    checksum covers every column, so verification is content-based —
    no id column is needed (shard membership is re-derivable from
    ``shard_assignment`` if a caller wants to audit placement)."""
    stored = json.loads(_fs_read_text(spark, f"{path}/_manifest.json"))
    written = _read_store(spark, path)
    live = (written.groupBy("shard")
            .agg(F.count("*").alias("rows"),
                 _content_checksum(written).alias("checksum"))
            .collect())
    seen = {str(int(r["shard"])): (int(r["rows"]), int(r["checksum"]))
            for r in live}
    bad = sorted(
        s for s in set(stored["shards"]) | set(seen)
        if (stored["shards"].get(s, {}).get("rows"),
            stored["shards"].get(s, {}).get("checksum"))
        != seen.get(s, (None, None)))
    return {"ok": not bad, "mismatched": bad}
