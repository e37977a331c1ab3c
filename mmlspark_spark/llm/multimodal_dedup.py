"""Perceptual-hash near-duplicate detection for images and audio.

The multimodal complement to the text dedup family: exact (byte hash),
MinHash (shingles), SimHash (token votes) and embedding-cosine all key
on CONTENT REPRESENTATIONS; for images the classic cheap key is the
difference hash (dHash — Krawetz, "Kind of Like That", 2013): resize
to a (8 rows × 9 cols) grayscale grid and set bit ``r*8+c`` iff
``g[r][c] > g[r][c+1]``. The 64-bit fingerprint is invariant to
uniform brightness/contrast shifts (only pixel ORDER matters) and
degrades gracefully under recompression — Hamming distance ≤ ~10
means "same picture".

Two fingerprint lanes, mirroring the engine's pattern elsewhere:

- :func:`dhash_expr` — pure Catalyst over an ``array<array<int>>``
  grayscale grid already at 8×9 (the shape a decode/resize stage
  emits): 64 comparisons + a two's-complement bit assembly, the same
  expression technique as :func:`mmlspark_spark.llm.dedup.simhash`.
  Exactly replayable in SQL, so the ``image_dhash_dedup`` catalog
  query verifies the whole pipeline hash-exact.
- :meth:`ImageDHashDeduplicator.fingerprints` on a Spark ImageSchema
  struct column — Arrow-batched numpy: BGR luma (the SAME 0.114 /
  0.587 / 0.299 coefficients as ImageTransformer.gray), bilinear
  resize to 8×9 (the SAME kernel as sources/transforms._resize), then
  the identical bit rule. Image libs are not required: the struct's
  ``data`` bytes are the decoded pixels (PatchedImageFileFormat's
  output), so this is pure numpy.

The audio twin is the Haitsma-Kalker spectral binary fingerprint
(Haitsma & Kalker 2002, "A Highly Robust Audio Fingerprinting
System"): bit ``(t, f)`` is the SIGN of the second-order energy
difference ``(E[t+1][f] − E[t+1][f+1]) − (E[t][f] − E[t][f+1])``
over a time × frequency-band energy grid — invariant to uniform
volume/gain scaling (only energy ORDER matters) and robust to
re-encoding. :class:`AudioFingerprintDeduplicator` packs an 8 × 8
bit matrix from a pooled 9 × 9 grid into one 64-bit key, again with
two lanes: pure Catalyst over a pre-pooled ``array<array<double>>``
grid, and numpy over the AUDIO_SCHEMA struct (PCM → STFT → log-mel
via the same kernels as ``sources.multimodal.Spectrogram`` → time
pooling).

Candidate generation for both modalities reuses
``dedup._hamming_band_pairs`` — banded chunk buckets with the
``maxBucketSize`` hot-bucket cap, upper-triangle pair expansion,
Hamming filter — so the scale shape (fixed-width shuffle keys, no
self-join, bounded bucket blowup) is the one the text family already
proved out at 100 TB geometry.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from mmlspark_spark.core.base import Transformer
from mmlspark_spark.llm.dedup import (
    FingerprintIndexMixin,
    _hamming_band_pairs,
)
from mmlspark_spark.llm.index_common import (
    _add_tombstones,
    _begin_file_append,
    _clear_append_markers,
    _clear_tombstones,
    _commit_file_append,
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

DHASH_H, DHASH_W = 8, 8  # grid is DHASH_H rows × (DHASH_W + 1) cols


def _let(col: Column | str, build) -> Column:
    """Let-bind ``col`` to a lambda variable before building an
    expression that references it many times. The fingerprint
    expressions reference their grid 200+ times (64 bit terms × 4
    cell reads + the validity guard); when the grid is itself a wide
    synthesized expression, Catalyst's CollapseProject re-inlines the
    WHOLE subtree at every reference — observed as a planner
    OutOfMemoryError on an 81-cell xxhash grid. Lambda variables are
    never inlined, so ``transform(array(g), v -> body)[1]`` keeps the
    grid expression in the tree exactly once (the Spark twin of
    duckdb_xxh's list_transform let idiom)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.element_at(F.transform(F.array(c), build), 1)


def _valid_grid(g: Column, rows: int, cols: int) -> Column:
    """True iff ``g`` is a non-NULL array of ≥ ``rows`` rows, each a
    non-NULL array of ≥ ``cols`` cells. The bit expressions index
    g[r][c] with GetArrayItem, which THROWS under ANSI mode (Spark 4
    default) on out-of-bounds — one malformed row must not abort a
    100 TB job, so every grid lane guards with this predicate and
    yields NULL (→ dropped by the fingerprint filter), mirroring the
    struct lanes' skip-corrupt-rows contract."""
    return (g.isNotNull() & (F.size(g) >= rows)
            & ~F.exists(g, lambda row: row.isNull()
                        | (F.size(row) < cols)))


def dhash_sql(gray_sql: str) -> str:
    """SQL text of :func:`dhash_expr` over a grid expression given as
    SQL text. The Column-API assembly of the 64 bit terms costs ~700
    py4j round trips (~1.3 s of pure driver time per build, any data
    size); one parsed string builds the same let-bound CASE/sum tree,
    so every value is bit-identical (full-lane equality pinned in
    tests). ``__g``/``__row`` are the let/validity lambda variables —
    callers nesting this inside their own SQL lambda must pick a
    different outer variable name."""
    terms = []
    for r in range(DHASH_H):
        for c in range(DHASH_W):
            j = r * DHASH_W + c
            p = (1 << j) if j < 63 else -(1 << 63)
            terms.append(f"(CASE WHEN __g[{r}][{c}] > __g[{r}][{c + 1}]"
                         f" THEN CAST('{p}' AS BIGINT)"
                         f" ELSE CAST(0 AS BIGINT) END)")
    valid = (f"__g IS NOT NULL AND size(__g) >= {DHASH_H} AND NOT "
             f"exists(__g, __row -> __row IS NULL OR "
             f"size(__row) < {DHASH_W + 1})")
    body = f"CASE WHEN {valid} THEN ({' + '.join(terms)}) END"
    return f"element_at(transform(array({gray_sql}), __g -> {body}), 1)"


def dhash_expr(gray: Column | str) -> Column:
    """64-bit dHash of an ``array<array<int>)`` grayscale grid already
    sized (8, 9) — pure Catalyst, map-side, shuffle-free at any scale.
    Bit ``r*8+c`` is set iff ``g[r][c] > g[r][c+1]``; assembly sums 64
    disjoint-bit longs (bit 63 as its two's-complement negative), so
    no intermediate exceeds the long range under ANSI mode. NULL or
    undersized grids yield NULL (NOT 0 — a sum of otherwise(0) terms
    would silently fingerprint every bad row to 0, colliding them all
    into one ghost bucket with genuinely-flat images).

    A string column name goes through :func:`dhash_sql` (one parser
    call); a Column falls back to the py4j-per-term builder."""
    if isinstance(gray, str):
        return F.expr(dhash_sql(f"`{gray}`"))

    def build(g):
        terms = []
        for r in range(DHASH_H):
            for c in range(DHASH_W):
                j = r * DHASH_W + c
                p = (1 << j) if j < 63 else -(1 << 63)
                terms.append(
                    F.when(g[r][c] > g[r][c + 1], F.lit(p).cast("long"))
                    .otherwise(F.lit(0).cast("long")))
        out = terms[0]
        for t in terms[1:]:
            out = out + t
        return F.when(_valid_grid(g, DHASH_H, DHASH_W + 1), out)

    return _let(gray, build)


def _dhash_np(gray_8x9: np.ndarray) -> int:
    bits = gray_8x9[:, :-1] > gray_8x9[:, 1:]
    v = 0
    for j, b in enumerate(bits.reshape(-1)):
        if b:
            v |= 1 << j
    return v - (1 << 64) if v >= (1 << 63) else v


class ImageDHashDeduplicator(FingerprintIndexMixin, Transformer):
    """dHash near-duplicate image pairs: fingerprint → banded chunk
    buckets → capped upper-triangle pairs → Hamming filter (the
    recall/cap contracts of :class:`~mmlspark_spark.llm.dedup.
    SimHashDeduplicator` apply unchanged — a candidate is guaranteed
    only when Hamming < ``bands``).

    Recall region: with the defaults (bands=4, maxHammingDistance=6)
    pairs at Hamming ≤ 3 are found with certainty (pigeonhole); pairs
    at Hamming 4–6 are found only if one 16-bit chunk happens to
    match — PARTIAL recall, the deliberate LSH trade. Raise ``bands``
    (e.g. 7, with ≥9-bit chunks) for full recall up to the threshold
    at the cost of more bucket rows.

    ``imageCol`` may be an ImageSchema struct (decoded pixels; numpy
    luma+resize lane) or an ``array<array<int>>`` grayscale grid
    already at 8×9 (pure-Catalyst lane — no Python workers at all).

    transform(df) returns (doc_a, doc_b, hamming).
    """

    def __init__(self, idCol: str = "doc_id", imageCol: str = "image",  # noqa: D107
                 bands: int = 4, maxHammingDistance: int = 6,
                 maxBucketSize: int | None = 1000):
        super().__init__(idCol=idCol, imageCol=imageCol, bands=bands,
                         maxHammingDistance=maxHammingDistance,
                         maxBucketSize=maxBucketSize)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.imageCol)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
            T.StructField("hamming", T.IntegerType(), True),
        ])

    def fingerprints(self, df: DataFrame) -> DataFrame:
        dt = df.schema[self.imageCol].dataType
        if isinstance(dt, T.ArrayType):
            # pre-sized grayscale grid lane: NULL grids (no image to
            # compare) drop, exactly like SimHash's NULL texts — they
            # would otherwise all collide into one ghost bucket
            return (df.select(F.col(self.idCol).alias("__id"),
                              dhash_expr(self.imageCol).alias("__sh"))
                    .filter(F.col("__sh").isNotNull()))
        return self._fingerprints_struct(df)

    def _fingerprints_struct(self, df: DataFrame) -> DataFrame:
        id_col, img_col = self.idCol, self.imageCol
        from mmlspark_spark.sources.transforms import _resize

        def run(it):
            import pandas as pd

            for pdf in it:
                ids, hashes = [], []
                for rid, img in zip(pdf[id_col], pdf[img_col]):
                    if img is None or img["data"] is None:
                        continue
                    h, w, nc = (int(img["height"]), int(img["width"]),
                                int(img["nChannels"]))
                    a = np.frombuffer(img["data"], dtype=np.uint8)
                    if h * w * nc != a.size:
                        continue  # fault-tolerant: skip corrupt rows
                    a = a.reshape(h, w, nc) if nc > 1 else a.reshape(h, w)
                    if a.ndim == 3 and a.shape[2] >= 3:
                        b, g, r = (a[:, :, 0].astype(np.float64),
                                   a[:, :, 1].astype(np.float64),
                                   a[:, :, 2].astype(np.float64))
                        a = np.round(0.114 * b + 0.587 * g
                                     + 0.299 * r).astype(np.uint8)
                    elif a.ndim == 3:
                        a = a[:, :, 0]
                    grid = _resize(a, DHASH_H, DHASH_W + 1)
                    if grid.ndim == 3:
                        grid = grid[:, :, 0]
                    ids.append(rid)
                    hashes.append(_dhash_np(grid.astype(np.int64)))
                yield pd.DataFrame({"__id": ids, "__sh": hashes})

        idt = df.schema[id_col].dataType.simpleString()
        return df.select(id_col, img_col).mapInPandas(
            run, f"__id {idt}, __sh long")

    def _transform(self, df: DataFrame) -> DataFrame:
        return _hamming_band_pairs(
            self.fingerprints(df), self.bands, self.maxHammingDistance,
            self.maxBucketSize, "image_dhash_hot_bucket_drops")


AFP_T, AFP_B = 8, 8  # bit matrix; energy grid is (T+1) × (B+1)


def audio_fp_sql(grid_sql: str) -> str:
    """SQL text of :func:`audio_fingerprint_expr` over a grid given as
    SQL text — one parser call instead of the ~900-call py4j assembly;
    same let-bound CASE/sum tree, bit-identical values."""
    terms = []
    for t in range(AFP_T):
        for f in range(AFP_B):
            j = t * AFP_B + f
            p = (1 << j) if j < 63 else -(1 << 63)
            d = (f"((__g[{t + 1}][{f}] - __g[{t + 1}][{f + 1}]) - "
                 f"(__g[{t}][{f}] - __g[{t}][{f + 1}]))")
            terms.append(f"(CASE WHEN {d} > 0"
                         f" THEN CAST('{p}' AS BIGINT)"
                         f" ELSE CAST(0 AS BIGINT) END)")
    valid = (f"__g IS NOT NULL AND size(__g) >= {AFP_T + 1} AND NOT "
             f"exists(__g, __row -> __row IS NULL OR "
             f"size(__row) < {AFP_B + 1})")
    body = f"CASE WHEN {valid} THEN ({' + '.join(terms)}) END"
    return f"element_at(transform(array({grid_sql}), __g -> {body}), 1)"


def audio_fingerprint_expr(grid: Column | str) -> Column:
    """64-bit Haitsma-Kalker fingerprint of an ``array<array<double>>``
    time × band energy grid already pooled to (9, 9) — pure Catalyst,
    map-side, shuffle-free. Bit ``t*8+f`` is set iff the second-order
    difference ``(E[t+1][f] − E[t+1][f+1]) − (E[t][f] − E[t][f+1])``
    is > 0; assembly sums 64 disjoint-bit longs (bit 63 as its two's-
    complement negative), so no intermediate exceeds the long range
    under ANSI mode. Uniform gain scaling multiplies every difference
    by the same positive factor — signs, and hence the fingerprint,
    are invariant. NULL or undersized grids yield NULL (dropped by
    the fingerprint filter), never 0 — silence legitimately hashes
    to 0, so bad rows must not collide with it.

    A string column name goes through :func:`audio_fp_sql` (one
    parser call); a Column falls back to the py4j-per-term builder."""
    if isinstance(grid, str):
        return F.expr(audio_fp_sql(f"`{grid}`"))

    def build(g):
        terms = []
        for t in range(AFP_T):
            for f in range(AFP_B):
                j = t * AFP_B + f
                p = (1 << j) if j < 63 else -(1 << 63)
                d = ((g[t + 1][f] - g[t + 1][f + 1])
                     - (g[t][f] - g[t][f + 1]))
                terms.append(F.when(d > 0, F.lit(p).cast("long"))
                             .otherwise(F.lit(0).cast("long")))
        out = terms[0]
        for term in terms[1:]:
            out = out + term
        return F.when(_valid_grid(g, AFP_T + 1, AFP_B + 1), out)

    return _let(grid, build)


def _afp_np(energy_9x9: np.ndarray) -> int:
    e = energy_9x9
    bits = ((e[1:, :-1] - e[1:, 1:]) - (e[:-1, :-1] - e[:-1, 1:])) > 0
    v = 0
    for j, b in enumerate(bits.reshape(-1)):
        if b:
            v |= 1 << j
    return v - (1 << 64) if v >= (1 << 63) else v


class AudioFingerprintDeduplicator(FingerprintIndexMixin, Transformer):
    """Near-duplicate audio pairs via the Haitsma-Kalker spectral
    binary fingerprint: fingerprint → banded chunk buckets → capped
    upper-triangle pairs → Hamming filter (recall/cap contracts of
    the SimHash/ImageDHash family apply unchanged; as there, recall
    is certain only below Hamming < ``bands`` — the default
    maxHammingDistance=6 > bands−1 region has partial LSH recall,
    raise ``bands`` for certainty up to the threshold).

    ``audioCol`` may be an AUDIO_SCHEMA struct (decoded PCM; numpy
    STFT → log-mel → time-pooling lane, reusing the Spectrogram
    kernels) or an ``array<array<double>>`` energy grid already
    pooled to 9 × 9 (pure-Catalyst lane — no Python workers). Audio
    too short for 9 analysis frames, corrupt PCM payloads, and NULL
    rows are skipped, not failed (the fault-tolerant decode
    contract).

    transform(df) returns (doc_a, doc_b, hamming).
    """

    def __init__(self, idCol: str = "doc_id", audioCol: str = "audio",  # noqa: D107
                 bands: int = 4, maxHammingDistance: int = 6,
                 maxBucketSize: int | None = 1000,
                 frameSize: int = 256, hopSize: int = 128):
        super().__init__(idCol=idCol, audioCol=audioCol, bands=bands,
                         maxHammingDistance=maxHammingDistance,
                         maxBucketSize=maxBucketSize,
                         frameSize=frameSize, hopSize=hopSize)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.audioCol)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
            T.StructField("hamming", T.IntegerType(), True),
        ])

    def fingerprints(self, df: DataFrame) -> DataFrame:
        dt = df.schema[self.audioCol].dataType
        if isinstance(dt, T.ArrayType):
            return (df.select(F.col(self.idCol).alias("__id"),
                              audio_fingerprint_expr(self.audioCol)
                              .alias("__sh"))
                    .filter(F.col("__sh").isNotNull()))
        return self._fingerprints_struct(df)

    def _fingerprints_struct(self, df: DataFrame) -> DataFrame:
        id_col, audio_col = self.idCol, self.audioCol
        n_fft, hop = self.frameSize, self.hopSize
        from mmlspark_spark.sources.multimodal import (
            _pcm_to_float,
            mel_filterbank,
        )

        def run(it):
            import pandas as pd

            window = np.hanning(n_fft)
            fbs: dict[int, np.ndarray] = {}
            for pdf in it:
                ids, hashes = [], []
                for rid, a in zip(pdf[id_col], pdf[audio_col]):
                    if a is None or a["data"] is None:
                        continue
                    try:
                        ch = int(a["channels"])
                        rate0 = int(a["sampleRate"])
                    except (TypeError, ValueError):
                        continue  # garbage metadata: skip, not fail
                    if ch < 1 or rate0 < 1:
                        continue
                    # torn payload: must hold whole int16 FRAMES —
                    # a stereo blob with an odd sample count passes a
                    # bare %2 check but crashes the channel reshape
                    if len(bytes(a["data"])) % (2 * ch):
                        continue
                    x = _pcm_to_float(a)
                    if len(x) < n_fft + (AFP_T) * hop:
                        continue  # < 9 frames: nothing to fingerprint
                    starts = np.arange(0, len(x) - n_fft + 1, hop)
                    frames = np.stack([x[s:s + n_fft] for s in starts])
                    spec = np.abs(np.fft.rfft(frames * window,
                                              axis=1)) ** 2
                    if rate0 not in fbs:
                        fbs[rate0] = mel_filterbank(AFP_B + 1, n_fft,
                                                    rate0)
                    rate = rate0
                    mel = np.log10(spec @ fbs[rate].T + 1e-10)
                    pooled = np.stack([seg.mean(axis=0) for seg in
                                       np.array_split(mel, AFP_T + 1)])
                    ids.append(rid)
                    hashes.append(_afp_np(pooled))
                yield pd.DataFrame({"__id": ids, "__sh": hashes})

        idt = df.schema[id_col].dataType.simpleString()
        return df.select(id_col, audio_col).mapInPandas(
            run, f"__id {idt}, __sh long")

    def _transform(self, df: DataFrame) -> DataFrame:
        return _hamming_band_pairs(
            self.fingerprints(df), self.bands, self.maxHammingDistance,
            self.maxBucketSize, "audio_fp_hot_bucket_drops")


class VideoDHashDeduplicator(Transformer):
    """Near-duplicate VIDEO pairs: per-frame dHash fingerprints, then
    doc-level CONTAINMENT overlap on the distinct frame-hash sets —
    ``matches / min(|A|, |B|) >= minOverlap``. Containment (not
    Jaccard) is deliberate: a clip cut out of a longer video shares
    all of its own frames but few of the original's, and clipping is
    the dominant real-world video-dup mode.

    ``videoCol`` lanes:

    - ``array<array<array<int>>>`` — per-frame 8×9 grayscale grids
      (a decode/frame-sample stage's output): per-frame
      :func:`dhash_expr` inside a single ``transform`` — pure
      Catalyst, no Python workers;
    - ``array<long>`` — precomputed frame hashes, pass-through;
    - VIDEO_FRAMES_SCHEMA struct — numpy lane over decoded frames
      (same luma/resize/bit kernels as the image lane); corrupt
      frames are skipped, a video with zero decodable frames drops.

    Candidate generation is the engine's shared-key bucket shape
    (ngram_jaccard's): explode DISTINCT frame hashes, bucket by
    hash with a ``maxDocsPerFrameHash`` hot-key cap (a title card or
    black frame shared by half the corpus must not quadratically
    explode — capped buckets are dropped and counted via an observed
    metric), upper-triangle pair expansion, then one groupBy(pair)
    count. Shuffle keys are 8-byte hashes; no self-join, no O(N²).

    transform(df) returns (doc_a, doc_b, matches, overlap).

    ``MATCH_BATCH_COL`` declares the batch-side id column of
    ``match_against_index`` pairs for streaming wrappers.
    """

    MATCH_BATCH_COL = "doc_a"

    def __init__(self, idCol: str = "doc_id", videoCol: str = "video",  # noqa: D107
                 minOverlap: float = 0.5,
                 maxDocsPerFrameHash: int | None = 1000,
                 materialize: bool = True):
        super().__init__(idCol=idCol, videoCol=videoCol,
                         minOverlap=minOverlap,
                         maxDocsPerFrameHash=maxDocsPerFrameHash,
                         materialize=materialize)

    def transform_schema(self, schema: T.StructType) -> T.StructType:
        self._require_cols(schema, self.idCol, self.videoCol)
        id_type = schema[self.idCol].dataType
        return T.StructType([
            T.StructField("doc_a", id_type, True),
            T.StructField("doc_b", id_type, True),
            T.StructField("matches", T.LongType(), True),
            T.StructField("overlap", T.DoubleType(), True),
        ])

    def frame_hashes(self, df: DataFrame) -> DataFrame:
        """(__id, __fh) — one row per DISTINCT frame hash per doc."""
        dt = df.schema[self.videoCol].dataType
        if isinstance(dt, T.ArrayType) and isinstance(
                dt.elementType, T.ArrayType):
            # per-frame dHash as ONE parsed SQL string: the Column-API
            # transform(col, fr -> dhash_expr(fr)) pays the ~700-call
            # py4j build per plan — same tree, same values either way
            hashes = F.expr(f"transform(`{self.videoCol}`, "
                            f"__fr -> {dhash_sql('__fr')})")
        elif isinstance(dt, T.ArrayType):
            hashes = F.col(self.videoCol)  # precomputed longs
        else:
            return self._frame_hashes_struct(df)
        # NULL frame hashes (corrupt/undersized grids, NULL entries in
        # a precomputed array) are dropped BEFORE distinct — they must
        # not become a shared ghost frame linking unrelated videos; a
        # video with zero valid frames drops with the empty explode
        return (df.select(F.col(self.idCol).alias("__id"),
                          F.explode(F.array_distinct(
                              F.filter(hashes,
                                       lambda h: h.isNotNull())))
                          .alias("__fh")))

    def _frame_hashes_struct(self, df: DataFrame) -> DataFrame:
        id_col, vid_col = self.idCol, self.videoCol
        from mmlspark_spark.sources.transforms import _resize

        def run(it):
            import pandas as pd

            for pdf in it:
                ids, hs = [], []
                for rid, vid in zip(pdf[id_col], pdf[vid_col]):
                    if vid is None or vid["frames"] is None:
                        continue
                    seen = set()
                    for img in vid["frames"]:
                        if img is None or img["data"] is None:
                            continue
                        h, w, nc = (int(img["height"]),
                                    int(img["width"]),
                                    int(img["nChannels"]))
                        a = np.frombuffer(img["data"], dtype=np.uint8)
                        if h * w * nc != a.size:
                            continue
                        a = (a.reshape(h, w, nc) if nc > 1
                             else a.reshape(h, w))
                        if a.ndim == 3 and a.shape[2] >= 3:
                            b, g, r = (a[:, :, 0].astype(np.float64),
                                       a[:, :, 1].astype(np.float64),
                                       a[:, :, 2].astype(np.float64))
                            a = np.round(0.114 * b + 0.587 * g
                                         + 0.299 * r).astype(np.uint8)
                        elif a.ndim == 3:
                            a = a[:, :, 0]
                        grid = _resize(a, DHASH_H, DHASH_W + 1)
                        if grid.ndim == 3:
                            grid = grid[:, :, 0]
                        seen.add(_dhash_np(grid.astype(np.int64)))
                    for fh in seen:
                        ids.append(rid)
                        hs.append(fh)
                yield pd.DataFrame({"__id": ids, "__fh": hs})

        idt = df.schema[id_col].dataType.simpleString()
        return df.select(id_col, vid_col).mapInPandas(
            run, f"__id {idt}, __fh long")

    # ------------------------------------------------ index lifecycle
    # The last near-dup family to get the stored-index shape (round
    # 12): MinHash/SimHash/image/audio/embedding all screen a daily
    # batch incrementally; without this, screening a new clip batch
    # re-hashed the stored corpus's frames every time. The artifact is
    # per-frame, not per-doc: ``{path}/frames`` (__id, __fh) — one row
    # per DISTINCT frame hash per doc, 16 bytes each, fh-clustered for
    # the match equi-join — plus ``{path}/sizes`` (__id, __n), the
    # per-doc distinct-frame ledger that makes containment overlap
    # (matches / min(|A|, |B|)) computable against the store without
    # re-aggregating it (the BM25 doclens precedent: the denominator
    # ledger rides with the index).

    def save_index(self, docs: DataFrame, path: str,
                   mode: str = "overwrite") -> None:
        """Persist per-frame dHashes + the per-doc size ledger.
        Reference parity note: the reference engine has no video
        near-dup at all (engine extra); layout follows the engine's
        own MinHash/fingerprint artifacts."""
        import json as _json

        from mmlspark_spark.llm.export import _fs_write_text

        if mode == "append":
            raise ValueError(
                "save_index(mode='append') would rewrite the manifest "
                "without checking the existing artifact — use "
                "append_to_index for incremental growth")
        _refuse_save_over_torn_append(
            docs.sparkSession, path, "VideoDHashDeduplicator.save_index")
        self._write_index_rows(docs, path, mode)
        _fs_write_text(docs.sparkSession,
                       f"{path}/_video_index_manifest.json",
                       _json.dumps({"version": 1,
                                    "family": type(self).__name__}))
        # tombstones clear LAST, once the store + manifest are down:
        # a torn save then leaves the old mask conservatively hiding
        # rows (a retry fixes it) instead of resurrecting taken-down
        # ids — the unsafe failure direction for takedowns
        _clear_tombstones(docs.sparkSession, path)
        _clear_append_markers(docs.sparkSession, path)

    def _write_index_rows(self, docs: DataFrame, path: str,
                          mode: str) -> None:
        """Write frames then derive sizes: the overwrite path reads
        the just-written store back (frame hashing runs ONCE however
        nondeterministic the input); append must size only the new
        rows, so it persists the projection instead (the embedding
        appender's pattern — two writes, one evaluation)."""
        from mmlspark_spark.core.cache import persist_intermediate

        fh = self.frame_hashes(docs)
        cached = None
        if mode == "append":
            fh = persist_intermediate(fh)
            cached = fh
        try:
            (fh.repartition(F.col("__fh"))
             .sortWithinPartitions("__fh")
             .write.mode(mode).parquet(f"{path}/frames"))
            sized = (fh if mode == "append"
                     else _read_store(docs.sparkSession, f"{path}/frames"))
            (sized.groupBy("__id").agg(F.count("*").alias("__n"))
             .write.mode(mode).parquet(f"{path}/sizes"))
        finally:
            if cached is not None:
                cached.unpersist()

    def _check_manifest(self, spark, path: str) -> None:
        import json as _json

        from mmlspark_spark.llm.export import _fs_read_text

        man = _json.loads(_fs_read_text(
            spark, f"{path}/_video_index_manifest.json"))
        fam = man.get("family")
        if fam is not None and fam != type(self).__name__:
            raise ValueError(
                f"video index at {path} was built by {fam}; this is "
                f"a {type(self).__name__}")

    def append_to_index(self, new_docs: DataFrame, path: str,
                        batchId: int | None = None) -> None:
        """Grow the artifact: frame-hash ONLY the new clips and append
        to both stores. Refuses a missing/cross-family artifact, ids
        with a pending tombstone (the appended rows would be masked at
        read time and deleted by the next compaction; compact first,
        then re-append), and a torn prior append (shared file-append
        protocol, index_common.py — a crash between the frames and
        sizes writes would break the containment denominator;
        ``repair_file_append`` rolls back). ``batchId`` commits to
        the streaming replay guard."""
        spark = new_docs.sparkSession
        _refuse_torn_file_append(
            spark, path, "VideoDHashDeduplicator.append_to_index")
        if batchId is not None and _file_append_committed(
                spark, path, batchId):
            return  # replayed micro-batch: already fully committed
        self._check_manifest(spark, path)
        _refuse_tombstoned_append(
            new_docs.select(F.col(self.idCol)), path, self.idCol,
            "VideoDHashDeduplicator.append_to_index")
        _begin_file_append(spark, path, batchId)
        self._write_index_rows(new_docs, path, "append")
        _commit_file_append(spark, path, batchId)

    def load_index(self, spark, path: str) -> dict:
        _refuse_torn_file_append(
            spark, path, "VideoDHashDeduplicator.load_index")
        self._check_manifest(spark, path)
        return {"frames": _read_store(spark, f"{path}/frames"),
                "sizes": _read_store(spark, f"{path}/sizes"),
                "tombstones": _read_tombstones(spark, path)}

    def delete_from_index(self, ids: DataFrame, path: str,
                          idCol: str | None = None) -> None:
        """Tombstone doc ids (takedowns) — metadata-only until
        :meth:`compact_index`; :meth:`match_against_index` masks
        tombstoned docs at read time. Unknown ids are a no-op."""
        _add_tombstones(ids, path, idCol or self.idCol)

    def compact_index(self, spark, path: str) -> int:
        """Physically remove tombstoned docs from both stores and
        clear the tombstone set, through the shared staging+rename
        swap (never a half-written only copy); the frames rewrite
        keeps the fh-clustered layout. Returns docs removed."""
        _refuse_torn_file_append(
            spark, path, "VideoDHashDeduplicator.compact_index")
        ts = _read_tombstones(spark, path)
        if ts is None:
            return 0
        sizes = _read_store(spark, f"{path}/sizes")
        before = _parquet_row_count(spark, f"{path}/sizes")
        keep_f = (_drop_tombstoned(
            _read_store(spark, f"{path}/frames"), ts, "__id")
            .repartition(F.col("__fh")).sortWithinPartitions("__fh"))
        _replace_flat_store(keep_f, f"{path}/frames")
        _replace_flat_store(_drop_tombstoned(sizes, ts, "__id"),
                            f"{path}/sizes")
        _clear_tombstones(spark, path)
        return before - _parquet_row_count(spark, f"{path}/sizes")

    def match_against_index(self, index: dict,
                            new_docs: DataFrame) -> DataFrame:
        """Screen an incoming clip batch against the stored corpus
        WITHOUT re-hashing it: the batch frame-hashes map-side, its
        distinct hashes semi-join the stored frame store down to the
        touched rows, hot frame hashes (a title card or black frame
        shared by more than ``maxDocsPerFrameHash`` STORED docs) are
        capped BEFORE the pair fan-out, then one equi-join + pair
        count. Containment overlap uses the batch's own sizes and
        the stored ledger — the stored corpus is never re-aggregated.
        Tombstoned docs are masked from frames, sizes AND the cap
        count, so matching equals a fresh index over the survivors
        (pinned in tests). Returns (doc_a=batch, doc_b=stored,
        matches, overlap >= minOverlap). Within-batch duplicates stay
        with ``transform`` on the batch (the two compose)."""
        from mmlspark_spark.core.cache import (
            attach_intermediates,
            persist_intermediate,
        )

        nf = self.frame_hashes(new_docs)
        cached = []
        if self.materialize:
            # three consumers: the touched semi-join, the pair join,
            # and the batch size aggregate
            nf = persist_intermediate(nf)
            cached.append(nf)
        stored = _drop_tombstoned(index["frames"],
                                  index.get("tombstones"), "__id")
        touched = stored.join(nf.select("__fh").distinct(), "__fh",
                              "left_semi")
        cap = self.maxDocsPerFrameHash
        if cap is not None:
            ok_fh = (touched.groupBy("__fh")
                     .agg(F.count("*").alias("__c"))
                     .filter(F.col("__c") <= cap).select("__fh"))
            touched = touched.join(ok_fh, "__fh", "left_semi")
        pairs = (nf.select(F.col("__id").alias("doc_a"), "__fh")
                 .join(touched.select(F.col("__id").alias("doc_b"),
                                      "__fh"), "__fh")
                 .filter(F.col("doc_a") != F.col("doc_b"))
                 .groupBy("doc_a", "doc_b")
                 .agg(F.count("*").alias("matches")))
        na = (nf.groupBy("__id").agg(F.count("*").alias("__na"))
              .withColumnRenamed("__id", "doc_a"))
        nb = (_drop_tombstoned(index["sizes"],
                               index.get("tombstones"), "__id")
              .select(F.col("__id").alias("doc_b"),
                      F.col("__n").alias("__nb")))
        out = (pairs.join(na, "doc_a").join(nb, "doc_b")
               .withColumn("overlap",
                           F.col("matches").cast("double")
                           / F.least("__na", "__nb"))
               .filter(F.col("overlap") >= self.minOverlap)
               .select("doc_a", "doc_b", "matches", "overlap"))
        return attach_intermediates(out, *cached)

    def _transform(self, df: DataFrame) -> DataFrame:
        from mmlspark_spark.core.cache import (
            attach_intermediates,
            persist_intermediate,
        )

        # The per-frame fingerprint subtree is map-only (Catalyst
        # lane: 64 comparisons × frames per row) and has THREE
        # consumers (sizes, buckets, the pair stage). One
        # groupBy(__fh) exchange + persist makes it evaluate once —
        # the ngram_jaccard multi-consumer pattern; per-doc sizes
        # derive from the grouped lists, not a second scan.
        per_frame = (self.frame_hashes(df).groupBy("__fh")
                     .agg(F.array_sort(F.collect_set("__id"))
                          .alias("__ids")))
        cached = []
        if self.materialize:
            per_frame = persist_intermediate(per_frame)
            cached.append(per_frame)
        sizes = (per_frame.select(F.explode("__ids").alias("__id"))
                 .groupBy("__id").agg(F.count("*").alias("__n")))
        cap = self.maxDocsPerFrameHash
        if cap is not None:
            buckets = per_frame.observe(
                "video_dhash_hot_frame_drops",
                F.sum(F.when(F.size("__ids") > cap, 1).otherwise(0))
                .alias("dropped_frame_hashes"))
            buckets = buckets.filter((F.size("__ids") <= cap)
                                     & (F.size("__ids") > 1))
        else:
            buckets = per_frame.filter(F.size("__ids") > 1)
        ids = F.col("__ids")
        pair_structs = F.flatten(F.transform(
            ids,
            lambda x, i: F.transform(
                F.slice(ids, i + 2, F.size(ids)),
                lambda y: F.struct(x.alias("doc_a"), y.alias("doc_b")),
            ),
        ))
        pairs = (buckets.select(F.explode(pair_structs).alias("__p"))
                 .groupBy(F.col("__p.doc_a").alias("doc_a"),
                          F.col("__p.doc_b").alias("doc_b"))
                 .agg(F.count("*").alias("matches")))
        na = sizes.select(F.col("__id").alias("doc_a"),
                          F.col("__n").alias("__na"))
        nb = sizes.select(F.col("__id").alias("doc_b"),
                          F.col("__n").alias("__nb"))
        out = (pairs.join(na, "doc_a").join(nb, "doc_b")
               .withColumn("overlap",
                           F.col("matches").cast("double")
                           / F.least("__na", "__nb"))
               .filter(F.col("overlap") >= self.minOverlap)
               .select("doc_a", "doc_b", "matches", "overlap"))
        return attach_intermediates(out, *cached)
