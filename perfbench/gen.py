"""Seeded synthetic inputs for the benchmark.

Writes the tables the benchmarked lanes read, with the same names,
columns and types as the engine's test corpora (one parquet file per
table), so the catalog lanes and their DuckDB oracles run on them
unchanged. Everything is drawn from ``numpy.random.default_rng(seed)``:
the same seed and scale give byte-identical tables.

Run alone to inspect a corpus::

    python3 perfbench/gen.py --seed 1 --dst /path/to/dir
"""

from __future__ import annotations

import argparse
import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# Row counts per scale. "bench" keeps every lane overhead-bound (the
# regime the analytics workload targets); "smoke" and "tiny" are the
# quick shapes the self-tests use.
SCALES = {
    "bench": {"orders": 3000, "customers": 300, "parts": 400,
              "users": 120, "events": 6000, "documents": 1200,
              "embeddings": 1200},
    "smoke": {"orders": 600, "customers": 60, "parts": 220,
              "users": 30, "events": 1200, "documents": 300,
              "embeddings": 300},
    "tiny": {"orders": 100, "customers": 20, "parts": 220,
             "users": 10, "events": 200, "documents": 80,
             "embeddings": 100},
}

WORDS = ("join hash row batch scan column customer filter small slow "
         "merge order vector line table data agg value key stream "
         "window a spark part group big sort query fast the").split()
PART_ADJ = "small red blue hot old large cold new".split()
PART_NOUN = "widget bolt gear gizmo ring plate".split()
PART_TYPES = "ECONOMY SMALL MEDIUM PROMO STANDARD LARGE".split()
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
              "5-LOW"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "zh", "es", "de", "fr"]
DIM = 64
CLIP_FRAMES = 8
REELS = 25


def _us(y: int, m: int, d: int) -> int:
    return int((dt.datetime(y, m, d) - dt.datetime(1970, 1, 1))
               .total_seconds() * 1_000_000)


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us.astype("int64"), type=pa.timestamp("us"))


def _round2(x: np.ndarray) -> np.ndarray:
    return np.round(x, 2)


def make_text(rng: np.random.Generator, n_words: int) -> str:
    return " ".join(WORDS[i] for i in rng.integers(0, len(WORDS),
                                                   n_words))


def documents(rng: np.random.Generator, n: int) -> pa.Table:
    """Random-word documents with ~8% planted near-duplicates (a copy
    of an earlier document with a few words replaced and a ``dup``
    marker), so the dedup lanes find candidate pairs."""
    texts: list[str] = []
    for i in range(n):
        if i > 20 and rng.random() < 0.08:
            src = texts[int(rng.integers(0, i))].split()
            for _ in range(max(1, len(src) // 25)):
                src[int(rng.integers(0, len(src)))] = \
                    WORDS[int(rng.integers(0, len(WORDS)))]
            texts.append(" ".join(src + ["dup"]))
        else:
            texts.append(make_text(rng, int(rng.integers(10, 100))))
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "text": pa.array(texts, pa.string()),
        "lang": pa.array([LANGS[i] for i in
                          rng.integers(0, len(LANGS), n)], pa.string()),
        "source": pa.array([f"src{i}" for i in rng.integers(0, 20, n)],
                           pa.string()),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })


def embeddings(rng: np.random.Generator, n: int) -> pa.Table:
    """Unit vectors around ten label centroids (clustered, like real
    embedding corpora, so IVF cells and LSH buckets are uneven)."""
    centers = rng.standard_normal((10, DIM))
    labels = rng.integers(0, 10, n)
    x = centers[labels] * 0.6 + rng.standard_normal((n, DIM))
    x /= np.linalg.norm(x, axis=1, keepdims=True)
    vecs = pa.array(list(x.astype(np.float32)), pa.list_(pa.float32()))
    return pa.table({
        "vec_id": pa.array(np.arange(n), pa.int64()),
        "embedding": vecs,
        "label": pa.array(labels.astype(np.int32), pa.int32()),
    })


def clips(rng: np.random.Generator, n: int) -> pa.Table:
    """Video clips as precomputed per-frame dHashes (the video
    deduplicator's ``array<long>`` input): clip ``i`` is eight
    consecutive frames of one of 25 seeded reels at a seeded offset, so
    clips cut from nearby stretches of a reel are near-duplicates."""
    reel_len = n // REELS + 2 * CLIP_FRAMES
    reels = rng.integers(0, 2**62, (REELS, reel_len), dtype=np.int64)
    reel = rng.integers(0, REELS, n)
    start = rng.integers(0, reel_len - CLIP_FRAMES + 1, n)
    return pa.table({
        "doc_id": pa.array(np.arange(n), pa.int64()),
        "clip": pa.array([reels[r, v:v + CLIP_FRAMES].tolist()
                          for r, v in zip(reel, start)],
                         pa.list_(pa.int64())),
    })


def relational(rng: np.random.Generator, sc: dict) -> dict[str, pa.Table]:
    n_o, n_p = sc["orders"], sc["parts"]
    o_key = np.arange(n_o, dtype=np.int64)
    o_date = rng.integers(_us(1995, 1, 1), _us(2001, 8, 2), n_o)
    o_date -= o_date % 86_400_000_000
    orders = pa.table({
        "o_orderkey": pa.array(o_key, pa.int64()),
        "o_custkey": pa.array(rng.integers(0, sc["customers"], n_o),
                              pa.int64()),
        "o_orderstatus": pa.array([("F", "O", "P")[i] for i in
                                   rng.integers(0, 3, n_o)], pa.string()),
        "o_totalprice": pa.array(_round2(rng.uniform(900, 500_000, n_o))),
        "o_orderdate": _ts(o_date),
        "o_orderpriority": pa.array([PRIORITIES[i] for i in
                                     rng.integers(0, 5, n_o)],
                                    pa.string()),
    })
    lines = rng.integers(1, 8, n_o)
    l_order = np.repeat(o_key, lines)
    l_num = np.concatenate([np.arange(1, k + 1) for k in lines])
    n_l = len(l_order)
    ship = (np.repeat(o_date, lines)
            + rng.integers(1, 122, n_l) * 86_400_000_000)
    qty = rng.integers(1, 51, n_l).astype(np.float64)
    lineitem = pa.table({
        "l_orderkey": pa.array(l_order, pa.int64()),
        "l_partkey": pa.array(rng.integers(0, n_p, n_l), pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, 100, n_l), pa.int64()),
        "l_linenumber": pa.array(l_num.astype(np.int32), pa.int32()),
        "l_quantity": pa.array(qty),
        "l_extendedprice": pa.array(_round2(qty * rng.uniform(900, 2100,
                                                              n_l))),
        "l_discount": pa.array(rng.integers(0, 11, n_l) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_l) / 100.0),
        "l_returnflag": pa.array([("R", "A", "N")[i] for i in
                                  rng.integers(0, 3, n_l)], pa.string()),
        "l_linestatus": pa.array([("O", "F")[i] for i in
                                  rng.integers(0, 2, n_l)], pa.string()),
        "l_shipdate": _ts(ship),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(n_p, dtype=np.int64), pa.int64()),
        "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in
                            zip(rng.integers(0, len(PART_ADJ), n_p),
                                rng.integers(0, len(PART_NOUN), n_p))],
                           pa.string()),
        "p_brand": pa.array([f"Brand#{i}" for i in
                             rng.integers(1, 26, n_p)], pa.string()),
        "p_type": pa.array([PART_TYPES[i] for i in
                            rng.integers(0, len(PART_TYPES), n_p)],
                           pa.string()),
        "p_size": pa.array(rng.integers(1, 51, n_p).astype(np.int32),
                           pa.int32()),
        "p_retailprice": pa.array(_round2(900 + np.arange(n_p) * 0.1)),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part}


def events(rng: np.random.Generator, sc: dict) -> pa.Table:
    n = sc["events"]
    ts = np.sort(rng.integers(_us(2024, 1, 1), _us(2024, 1, 31), n))
    return pa.table({
        "event_id": pa.array(np.arange(n, dtype=np.int64), pa.int64()),
        "ts": _ts(ts),
        "user_id": pa.array(rng.integers(0, sc["users"], n), pa.int64()),
        "event_type": pa.array([EVENT_TYPES[i] for i in
                                rng.integers(0, 5, n)], pa.string()),
        "value": pa.array(_round2(rng.exponential(50.0, n) + 0.01)),
        "props": pa.array([f'{{"k": {k}}}' for k in
                           rng.integers(0, 100, n)], pa.string()),
    })


def build(dst: str, seed: int, scale: str = "bench") -> dict[str, int]:
    """Write every table under ``dst``; returns row counts by table."""
    sc = SCALES[scale]
    rng = np.random.default_rng(seed)
    tables = relational(rng, sc)
    tables["events"] = events(rng, sc)
    tables["documents"] = documents(rng, sc["documents"])
    tables["embeddings"] = embeddings(rng, sc["embeddings"])
    os.makedirs(dst, exist_ok=True)
    for name, t in tables.items():
        pq.write_table(t, os.path.join(dst, f"{name}.parquet"))
    return {name: t.num_rows for name, t in tables.items()}


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--dst", required=True)
    ap.add_argument("--scale", default="bench", choices=sorted(SCALES))
    a = ap.parse_args()
    print(build(a.dst, a.seed, a.scale))


if __name__ == "__main__":
    main()
