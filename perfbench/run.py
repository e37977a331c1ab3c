"""Benchmark entry point.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 17 --trace 0

Run from the root of a checkout of the engine. Makes its inputs from
``--seed``, starts the engine's Spark session on ``local[nproc]``,
sets up three times, runs a fixed number of untimed warm-up passes
and then a fixed number of timed passes (closed loop, one client),
checks every result and prints one JSON line last:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
is a ``# report`` line holding every measurement (per-op-type
medians, per-cycle state, host and warm-up evidence, the errors).

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json;
``--trace 1`` runs the same workload with tracing and reports the
per-layer metrics. All files go under ``.perfbench_work/`` in the
checkout and are removed at exit; ``--spans DIR`` keeps the span log.
"""

from __future__ import annotations

import time

T_PROC = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SETUPS = 3              # set-ups per run; setup_s takes their median
# Untimed warm-up passes (the first checks results) and timed passes
# per workload. The counts are fixed, never set by the clock, so every
# run of a workload times the same work: warm-up is not flat by the
# end, and a deadline would let a faster minute time more, cheaper
# passes. On a 4-vCPU host the timed phase takes about 17 s
# (analytics) and 12 s (index_churn); ``--seconds`` is accepted as the
# command line requires and does not change the run.
WARM = {"analytics": 3, "index_churn": 2}
TIMED = {"analytics": 5, "index_churn": 1}


def spec() -> dict:
    """BENCHMARK.json: the workloads and the metrics each mode prints."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def geomean(xs) -> float:
    xs = list(xs)
    return math.exp(sum(math.log(max(x, 1e-9)) for x in xs) / len(xs))


def by_type(ops: list[dict], key: str, keep=lambda op: True) -> dict:
    """Median of ``key`` per op type, over the ops that carry it."""
    groups: dict[str, list] = {}
    for o in ops:
        if key in o and keep(o["op"]):
            groups.setdefault(o["op"], []).append(o[key])
    return {k: statistics.median(v) for k, v in sorted(groups.items())}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_PROC:7.1f}s] {msg}",
          file=sys.stderr, flush=True)


def parse() -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=list(WARM))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", default="bench",
                    help="input size, see gen.SCALES")
    ap.add_argument("--spans", default="",
                    help="write the span log as JSON lines here")
    return ap.parse_args()


def warm_up(wl, a) -> dict:
    """Untimed passes, the first (cold) one checking results. Reports
    the work and JIT CPU of each, so a run shows how flat it was."""
    from procstat import cpu_delta, work_cpu

    t0 = time.perf_counter()
    cpu, jit = [], []
    for i in range(WARM[a.workload]):
        c0 = wl.rec.tree.cpu()
        wl.one_pass(timed=False, check=i == 0)
        d = cpu_delta(c0, wl.rec.tree.cpu())
        cpu.append(round(work_cpu(d), 3))
        jit.append(round(d["jit"], 3))
    return {"jvm.warmup_s": time.perf_counter() - t0,
            "warmup_cpu_s": cpu, "warmup_jit_s": jit}


def summarize(wl, rec, traced: bool) -> dict:
    ops = rec.ops
    out = {"op_ms": geomean(by_type(ops, "wall_ms").values()),
           "cpu_ms": geomean(by_type(ops, "cpu_ms").values())}
    for kind in ("read", "write"):
        med = by_type(ops, "wall_ms", lambda op: wl.kind(op) == kind)
        if med:
            out[f"{kind}_ms"] = geomean(med.values())
    out["op_types"] = {k: {"wall_ms": v,
                           "cpu_ms": by_type(ops, "cpu_ms")[k],
                           "n": sum(o["op"] == k for o in ops)}
                       for k, v in by_type(ops, "wall_ms").items()}
    keys = sorted({k for o in ops for k in o} - {"op", "wall_ms", "cpu_ms"})
    for k in keys:
        med = by_type(ops, k)
        out[k] = sum(med.values()) / len(med)
        if k.startswith("self."):
            out["op_types_" + k] = med
    if traced:
        out["trace.op_ms"] = out["op_ms"]
    return out


def main() -> int:
    # a terminated run still stops Spark and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    a = parse()
    if not os.path.isfile(os.path.join(ROOT, "mmlspark_spark", "__init__.py")):
        print(f"perfbench: no engine source (mmlspark_spark/) under {ROOT}",
              file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    work = os.path.join(ROOT, ".perfbench_work",
                        f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        return bench(a, work)
    finally:
        import sparkproc

        sparkproc.reap_all()
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def bench(a, work: str) -> int:
    import sparkproc
    from procstat import host_sample, steal_pct, work_cpu
    from tracing import Recorder

    cpus = os.cpu_count() or 4
    host_start = host_sample()
    spark, jvm_pid = sparkproc.start(ROOT, work, cpus)
    session_s = time.perf_counter() - T_PROC
    log(f"session up in {session_s:.1f}s (local[{cpus}], jvm {jvm_pid})")
    try:
        rec = Recorder(spark, jvm_pid, traced=bool(a.trace))
        session_roles = rec.tree.cpu()
        session_cpu = work_cpu(session_roles)
        if a.workload == "analytics":
            from analytics import Analytics as Workload
        else:
            from churn import Churn as Workload
        wl = Workload(spark, rec, work, a.seed, a.scale)
        log(f"inputs {wl.inputs}")
        setups, setup_cpu = [], []
        for _ in range(SETUPS):
            t, c = time.perf_counter(), work_cpu(rec.tree.cpu())
            wl.setup_once()
            setups.append(time.perf_counter() - t)
            setup_cpu.append(work_cpu(rec.tree.cpu()) - c)
        setup_wall_s = session_s + statistics.median(setups)
        setup_s = session_cpu + statistics.median(setup_cpu)
        log(f"set-up {[round(s, 2) for s in setups]}s -> setup_s "
            f"{setup_s:.2f} cpu-s, {setup_wall_s:.2f} s wall")
        warm = warm_up(wl, a)
        log(f"warm-up {warm}")
        rec.skip_jobs()
        h0 = host_sample()
        t0 = time.perf_counter()
        passes = TIMED[a.workload]
        for _ in range(passes):
            wl.one_pass(timed=True)
        timed_s = time.perf_counter() - t0
        h1 = host_sample()
        log(f"timed {passes} passes in {timed_s:.1f}s")
        if hasattr(wl, "final_check"):
            wl.final_check()
            log("final check done")
        if a.spans and a.trace:
            os.makedirs(a.spans, exist_ok=True)
            with open(os.path.join(a.spans, f"{a.workload}-{a.seed}.jsonl"),
                      "w") as f:
                for r in rec.spans.rows:
                    f.write(json.dumps(dict(zip(
                        ("id", "parent", "name", "start", "end"), r))) + "\n")
    finally:
        sparkproc.stop(spark)
    m = summarize(wl, rec, bool(a.trace))
    m.update(setup_s=setup_s, session_cpu_s=session_cpu,
             session_cpu_roles=session_roles,
             setup_runs_cpu_s=setup_cpu, setup_wall_s=setup_wall_s,
             session_s=session_s, setup_runs_s=setups,
             timed_s=timed_s, passes=passes,
             **warm)
    m["host.steal_pct"] = steal_pct(h0, h1)
    m["host.load_start"] = host_start["load1"]
    m["host.load_end"] = h1["load1"]
    m["ops_attempted"], m["ops_failed"] = wl.attempted, wl.failed
    m["inputs"] = wl.inputs
    if hasattr(wl, "history"):
        m["cycles"] = wl.history
        timed_hist = [h for h in wl.history if h["timed"]]
        m["bytes_per_row"] = statistics.median(
            h["bytes_per_row"] for h in timed_hist)
        m["fs.files"] = statistics.median(h["files"] for h in timed_hist)
    m["errors"] = wl.errors
    correct = not wl.errors and wl.failed == 0
    group = spec()["per_layer" if a.trace else "end_to_end"]
    result = {"correct": correct, "attempted": wl.attempted,
              "failed": wl.failed,
              "metrics": {g["name"]: {"value": m[g["name"]], "unit": g["unit"]}
                          for g in group}}
    print("# report " + json.dumps({"workload": a.workload, "seed": a.seed,
                                    "trace": a.trace, **m}, default=str))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
