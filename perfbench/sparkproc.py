"""Start and stop the engine's Spark session inside a work directory.

Every file Spark, the JVM and the Python workers write (shuffle and
spill files, temp files, the warehouse) goes under the work directory,
so a run leaves nothing outside it. ``stop`` ends the JVM and waits
for it and for every other process this benchmark started.
"""

from __future__ import annotations

import os
import signal
import time

from procstat import descendants


def start(root: str, work: str, cpus: int):
    """Create the session through the engine's own factory. Returns
    ``(spark, jvm_pid)``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (root, os.environ.get("PYTHONPATH")) if p)
    # the JVM that spark-submit runs to build the driver's command line
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        f"--conf spark.local.dir={tmp}",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        # no hsperfdata file in the host's /tmp
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData'",
        "pyspark-shell"])
    import tempfile

    tempfile.tempdir = tmp
    from mmlspark_spark.core.session import get_spark

    spark = get_spark("perfbench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    proc = spark.sparkContext._gateway.proc
    return spark, _java_pid(proc.pid)


def _java_pid(pid: int) -> int:
    """The launcher execs into the JVM; fall back to a java child."""
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/comm") as f:
                if f.read().strip() == "java":
                    return p
        except OSError:
            pass
    return pid


def stop(spark) -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    try:
        spark.stop()
    finally:
        try:
            gw.shutdown()
        except Exception:
            pass
        if proc is not None:
            # the gateway JVM exits when its stdin closes
            try:
                proc.stdin.close()
            except OSError:
                pass
            try:
                proc.wait(timeout=30)
            except Exception:
                proc.kill()
                proc.wait()
        reap_all()


def reap_all(timeout: float = 10.0) -> None:
    """Terminate and wait for any process still below this one."""
    me = os.getpid()
    left = descendants(me)
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in left:
            try:
                os.kill(p, sig)
            except OSError:
                pass
        end = time.time() + timeout
        while left and time.time() < end:
            for p in list(left):
                try:
                    if os.waitpid(p, os.WNOHANG)[0] == p:
                        left.remove(p)
                        continue
                except ChildProcessError:
                    pass  # not our child: poll until it is gone
                if not os.path.exists(f"/proc/{p}"):
                    left.remove(p)
            time.sleep(0.05)
        if not left:
            return
