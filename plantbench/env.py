"""Pinned Spark session and process bookkeeping for the benchmark.

Both sides of any comparison run with the same settings: cores =
``nproc``, a driver heap sized to the host's memory, console progress
off, and every Spark/JVM/Python scratch directory inside one run
directory under the checkout, which is removed at exit.
"""

from __future__ import annotations

import os
import shutil
import subprocess
import time


def host_mem_gb() -> float:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) / 1024 / 1024
    return 8.0


def nproc() -> int:
    out = subprocess.run(["nproc"], capture_output=True, text=True,
                         env={k: v for k, v in os.environ.items()
                              if k != "OMP_NUM_THREADS"})
    return int(out.stdout.strip() or os.cpu_count() or 4)


def settings(run_dir: str) -> dict:
    """The pinned session settings, recorded in the output. The heap is
    a fifth of host memory, capped at 2 GiB: the stores here are tens of
    MB, and the machine may be shared."""
    heap_mb = max(1024, min(2048, int(host_mem_gb() * 1024 / 5)))
    return {
        "cores": nproc(),
        "driver_mem": f"{heap_mb}m",
        "local_dir": os.path.join(run_dir, "spark-local"),
        "store_root": os.path.join(run_dir, "store"),
        "java_tool_options": "-Djava.io.tmpdir={} -XX:-UsePerfData".format(
            os.path.join(run_dir, "tmp")),
    }


def start_session(cfg: dict, run_dir: str):
    """Build the session through the program's own factory
    (``session.get_spark``) under the pinned settings."""
    os.environ["SPARK_GRAFT_CPUS"] = str(cfg["cores"])
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = cfg["driver_mem"]
    os.environ["SPARK_LOCAL_DIRS"] = cfg["local_dir"]
    os.environ["PYSPARK_PIN_THREAD"] = "true"
    # collected timestamps convert in the Python process's zone; pin it
    # to the session's (UTC) so they read back as stored
    os.environ["TZ"] = "UTC"
    time.tzset()
    tmp = os.path.join(run_dir, "tmp")
    for d in (cfg["local_dir"], tmp):
        os.makedirs(d, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None  # re-read TMPDIR

    # added to the JVM options the program sets, not in place of them:
    # JVM temp files go to the run directory, and no hsperfdata file
    # is written to the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = cfg["java_tool_options"]

    from industrial_data_pipeline_spark.session import get_spark

    return get_spark(
        "plantbench", cores=cfg["cores"],
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": cfg["local_dir"],
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        })


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def vm_hwm_mb(pid: int | str = "self") -> float:
    """Peak resident set (VmHWM) of a process, in MiB."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    return 0.0


def reset_peak_rss() -> None:
    """Reset this process's VmHWM to its current resident set, so the
    generator's arrays do not count in the peak."""
    try:
        with open("/proc/self/clear_refs", "w") as f:
            f.write("5")
    except OSError:
        pass


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    try:
        gateway.shutdown()
    except Exception:  # noqa: BLE001 — the JVM may already be gone
        pass
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()  # the JVM exits on a broken stdin pipe
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)


def remove_tree(path: str) -> None:
    for _ in range(3):
        shutil.rmtree(path, ignore_errors=True)
        if not os.path.exists(path):
            return
        time.sleep(0.2)
