"""What the benchmark records about the machine it runs on, and the
checks that refuse to measure on a machine that cannot give a clean
number."""

from __future__ import annotations

import ctypes
import os
import platform
import shutil
import signal
import subprocess
import sys
import time

import numpy as np
import pandas as pd


class Refused(RuntimeError):
    """The box cannot give a clean measurement; nothing was measured."""


def spark_jvms() -> list[int]:
    """Pids of live Spark driver JVMs (any ``SparkSubmit`` process)."""
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/cmdline", "rb") as f:
                cmd = f.read()
        except OSError:
            continue
        if b"org.apache.spark.deploy.SparkSubmit" in cmd:
            pids.append(int(entry))
    return pids


def cores_for_spark() -> int:
    """local[N] parallelism: ``SPARK_GRAFT_CPUS`` if set (the variable
    the program's session factory reads), else the affinity set."""
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def preflight(cores: int) -> dict:
    """Record the box and refuse an oversubscribed or shared one."""
    affinity = sorted(os.sched_getaffinity(0))
    java = subprocess.run(
        ["java", "-version"], capture_output=True, text=True, timeout=60
    ).stderr.splitlines()
    import pyspark

    info = {
        "nproc": os.cpu_count(),
        "affinity": affinity,
        "loadavg": list(os.getloadavg()),
        "python": platform.python_version(),
        "spark": pyspark.__version__,
        "java": java[0] if java else "unknown",
        "spark_cores": cores,
    }
    if cores > len(affinity):
        raise Refused(
            f"local[{cores}] asks for more cores than the affinity set "
            f"{affinity} allows; the numbers would measure oversubscription"
        )
    others = spark_jvms()
    if others:
        raise Refused(f"another Spark JVM is alive (pids {others})")
    return info


def _probe() -> float:
    """About 0.5 s of pure-Python work plus pandas small-group work, the
    two kinds of work the block encoder and the driver-side loops do."""
    t0 = time.perf_counter()
    acc = 0
    for i in range(2_000_000):
        acc = (acc * 31 + i) % 1_000_003
    df = pd.DataFrame({"g": np.arange(40_000) % 2_000, "v": np.arange(40_000.0)})
    df.groupby("g")["v"].apply(lambda s: s.sum() + acc)
    return time.perf_counter() - t0


def calibration_probe(cores: int) -> dict:
    """Run the fixed probe once per core in parallel. A slow core or a
    throttled host shows up here, next to the run, not in the metrics.
    Plain child processes, each waited for: a multiprocessing pool would
    leave its resource tracker running until this process exits."""
    here = os.path.dirname(os.path.abspath(__file__))
    code = f"import sys; sys.path.insert(0, {here!r}); import box; print(box._probe())"
    procs = [subprocess.Popen([sys.executable, "-c", code], stdout=subprocess.PIPE,
                              text=True) for _ in range(cores)]
    per_core = []
    try:
        for p in procs:
            out, _ = p.communicate(timeout=120)
            if p.returncode != 0:
                raise RuntimeError(f"calibration probe exited with {p.returncode}")
            per_core.append(float(out.strip().splitlines()[-1]))
    finally:
        for p in procs:
            if p.poll() is None:
                p.kill()
                p.wait()
    return {"probe_s": max(per_core), "per_core_s": per_core}


def become_subreaper() -> None:
    """Make this process the reaper of its orphaned descendants, so a
    grandchild whose parent exits (a Python worker of a stopped JVM, say)
    becomes a child that ``stop_children`` can find and wait for."""
    PR_SET_CHILD_SUBREAPER = 36
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)


def _children() -> list[int]:
    me = str(os.getpid())
    pids = []
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = f.read().rsplit(")", 1)[1].split()[1]
        except (OSError, IndexError):
            continue
        if ppid == me:
            pids.append(int(entry))
    return pids


def stop_children(timeout: float = 20.0) -> int:
    """Terminate every remaining child (with the subreaper set, orphaned
    descendants too) and wait until each has ended. -> how many there
    were; a clean run leaves none."""
    found = set()
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while True:
        pids = _children()
        if not pids:
            return len(found)
        found.update(pids)
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.1)
        for pid in pids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass


def vm_hwm_mb(pid: int) -> float:
    """Peak resident set (VmHWM) of ``pid`` in MB, 0 if it is gone."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        for name in files:
            try:
                total += os.path.getsize(os.path.join(root, name))
            except OSError:
                pass
    return total


class TempRoot:
    """The run's private scratch directory inside the checkout. Spark's
    local dirs, the JVM and Python temp dirs and every generated table
    live under it; ``close`` reports what the program left in the temp
    dirs and deletes the whole root."""

    def __init__(self, checkout: str, label: str):
        self.path = os.path.join(checkout, ".perfbench", "tmp", f"{label}-{os.getpid()}")
        shutil.rmtree(self.path, ignore_errors=True)
        self.tmp = os.path.join(self.path, "tmp")
        self.spark_local = os.path.join(self.path, "spark-local")
        self.data = os.path.join(self.path, "data")
        for d in (self.tmp, self.spark_local, self.data):
            os.makedirs(d)
        os.environ["TMPDIR"] = self.tmp
        os.environ["SPARK_LOCAL_DIRS"] = self.spark_local

    def sub(self, name: str) -> str:
        return os.path.join(self.data, name)

    def left_behind(self) -> int:
        return dir_bytes(self.tmp) + dir_bytes(self.spark_local)

    def close(self) -> None:
        shutil.rmtree(self.path, ignore_errors=True)
