"""Per-run scratch directory, Spark session start and clean shutdown.

Everything a run writes goes under ``perfbench/scratch/run-<pid>-<ns>``
in the checkout: the simulation's drop and feedback directories, the
streaming checkpoints, the generated tables, Spark's local and JVM temp
directories and Python's ``tempfile`` directory (so the package zip that
``shipping`` builds lands there too). ``Run.close`` stops the session,
waits for the JVM and every Python worker it started to exit, and
removes the directory; ``Run.abort`` does the same for an interrupted
run without asking Spark to stop.
"""

from __future__ import annotations

import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

SCRATCH_ROOT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "scratch")

#: Environment marker inherited by the JVM and its Python workers, used
#: to find and wait for them after the session stops.
_MARKER_VAR = "PERFBENCH_RUN_DIR"


class Run:
    def __init__(self) -> None:
        self.dir = os.path.join(SCRATCH_ROOT, f"run-{os.getpid()}-{time.time_ns()}")
        os.makedirs(os.path.join(self.dir, "tmp"))
        self.tmp = os.path.join(self.dir, "tmp")
        os.environ["TMPDIR"] = self.tmp
        tempfile.tempdir = self.tmp
        os.environ[_MARKER_VAR] = self.dir
        self.spark = None
        self._gateway_proc: subprocess.Popen | None = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.dir, *parts)

    def start_session(self):
        """``local[nproc]`` session with the engine's defaults; the
        driver heap is kept small because the machine is shared."""
        from deisa_ray_spark.session import get_session

        cpus = os.cpu_count() or 1
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_LOCAL_DIRS"] = self.path("spark-local")
        os.environ["PYSPARK_PYTHON"] = sys.executable
        self.spark = get_session(
            app_name="perfbench",
            master=f"local[{cpus}]",
            shuffle_partitions=cpus,
            extra_conf={
                "spark.driver.memory": "2g",
                "spark.local.dir": self.path("spark-local"),
                "spark.sql.warehouse.dir": self.path("warehouse"),
                "spark.driver.extraJavaOptions": (
                    f"-Djava.io.tmpdir={self.tmp} -XX:-UsePerfData "
                    f"-Dderby.system.home={self.tmp}"
                ),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self._gateway_proc = getattr(self.spark.sparkContext._gateway, "proc", None)
        return self.spark

    def close(self) -> None:
        """Stop the session and every process it started, then remove
        the run's directory, even when stopping the session fails (as it
        can when the run was interrupted in the middle of a Spark call)."""
        spark, self.spark = self.spark, None
        try:
            if spark is not None:
                gateway = spark.sparkContext._gateway
                try:
                    spark.stop()
                finally:
                    gateway.shutdown()
        finally:
            proc = self._gateway_proc
            if proc is not None:
                if proc.stdin is not None:
                    proc.stdin.close()  # the launcher exits when its stdin closes
                try:
                    proc.wait(timeout=60)
                except subprocess.TimeoutExpired:
                    proc.kill()
                    proc.wait(timeout=10)
            _wait_for_marked(self.dir, timeout=30.0)
            self._remove_dir()

    def abort(self) -> None:
        """Kill the JVM and its Python workers without asking Spark to
        stop (a graceful stop can wait forever on a micro-batch whose
        callback the interruption cut short), then remove the directory."""
        proc = self._gateway_proc
        if proc is not None:
            proc.kill()
            proc.wait(timeout=30)
        _wait_for_marked(self.dir, timeout=10.0)
        self._remove_dir()

    def _remove_dir(self) -> None:
        shutil.rmtree(self.dir, ignore_errors=True)
        try:
            os.rmdir(SCRATCH_ROOT)  # only if no other run is using it
        except OSError:
            pass


def _marked_pids(marker: str) -> list[int]:
    """Processes other than this one whose environment carries ``marker``."""
    want = f"{_MARKER_VAR}={marker}".encode()
    out = []
    for name in os.listdir("/proc"):
        if not name.isdigit() or int(name) == os.getpid():
            continue
        try:
            with open(f"/proc/{name}/environ", "rb") as f:
                if want in f.read().split(b"\0"):
                    out.append(int(name))
        except OSError:
            continue
    return out


def _wait_for_marked(marker: str, timeout: float) -> None:
    """Wait for the JVM's Python workers to exit after the JVM has gone
    (they exit on their own once their parent's pipe closes); kill any
    still running after ``timeout`` and wait for those too."""
    deadline = time.monotonic() + timeout
    killed = False
    while pids := _marked_pids(marker):
        if time.monotonic() > deadline + 10.0:
            return  # killed; a process that outlives SIGKILL is not ours to wait on
        if time.monotonic() > deadline and not killed:
            for pid in pids:
                try:
                    os.kill(pid, signal.SIGKILL)
                except ProcessLookupError:
                    pass
            killed = True
        time.sleep(0.1)
