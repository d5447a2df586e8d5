"""Start and stop the engine with this benchmark's pinned settings.

Everything is pinned from here, through ``get_spark``'s ``extra_conf``
and the environment the JVM inherits, so the library's session defaults
stay untouched:

- ``local[nproc]``: one executor thread per core this process may use;
- a fixed 4 GB driver heap (the library default of 48g does not fit a
  15 GB host);
- the checkout root on ``PYTHONPATH``, so the UDF workers import the
  package however the benchmark was started;
- no console progress bar;
- every scratch file (block manager, JVM temp, warehouse, event log)
  under the run directory, and the event log uncompressed.
"""

from __future__ import annotations

import os
import signal
import subprocess
import tempfile
import time

from meters import TreeMeter, tree_pids

DRIVER_HEAP = "4g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


class Engine:
    def __init__(self, root: str, run_dir: str, event_log: bool):
        tmp = os.path.join(run_dir, "tmp")
        local = os.path.join(run_dir, "local")
        os.makedirs(tmp, exist_ok=True)
        os.makedirs(local, exist_ok=True)
        os.environ["PYTHONPATH"] = os.pathsep.join(
            p for p in (root, os.environ.get("PYTHONPATH")) if p
        )
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = tempfile.tempdir = tmp
        # JVM temp files here, and no hsperfdata file under /tmp
        os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
        from energy_aware_entity_resolution_spark import get_spark

        self.cores = nproc()
        conf = {
            "spark.driver.memory": DRIVER_HEAP,
            # the whole heap committed from the start: RSS then follows
            # the touched heap, off-heap and workers, not G1's resizing
            "spark.driver.extraJavaOptions": f"-Xms{DRIVER_HEAP}",
            "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        }
        self.event_log_dir = None
        if event_log:
            self.event_log_dir = os.path.join(run_dir, "eventlog")
            os.makedirs(self.event_log_dir, exist_ok=True)
            conf.update({
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + self.event_log_dir,
                "spark.eventLog.compress": "false",
            })
        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cores}]", extra_conf=conf
        )
        sc = self.spark.sparkContext
        self._gateway = sc._gateway
        self.jvm_pid = int(sc._jvm.java.lang.ProcessHandle.current().pid())
        self.meter = TreeMeter(self.jvm_pid)
        self.meter.start_sampling()

    def facts(self) -> dict:
        return {
            "nproc": self.cores,
            "driver_heap": DRIVER_HEAP,
            "spark_version": self.spark.version,
            "master": self.spark.sparkContext.master,
            "shuffle_partitions": int(
                self.spark.conf.get("spark.sql.shuffle.partitions")
            ),
        }

    def stop(self) -> None:
        """Stop Spark, then the JVM, then any worker it left behind, and
        wait for each to end."""
        self.meter.stop_sampling()
        tree = tree_pids(self.jvm_pid)
        self.spark.stop()
        proc = getattr(self._gateway, "proc", None)
        self._gateway.shutdown()
        if proc is not None:
            proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait(timeout=30)
        deadline = time.monotonic() + 30
        while True:
            alive = [p for p in tree if _running(p)]
            if not alive:
                return
            if time.monotonic() > deadline:
                for p in alive:
                    try:
                        os.kill(p, signal.SIGKILL)
                    except ProcessLookupError:
                        pass
                if time.monotonic() > deadline + 10:
                    raise RuntimeError(f"engine processes still alive: {alive}")
            time.sleep(0.1)


def _running(pid: int) -> bool:
    """True while ``pid`` exists and is not a zombie."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False
