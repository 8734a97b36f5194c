"""Process environment for one benchmark run: a private temporary
directory inside the checkout, a Spark session sized to the host, a
resident-memory sampler, a CPU-time reader, and a teardown that ends
the JVM.
"""

from __future__ import annotations

import os
import statistics
import tempfile
import threading


def host_cpus() -> int:
    return len(os.sched_getaffinity(0))


def host_mem_mb() -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1]) // 1024
    return 8192


def driver_mem() -> str:
    """A quarter of the host's memory, at most 2 GiB: sf0.1 state fits,
    and a bounded heap keeps the resident-memory peak from following
    garbage-collection timing."""
    return f"{max(1024, min(2048, host_mem_mb() // 4))}m"


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all
    its descendants, the JVM among them, counting the children they have
    already reaped."""
    ppid: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # ended while we looked
        ppid[int(d)] = int(fields[1])
        # utime, stime, cutime, cstime
        ticks[int(d)] = sum(int(x) for x in fields[11:15])
    children: dict[int, list[int]] = {}
    for pid, parent in ppid.items():
        children.setdefault(parent, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo += children.get(pid, [])
    return total / os.sysconf("SC_CLK_TCK")


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Peak of (this process + the JVM) resident memory, sampled every
    50 ms while running."""

    def __init__(self, pids: list[int]):
        self.pids = pids
        self.peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak_kb = max(self.peak_kb, sum(_rss_kb(p) for p in self.pids))
            self._stop.wait(0.05)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


class BenchEnv:
    """Everything the run writes goes under ``root`` (created inside
    the checkout and removed by the caller): Spark's local and warehouse
    dirs, the JVM's and Python's temp dirs, the engine state."""

    def __init__(self, checkout: str):
        self.root = tempfile.mkdtemp(prefix=".perfbench-run-", dir=checkout)
        for d in ("tmp", "conf", "local", "work"):
            os.makedirs(os.path.join(self.root, d))
        tmp = os.path.join(self.root, "tmp")
        java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -Dderby.system.home={tmp}"
        with open(os.path.join(self.root, "conf", "spark-defaults.conf"), "w") as f:
            f.write(
                "spark.ui.showConsoleProgress false\n"
                f"spark.local.dir {os.path.join(self.root, 'local')}\n"
                f"spark.sql.warehouse.dir {os.path.join(self.root, 'warehouse')}\n"
                f"spark.driver.extraJavaOptions {java_opts}\n"
            )
        os.environ.update(
            TMPDIR=tmp,
            SPARK_CONF_DIR=os.path.join(self.root, "conf"),
            SPARK_LOCAL_DIRS=os.path.join(self.root, "local"),
            SPARK_GRAFT_DRIVER_MEM=driver_mem(),
            PYSPARK_PYTHON=os.environ.get("PYSPARK_PYTHON", "python3"),
        )
        tempfile.tempdir = tmp
        os.chdir(os.path.join(self.root, "work"))
        self.spark = None

    def path(self, *parts: str) -> str:
        return os.path.join(self.root, *parts)

    def setup(self, sf_dir: str, times: int = 5) -> float:
        """Start the program's session and run one warm-up action,
        ``times`` times (stopping the previous session each time);
        returns the median CPU seconds of one set-up, counted like the
        workloads' ``cpu_s`` (see README)."""
        from go_cdc_spark.session import get_spark

        took = []
        for _ in range(times):
            if self.spark is not None:
                self.spark.stop()
            cpu0 = tree_cpu_s()
            self.spark = get_spark("perfbench", cpus=str(host_cpus()))
            self.spark.read.parquet(f"{sf_dir}/orders.parquet").groupBy(
                "o_orderstatus"
            ).count().collect()
            took.append(tree_cpu_s() - cpu0)
        self.spark.sparkContext.setLogLevel("ERROR")
        return statistics.median(took)

    def jvm_pid(self) -> int | None:
        from pyspark import SparkContext

        proc = getattr(SparkContext._gateway, "proc", None)
        return proc.pid if proc is not None else None

    def close(self) -> None:
        """Stop Spark and end the JVM, waiting until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        try:
            gw.shutdown()
        except Exception:  # noqa: BLE001 — teardown goes on regardless
            pass
        if proc is not None:
            try:
                proc.stdin.close()
            except Exception:  # noqa: BLE001
                pass
            try:
                proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
