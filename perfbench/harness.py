"""Process-level plumbing shared by the workloads: the Spark session's life
cycle (all scratch files kept inside the run's work directory), an HTTP
client for the in-process server, and summary statistics."""

from __future__ import annotations

import http.client
import os
import resource
import shlex
import statistics
import subprocess
import tempfile
import time
import urllib.parse


class Session:
    """Starts and stops the program's SparkSession through its own factory,
    ``riot_graphs_spark.session.get_spark``. The JVM is launched once per
    process; each ``start`` after a ``stop`` builds a new SparkContext in
    it, with Spark's event log on or off for that context."""

    def __init__(self, work: str, cpus: int):
        self.work = work
        self.cpus = cpus
        self.spark = None
        self.jvm_rss_peak_kb = 0
        local = os.path.join(work, "spark-local")
        os.makedirs(local, exist_ok=True)
        os.environ["SPARK_LOCAL_DIRS"] = local
        os.environ["TMPDIR"] = local
        tempfile.tempdir = local
        os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
        os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
        os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
            # no hsperfdata under /tmp: the run writes only inside the checkout
            "--driver-java-options",
            shlex.quote(f"-Djava.io.tmpdir={local} -XX:-UsePerfData"),
            f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
            "--conf spark.ui.showConsoleProgress=false",
            "pyspark-shell",
        ])

    def start(self, event_log_dir: str | None = None):
        """Build the session; returns seconds taken."""
        from pyspark import SparkContext

        props = {
            "spark.eventLog.enabled": "true" if event_log_dir else "false",
            # zstandard is not installed, so the log stays uncompressed
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": event_log_dir or "",
        }
        if SparkContext._jvm is not None:
            system = SparkContext._jvm.java.lang.System
            for k, v in props.items():
                system.setProperty(k, v)
        elif event_log_dir:
            conf = " ".join(f"--conf {k}={v}" for k, v in props.items())
            os.environ["PYSPARK_SUBMIT_ARGS"] = conf + " " + os.environ["PYSPARK_SUBMIT_ARGS"]
        if event_log_dir:
            os.makedirs(event_log_dir, exist_ok=True)
        t0 = time.perf_counter()
        from riot_graphs_spark.session import get_spark

        self.spark = get_spark(
            app_name="perfbench", master=f"local[{self.cpus}]",
            shuffle_partitions=self.cpus,
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return time.perf_counter() - t0

    def collect_garbage(self) -> None:
        """Full collection in the JVM and in Python, so the garbage of the
        stopped set-up sessions is not collected while timing."""
        import gc

        self.spark.sparkContext._jvm.java.lang.System.gc()
        gc.collect()

    def sample_rss(self) -> None:
        jvm = self.spark.sparkContext._jvm
        pid = jvm.java.lang.ProcessHandle.current().pid()
        with open(f"/proc/{pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    self.jvm_rss_peak_kb = max(self.jvm_rss_peak_kb, int(line.split()[1]))

    def peak_rss_mb(self) -> float:
        py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
        return (py_kb + self.jvm_rss_peak_kb) / 1024.0

    def stop(self) -> None:
        if self.spark is not None:
            self.sample_rss()
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop the JVM this process launched and wait for it to exit."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        if gateway is None:
            return
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.terminate()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None


def http_get(port: int, path: str, params: dict | None = None,
             timeout: float = 120.0) -> tuple[int, bytes]:
    """One GET against the in-process server on 127.0.0.1; (status, body)."""
    if params:
        path = path + "?" + urllib.parse.urlencode(params)
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=timeout)
    try:
        conn.request("GET", path)
        resp = conn.getresponse()
        return resp.status, resp.read()
    finally:
        conn.close()


def median(values) -> float:
    return float(statistics.median(values)) if values else 0.0
