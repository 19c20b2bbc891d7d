"""Session, environment, memory and statistics helpers shared by the
benchmark workloads. Everything the benchmark writes lives under
`<checkout>/.perfbench/`."""

from __future__ import annotations

import hashlib
import json
import os
import platform
import shutil
import statistics
import subprocess

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench")
#: driver heap, committed up front (-Xms = -Xmx) so that the peak
#: resident size does not depend on when the collector decided to grow
#: the heap; 3g fits a 4-core, 15 GB machine shared with other jobs
DRIVER_MEMORY = "3g"


def workdir(*parts: str, fresh: bool = False) -> str:
    path = os.path.join(WORK, *parts)
    if fresh:
        shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path, exist_ok=True)
    return path


def confine_temp_files() -> None:
    """Point every temp-file location (Python, the JVM, Spark's block
    manager) inside the checkout."""
    tmp = workdir("tmp")
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = workdir("spark-local")


class Session:
    """One local SparkSession plus its JVM process handle.

    `event_log_dir` turns on Spark's built-in event log (traced runs)."""

    def __init__(self, event_log_dir: str | None = None):
        from canal_spark.session import get_spark

        n = min(4, len(os.sched_getaffinity(0)))
        tmp = workdir("tmp")
        conf = {
            "spark.driver.memory": DRIVER_MEMORY,
            "spark.local.dir": workdir("spark-local"),
            "spark.sql.warehouse.dir": workdir("warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -Xms{DRIVER_MEMORY}",
            "spark.sql.streaming.checkpointLocation": workdir("stream-ckpt-default"),
        }
        if event_log_dir:
            conf.update(
                {
                    "spark.eventLog.enabled": "true",
                    "spark.eventLog.dir": "file://" + event_log_dir,
                    "spark.eventLog.compress": "false",
                }
            )
        self.spark = get_spark(
            app="perfbench", master=f"local[{n}]", shuffle_partitions=n, extra_conf=conf
        )
        self.sc = self.spark.sparkContext
        #: the spark-submit process PySpark launched, which execs the JVM
        self._proc = self.sc._gateway.proc

    def peak_rss_mb(self) -> float:
        """VmHWM of the driver JVM plus this Python process."""
        return (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self._proc.pid)) / 1024.0

    def environment(self) -> dict:
        conf = dict(self.sc.getConf().getAll())
        keep = {
            k: v
            for k, v in sorted(conf.items())
            if k.startswith(("spark.sql.", "spark.driver.memory", "spark.master", "spark.eventLog"))
        }
        mem_kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "ram_gb": round(mem_kb / 1024**2, 1),
            "spark": self.spark.version,
            "java": self.spark._jvm.System.getProperty("java.version"),
            "python": platform.python_version(),
            "session_conf": keep,
        }

    def stop(self) -> None:
        """Stop Spark and wait for the JVM process to exit."""
        self.spark.stop()
        gw = self.sc._gateway
        try:
            gw.shutdown()
        finally:
            if self._proc.stdin is not None:
                self._proc.stdin.close()
            try:
                self._proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                self._proc.kill()
                self._proc.wait(timeout=10)


def _vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except FileNotFoundError:
        pass
    return 0


# ---------------------------------------------------------------- stats
def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated percentile (q in [0, 100]) of raw samples."""
    if not values:
        raise ValueError("percentile of no samples")
    xs = sorted(values)
    if len(xs) == 1:
        return xs[0]
    pos = (len(xs) - 1) * q / 100.0
    lo = int(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def weighted_percentile(pairs: list[tuple[float, int]], q: float) -> float:
    """Percentile of values carrying weights (per-event freshness, where
    one commit covers many events). Each value sits at the middle of
    its weight on the cumulative scale and the percentile interpolates
    linearly between neighbours, so it moves smoothly when weight
    shifts between two commits instead of jumping from one to the
    other at an even split."""
    pairs = sorted((v, w) for v, w in pairs if w > 0)
    total = sum(w for _, w in pairs)
    if total == 0:
        raise ValueError("weighted percentile of no samples")
    centers, seen = [], 0
    for _, w in pairs:
        centers.append((seen + w / 2) / total)
        seen += w
    p = q / 100.0
    if p <= centers[0]:
        return pairs[0][0]
    for i in range(1, len(pairs)):
        if p <= centers[i]:
            f = (p - centers[i - 1]) / (centers[i] - centers[i - 1])
            return pairs[i - 1][0] + f * (pairs[i][0] - pairs[i - 1][0])
    return pairs[-1][0]


def median(values: list[float]) -> float:
    return statistics.median(values)


# --------------------------------------------------------------- oracle
def state_digest(pdf) -> str:
    """Order-independent digest of a (doc_id, tokens, n_tok, source)
    table state."""
    h = hashlib.sha256()
    pdf = pdf.sort_values("doc_id")
    for doc_id, toks, n_tok, source in zip(pdf.doc_id, pdf.tokens, pdf.n_tok, pdf.source):
        tok = "" if toks is None else ",".join(str(int(t)) for t in toks)
        h.update(f"{doc_id}|{int(n_tok)}|{source}|{tok}\n".encode())
    h.update(f"rows={len(pdf)}".encode())
    return h.hexdigest()


def table_digest(spark, table) -> tuple[str, int]:
    pdf = table.read(spark).select("doc_id", "tokens", "n_tok", "source").toPandas()
    return state_digest(pdf), len(pdf)


class DigestCache:
    """Oracle digests cached per (workload, seed, input shape) across
    runs in one checkout."""

    def __init__(self):
        self.path = os.path.join(workdir("cache"), "digests.json")

    def get(self, key: str, compute) -> str:
        cache = {}
        if os.path.exists(self.path):
            with open(self.path) as f:
                cache = json.load(f)
        if key not in cache:
            cache[key] = compute()
            tmp = self.path + f".{os.getpid()}.tmp"
            with open(tmp, "w") as f:
                json.dump(cache, f, indent=1, sort_keys=True)
            os.replace(tmp, self.path)
        return cache[key]
