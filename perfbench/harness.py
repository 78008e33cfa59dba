"""Measurement plumbing for the benchmark: the Spark session it drives,
host context, memory sampling, output checks, spans and stage metrics read
from Spark's status REST API."""

from __future__ import annotations

import hashlib
import json
import os
import statistics
import subprocess
import tempfile
import threading
import time
import urllib.request
from contextlib import contextmanager

from gen import SEP

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def median(xs):
    return statistics.median(xs) if xs else 0.0


# ---------------------------------------------------------------------------
# session
# ---------------------------------------------------------------------------

def cpus() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))


def start_session(work: str, ui: bool):
    """A local session configured through symspark.session, with every
    scratch path kept inside ``work``."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(filter(None, [ROOT, os.environ.get("PYTHONPATH")]))
    os.environ["TMPDIR"] = tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["SYMSPARK_UI"] = "true" if ui else "false"
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    # the program's own memory settings (symspark.session sizes the heap
    # to the thread count); these flags only keep files inside ``work``
    os.environ["SYMSPARK_JAVA_OPTS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    from symspark.session import get_spark

    n = cpus()
    spark = get_spark(
        app_name="symspark-perfbench",
        master=f"local[{n}]",
        shuffle_partitions=n,
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.port": "4050",
            "spark.port.maxRetries": "64",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark, then the JVM it runs in, and wait until that has
    exited: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is not None:
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


# ---------------------------------------------------------------------------
# host context
# ---------------------------------------------------------------------------

def _cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


class HostContext:
    """Host facts that explain a result.  They are reported, never used to
    drop or select runs."""

    def __init__(self):
        self.start = _cpu_times()

    def finish(self, spark) -> dict:
        end = _cpu_times()
        delta = [b - a for a, b in zip(self.start, end)]
        mem_kb = 0
        with open("/proc/meminfo") as f:
            for line in f:
                if line.startswith("MemTotal:"):
                    mem_kb = int(line.split()[1])
        commit = "unknown"
        try:
            commit = subprocess.run(
                ["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10
            ).stdout.strip() or commit
        except (OSError, subprocess.SubprocessError):
            pass
        ctx = {
            "nproc": os.cpu_count(),
            "cpus_used": cpus(),
            "mem_total_gb": round(mem_kb / 2**20, 2),
            "commit": commit,
            "source_digest": source_digest(),
            "steal_share": (delta[7] / sum(delta)) if len(delta) > 7 and sum(delta) else 0.0,
            "loadavg": os.getloadavg(),
        }
        if spark is not None:
            import pyspark

            ctx["spark"] = pyspark.__version__
            ctx["java"] = spark._jvm.java.lang.System.getProperty("java.version")
        return ctx


def source_digest() -> str:
    """sha256 over symspark/*.py, so results from a checkout without git
    still name the code they measured."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "symspark")
    for d, _, files in sorted(os.walk(pkg)):
        for name in sorted(files):
            if name.endswith(".py"):
                p = os.path.join(d, name)
                h.update(os.path.relpath(p, pkg).encode())
                with open(p, "rb") as f:
                    h.update(f.read())
    return h.hexdigest()[:16]


# ---------------------------------------------------------------------------
# peak memory
# ---------------------------------------------------------------------------

def _python_workers(jvm_pid: int) -> list[int]:
    """The JVM's descendants that run the Python worker daemon or its
    forks.  Short-lived helper forks of the JVM itself (Hadoop's local file
    system shells out for permissions) are not workers: before they exec,
    they carry the JVM's command line and map its whole heap."""
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(jvm_pid, ()))
    while todo:
        p = todo.pop()
        todo.extend(kids.get(p, ()))
        try:
            with open(f"/proc/{p}/cmdline", "rb") as f:
                if b"pyspark.daemon" in f.read():
                    out.append(p)
        except OSError:
            continue
    return out


def _mem_kb(pid: int, path: str, key: str) -> int:
    try:
        with open(f"/proc/{pid}/{path}") as f:
            for line in f:
                if line.startswith(key):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class RssSampler:
    """Samples the resident memory of the Spark JVM plus its Python workers
    and keeps the peak of the sum.  The workers are forked from one daemon
    and share pages, so they count by PSS (shared pages split between
    sharers); the JVM shares nothing and counts by RSS, which is cheap to
    read."""

    def __init__(self, jvm_pid: int, interval: float = 0.2):
        self.pid, self.interval = jvm_pid, interval
        self.peak_kb = self.peak_jvm_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _sample(self) -> None:
        jvm = _mem_kb(self.pid, "status", "VmRSS:")
        total = jvm + sum(_mem_kb(p, "smaps_rollup", "Pss:") for p in _python_workers(self.pid))
        self.peak_kb = max(self.peak_kb, total)
        self.peak_jvm_kb = max(self.peak_jvm_kb, jvm)

    def _run(self):
        while not self._stop.is_set():
            self._sample()
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak_kb / 1024

    @property
    def peak_jvm_mb(self) -> float:
        return self.peak_jvm_kb / 1024


def live_heap_mb(spark, collections: int = 3, pause: float = 0.5) -> float:
    """JVM heap still in use after full collections: what the program keeps
    alive once its operations have returned (the broadcast stores, cached
    blocks, plan and listener state).  Between collections Spark's context
    cleaner gets time to drop the blocks whose handles the previous one
    freed; the figure is read after the last."""
    jvm = spark._jvm
    for i in range(collections):
        if i:
            time.sleep(pause)
        jvm.java.lang.System.gc()
    usage = jvm.java.lang.management.ManagementFactory.getMemoryMXBean().getHeapMemoryUsage()
    return usage.getUsed() / 2**20


# ---------------------------------------------------------------------------
# output checks
# ---------------------------------------------------------------------------

COUNTERS = ("rows", "frames_processed", "frames_failed", "fetch_failures")


def _hash_col(*cols):
    from pyspark.sql import functions as F

    s = F.concat_ws(SEP, *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in cols])
    return F.conv(F.substring(F.sha2(s, 256), 1, 15), 16, 10).cast("decimal(38,0)")


def output_summary(df, group: str | None = None) -> dict:
    """The per-sink counters of ``pipeline.sink_aggregates`` over enriched
    records, plus one aggregate (per ``group``, e.g. the micro-batch id) of
    the order-independent key digest of (conv_id, turn_idx) and the output
    digest of (conv_id, turn_idx, sink, text)."""
    from pyspark.sql import functions as F

    from symspark.pipeline import sink_aggregates

    per_sink = {r["sink"]: {c: int(r[c]) for c in COUNTERS} for r in sink_aggregates(df).collect()}
    rows = (
        df.groupBy(*([group] if group else []))
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum(_hash_col("conv_id", "turn_idx")).alias("_k"),
            F.sum(_hash_col("conv_id", "turn_idx", "sink", "text")).alias("_d"),
        )
        .collect()
    )
    groups = {str(r[group]): r["rows"] for r in rows} if group else {}
    n = sum(r["rows"] for r in rows)
    k = sum(int(r["_k"] or 0) for r in rows)
    d = sum(int(r["_d"] or 0) for r in rows)
    return {
        "per_sink": per_sink,
        "rows": n,
        "rows_with_sink": n - per_sink.get(None, {}).get("rows", 0),
        "key_digest": f"{n}:{k}",
        "digest": f"{n}:{d}",
        "groups": groups,
    }


def read_sinks(spark, base: str):
    root = os.path.join(base, "sinks")
    return spark.read.option("basePath", root).parquet(root)


DIGESTS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def fingerprint(summary: dict) -> str:
    """The output digest plus a hash of the per-sink counters."""
    counters = json.dumps(summary["per_sink"], sort_keys=True).encode()
    return f"{summary['digest']}/{hashlib.sha256(counters).hexdigest()[:16]}"


def recorded_fingerprint(key: str) -> str | None:
    if not os.path.exists(DIGESTS_PATH):
        return None
    with open(DIGESTS_PATH) as f:
        return json.load(f).get(key)


def record_fingerprints(entries: dict[str, str]) -> None:
    data = {}
    if os.path.exists(DIGESTS_PATH):
        with open(DIGESTS_PATH) as f:
            data = json.load(f)
    data.update(entries)
    with open(DIGESTS_PATH, "w") as f:
        json.dump(dict(sorted(data.items())), f, indent=1)
        f.write("\n")


class Checker:
    """Output checks for one process.  Every failed check is kept with its
    reason.  A run's fingerprint must equal the one recorded for the
    workload and seed -- the batch pipeline's output for the same input,
    see ``run.py --record-seeds`` -- and the fingerprint of every other
    operation of the process.  For a seed with no recorded fingerprint,
    ``check_reference`` compares with the batch pipeline's output computed
    after the measurement."""

    def __init__(self, key: str, expected_keys: str):
        self.expected_keys = expected_keys
        self.recorded = recorded_fingerprint(key)
        self.seen: set[str] = set()
        self.failures: list[str] = []
        self.last: dict = {}

    def check(self, label: str, summary: dict, manifests: dict | None = None) -> bool:
        errs = []
        if summary["rows_with_sink"] != summary["rows"]:
            errs.append(f"{summary['rows'] - summary['rows_with_sink']} records have no sink")
        if summary["key_digest"] != self.expected_keys:
            errs.append(f"turn keys {summary['key_digest']} != input {self.expected_keys}")
        if manifests is not None and manifests != summary["per_sink"]:
            errs.append("manifest counters differ from sink_aggregates over the written sinks")
        fp = fingerprint(summary)
        if self.recorded is not None and fp != self.recorded:
            errs.append(f"output {fp} != recorded {self.recorded}")
        self.last = summary
        self.seen.add(fp)
        if len(self.seen) > 1:
            errs.append(f"output differs between operations: {sorted(self.seen)}")
        self.failures += [f"{label}: {e}" for e in errs]
        return not errs

    def check_reference(self, reference: str) -> bool:
        """Whether every operation's output equals ``reference``, the
        fingerprint of the batch pipeline's output for this input."""
        if self.seen == {reference}:
            return True
        self.failures.append(f"output {sorted(self.seen)} != batch pipeline {reference}")
        return False


@contextmanager
def watchdog(seconds: float, cancel):
    """Calls ``cancel()`` once the block has run ``seconds``, and again
    every second until it ends.  Yields a dict whose ``fired`` says whether
    it did."""
    state = {"fired": False}
    done = threading.Event()

    def run():
        if done.wait(seconds):
            return
        state["fired"] = True
        while True:
            try:
                cancel()
            except Exception:  # the session may be shutting down
                pass
            if done.wait(1.0):
                return

    t = threading.Thread(target=run, daemon=True)
    t.start()
    try:
        yield state
    finally:
        done.set()
        t.join(timeout=10)


# ---------------------------------------------------------------------------
# tracing
# ---------------------------------------------------------------------------

class Tracer:
    """In-memory spans (name, start, end, parent, run id), written as one
    JSON file by ``dump``."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        rec = {
            "id": len(self.spans), "name": name, "run_id": self.run_id,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.time(), "end": None, **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump({"run_id": self.run_id, "spans": self.spans}, f, indent=1)


class StatusApi:
    """Stage and SQL-plan metrics from Spark's status REST API (UI on)."""

    def __init__(self, spark):
        sc = spark.sparkContext
        port = sc.uiWebUrl.rsplit(":", 1)[1]
        self.base = f"http://127.0.0.1:{port}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def settle(self, group: str, timeout: float = 20.0) -> list[dict]:
        """Jobs of a job group, once the listener has seen them all finish."""
        deadline = time.time() + timeout
        while True:
            jobs = [j for j in self.get("jobs") if j.get("jobGroup") == group]
            if (jobs and all(j["status"] != "RUNNING" for j in jobs)) or time.time() > deadline:
                return jobs
            time.sleep(0.2)

    def group_metrics(self, group: str) -> dict:
        jobs = self.settle(group)
        out = {"cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0}
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            for att in self.get(f"stages/{sid}"):
                out["cpu_s"] += att.get("executorCpuTime", 0) / 1e9
                out["gc_s"] += att.get("jvmGcTime", 0) / 1e3
                out["shuffle_bytes"] += att.get("shuffleWriteBytes", 0)
        return out

    def plan_nodes(self, group: str) -> dict[str, int]:
        """Operator counts of the final (adaptive) plan of the group's last
        SQL execution."""
        job_ids = {j["jobId"] for j in self.settle(group)}
        execs = [
            ex for ex in self.get("sql?details=true&planDescription=false&length=100000")
            if job_ids & set(ex.get("successJobIds", []) + ex.get("failedJobIds", []))
        ]
        counts: dict[str, int] = {}
        for node in max(execs, key=lambda ex: ex["id"])["nodes"] if execs else []:
            counts[node["nodeName"]] = counts.get(node["nodeName"], 0) + 1
        return counts


def dir_bytes(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for name in files:
            total += os.path.getsize(os.path.join(d, name))
    return total
