"""Shared benchmark machinery: the pinned Spark session, the timed loop,
between-operation hygiene, memory and disk readings, and layer tracing.

Everything here is benchmark code. The program under test is reached only
through its public functions, imported by the workload modules.
"""

from __future__ import annotations

import gc
import os
import shutil
import statistics
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

# local[N] and shuffle partitions are pinned so that a run does not depend
# on the host's core count (get_spark would otherwise take local[*] and
# os.cpu_count()). N stays below the 4 cores of the reference host so that
# the driver thread and the JVM's own threads do not compete with tasks.
CORES = 2
SHUFFLE_PARTITIONS = 4
DRIVER_MEMORY = "1g"
# untimed units of work before timing starts. The first unit in a fresh
# JVM runs 2-3x slower than later ones (class loading, code generation,
# JIT); later units keep speeding up by a few percent each for 3-5 more
# units. The run budget affords one warm-up unit, so every run times the
# same positions of that curve.
WARMUP_UNITS = 1
# a median needs more than one timed unit, even when one unit outlasts
# the run length
MIN_ROUNDS = 2
# analyst reads per round, warm-up included: a read lasts a few hundred
# milliseconds and its first repetitions in a fresh JVM are the slowest,
# so read_p50_ms is the median of several warm ones
READ_REPS = 3
MB = 1_000_000


def median(values):
    return statistics.median(values) if values else 0.0


def dir_bytes(path: str) -> int:
    total = 0
    for root, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(root, name))
    return total


def _vm_hwm_kib(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Session:
    """One Spark session built by the program's ``get_spark`` with the
    benchmark's pinned settings, every scratch path kept in ``work``."""

    def __init__(self, work: str):
        from datalake_scripts_spark.session import get_spark

        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        # the JVMs and any Python worker inherit these; -UsePerfData keeps
        # the JVMs from writing /tmp/hsperfdata_<user>
        os.environ["TMPDIR"] = tmp
        os.environ["SPARK_LOCAL_DIRS"] = tmp
        os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
        self.spark = get_spark(
            app_name="perfbench",
            master=f"local[{CORES}]",
            shuffle_partitions=SHUFFLE_PARTITIONS,
            extra_conf={
                "spark.driver.memory": DRIVER_MEMORY,
                "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
                "spark.local.dir": tmp,
                "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
                "spark.ui.showConsoleProgress": "false",
            },
        )
        self.sc = self.spark.sparkContext
        self.jvm_pid = self.sc._gateway.proc.pid

    def peak_rss_mib(self) -> float:
        """Peak resident set of this Python process plus the JVM it drives."""
        return (_vm_hwm_kib("self") + _vm_hwm_kib(self.jvm_pid)) / 1024.0

    def cached_mb(self) -> float:
        """Storage memory and disk held by cached blocks right now."""
        infos = self.sc._jsc.sc().getRDDStorageInfo()
        return sum(i.memSize() + i.diskSize() for i in infos) / MB

    def hygiene(self, *paths: str) -> None:
        """Between operations, outside any timed region: drop cached
        blocks, collect garbage on both sides, delete finished outputs."""
        self.spark.catalog.clearCache()
        gc.collect()
        self.sc._jvm.System.gc()
        for p in paths:
            shutil.rmtree(p, ignore_errors=True)

    def stop(self) -> None:
        """Stop Spark, then close the gateway JVM's stdin so it exits, and
        wait for it."""
        from pyspark import SparkContext

        gateway = SparkContext._gateway
        proc = gateway.proc
        self.spark.stop()
        gateway.shutdown()
        proc.stdin.close()
        proc.wait(timeout=60)


class Tracer:
    """Spans around the benchmark's calls into the program's layers.

    Each span sets a Spark job group (``perfbench:<seq>``) and the layer's
    name as job description, so every job the layer triggers carries it.
    Spans nest; a job belongs to the innermost open span and a parent's
    figures include its children's. Spans and the jobs and stages read
    from Spark's status store are kept in memory; ``write`` saves them
    once, at the end of the run. With ``enabled=False`` a span only times.
    """

    def __init__(self, session: Session, enabled: bool):
        self.sc = session.sc
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._jobs: dict[int, dict] = {}
        self._stages: dict[int, dict] = {}
        self._collected = 0

    @contextmanager
    def span(self, name: str):
        rec = {"id": len(self.spans), "name": name,
               "parent": self._stack[-1]["id"] if self._stack else None}
        self.spans.append(rec)
        if self.enabled:
            self._stack.append(rec)
            self.sc.setJobGroup(f"perfbench:{rec['id']}", name)
        rec["t0"] = time.time()
        try:
            yield rec
        finally:
            rec["t1"] = time.time()
            if self.enabled:
                self._stack.pop()
                if self._stack:
                    up = self._stack[-1]
                    self.sc.setJobGroup(f"perfbench:{up['id']}", up["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)

    def collect(self) -> None:
        """Copy the jobs and stages of spans closed since the last call out
        of the status store (outside the timed region, before the store
        evicts them)."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        jvm, gw = self.sc._jvm, self.sc._gateway
        store = jsc.statusStore()
        tracker = self.sc.statusTracker()
        for rec in self.spans[self._collected:]:
            for jid in tracker.getJobIdsForGroup(f"perfbench:{rec['id']}"):
                j = store.job(jid)
                sub, end = j.submissionTime(), j.completionTime()
                stage_ids = [j.stageIds().apply(k) for k in range(j.stageIds().size())]
                self._jobs[jid] = {
                    "span": rec["id"],
                    "t0": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    "t1": end.get().getTime() / 1000.0 if end.isDefined() else None,
                    "stages": stage_ids,
                }
                for sid in stage_ids:
                    if sid in self._stages:
                        continue
                    acc = self._stages[sid] = {"cpu_ns": 0, "input": 0, "shuffle_write": 0}
                    try:
                        attempts = store.stageData(sid, False, jvm.java.util.ArrayList(),
                                                   False, gw.new_array(jvm.double, 0))
                    except Py4JJavaError:
                        continue  # a skipped stage never ran
                    for k in range(attempts.size()):
                        st = attempts.apply(k)
                        acc["cpu_ns"] += st.executorCpuTime()
                        acc["input"] += st.inputBytes()
                        acc["shuffle_write"] += st.shuffleWriteBytes()
        self._collected = len(self.spans)

    def _subtree(self, span_id: int) -> set[int]:
        ids = {span_id}
        for s in self.spans[span_id + 1:]:
            if s["parent"] in ids:
                ids.add(s["id"])
        return ids

    def figures(self, rec: dict) -> dict:
        """Wall time, job count, executor CPU, input and shuffle bytes of a
        span and its children, and its driver-only time: the part of the
        span's wall time during which none of its jobs was running."""
        ids = self._subtree(rec["id"])
        jobs = [j for j in self._jobs.values() if j["span"] in ids]
        seen: set[int] = set()
        cpu_ns = inp = shw = 0
        for j in jobs:
            for sid in j["stages"]:
                if sid in seen or sid not in self._stages:
                    continue
                seen.add(sid)
                st = self._stages[sid]
                cpu_ns += st["cpu_ns"]
                inp += st["input"]
                shw += st["shuffle_write"]
        t0, t1 = rec["t0"], rec["t1"]
        busy, cur_end = 0.0, t0
        for a, b in sorted(
            (max(j["t0"], t0), min(j["t1"], t1))
            for j in jobs if j["t0"] is not None and j["t1"] is not None
        ):
            a = max(a, cur_end)
            if b > a:
                busy += b - a
                cur_end = b
        wall = t1 - t0
        return {
            "wall_ms": wall * 1000.0,
            "jobs": len(jobs),
            "executor_cpu_s": cpu_ns / 1e9,
            "input_mb": inp / MB,
            "shuffle_write_mb": shw / MB,
            "driver_only_s": max(wall - busy, 0.0),
        }

    def write(self, path: str) -> None:
        import json

        with open(path, "w") as f:
            json.dump({"spans": self.spans,
                       "jobs": {str(k): v for k, v in self._jobs.items()},
                       "stages": {str(k): v for k, v in self._stages.items()}}, f)


class Run:
    """State of one benchmark run: operation counts, unit timings, and
    the per-layer figures gathered unit by unit."""

    def __init__(self, seconds: int, session: Session):
        self.seconds = seconds
        self.session = session
        self.peak_rss_mib = 0.0
        self.attempted = 0
        self.failed = 0
        self.failures: list[str] = []
        self.unit_ms: list[float] = []
        self.read_ms: list[float] = []
        self.rows = 0
        self.layer: dict[str, list[float]] = {}

    def check(self, ok: bool, what: str) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if not ok:
            self.failed += 1
            self.failures.append(what)

    def record(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(value)

    def loop(self, round_fn) -> None:
        """Run whole rounds until ``seconds`` of wall time have passed and
        at least ``MIN_ROUNDS`` ran, then read the peak memory (before any
        final check adds its own)."""
        t_end = time.perf_counter() + self.seconds
        rounds = 0
        while True:
            round_fn()
            rounds += 1
            if rounds >= MIN_ROUNDS and time.perf_counter() >= t_end:
                break
        self.peak_rss_mib = self.session.peak_rss_mib()

    def end_to_end(self, setup_s, stored_mb) -> dict:
        timed_s = sum(self.unit_ms) / 1000.0
        return {
            "setup_s": (setup_s, "s"),
            "rows_per_s": (self.rows / timed_s if timed_s else 0.0, "1/s"),
            "op_p50_ms": (median(self.unit_ms), "ms"),
            "read_p50_ms": (median(self.read_ms), "ms"),
            "peak_rss_mb": (self.peak_rss_mib, "MiB"),
            "stored_mb": (stored_mb, "MB"),
        }
