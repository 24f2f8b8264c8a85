"""lakehouse_dml: change cycles on one keyed versioned table, beside
analyst reads at the latest snapshot and by time travel.

A round starts from a copy of the initial table and runs one change
cycle: a copy-on-write MERGE upsert, a MERGE with deletion vectors, a
deletion-vector DELETE and a copy-on-write UPDATE, then a compaction and
a vacuum. The analyst reads run over the deletion vectors (the latest
snapshot and the cycle's starting snapshot by time travel) and again
after compaction (the latest snapshot). The generator writes the initial
rows and every MERGE source as parquet files directly (pyarrow, no Spark
job), and applies the same MERGE / DELETE / UPDATE semantics to an
in-memory model, which every output is checked against.
"""

from __future__ import annotations

import os
import random
import shutil
import time
import zlib

import pyarrow as pa
import pyarrow.parquet as pq

from harness import READ_REPS, WARMUP_UNITS, dir_bytes, median

N_ROWS = 20_000          # initial table rows
N_FILES = 8              # initial table data files
SRC_ROWS = 1_000         # rows per MERGE source, 60% matching keys
CATS = 16
UPDATE_SPAN = 800        # ids per UPDATE range
COLUMNS = ["id", "cat", "amount", "qty", "note", "ver"]
MERGE_SET = {"amount": "t.amount + s.amount", "note": "s.note", "ver": "s.ver"}


def _row_key(row) -> int:
    return zlib.crc32("|".join(str(v) for v in row).encode())


class Model:
    """The table as a dict id -> row, with the DML semantics applied in
    Python."""

    def __init__(self, rows: dict):
        self.rows = dict(rows)

    def merge(self, source: list) -> dict:
        stats = {"n_updated": 0, "n_deleted": 0, "n_inserted": 0}
        for s in source:
            t = self.rows.get(s[0])
            if t is None:
                self.rows[s[0]] = s
                stats["n_inserted"] += 1
            else:
                self.rows[s[0]] = (t[0], t[1], t[2] + s[2], t[3], s[4], s[5])
                stats["n_updated"] += 1
        return stats

    def delete_mod(self, mod: int, rem: int) -> int:
        gone = [k for k in self.rows if k % mod == rem]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def update_range(self, lo: int, hi: int, ver: int) -> int:
        n = 0
        for k, t in self.rows.items():
            if lo <= k <= hi:
                self.rows[k] = (t[0], t[1], t[2], t[3] + 1, t[4], ver)
                n += 1
        return n

    def checksum(self) -> tuple[int, int]:
        return len(self.rows), sum(_row_key(r) for r in self.rows.values())

    def by_cat(self) -> dict:
        agg: dict[str, list] = {}
        for r in self.rows.values():
            a = agg.setdefault(r[1], [0, 0])
            a[0] += 1
            a[1] += r[2]
        return {k: tuple(v) for k, v in agg.items()}


def _write_rows(path: str, rows: list) -> None:
    cols = list(zip(*rows))
    pq.write_table(pa.table({c: pa.array(v, pa.int64() if c not in ("cat", "note")
                                         else pa.string())
                             for c, v in zip(COLUMNS, cols)}), path)


def generate(seed: int, src: str) -> tuple[list, dict]:
    """Write the initial rows and the MERGE sources; return the initial
    rows and the cycle's operations with the model's expectations."""
    r = random.Random(seed)
    os.makedirs(src, exist_ok=True)

    def note():
        return "".join(r.choice("abcdefghij") for _ in range(12))

    initial = [(i, f"c{r.randrange(CATS)}", r.randrange(10 ** 6), r.randrange(100), note(), 0)
               for i in range(1, N_ROWS + 1)]
    _write_rows(f"{src}/initial.parquet", initial)
    model = Model({row[0]: row for row in initial})
    next_id = N_ROWS + 1
    cyc = {"start_cat": model.by_cat(), "ops": []}
    for ver, kind in enumerate(("merge", "merge_dv"), start=1):
        hits = r.sample(sorted(model.rows), int(SRC_ROWS * 0.6))
        new = list(range(next_id, next_id + SRC_ROWS - len(hits)))
        next_id += len(new)
        source = [(k, f"c{r.randrange(CATS)}", r.randrange(1000), r.randrange(100),
                   note(), ver) for k in hits + new]
        path = f"{src}/{kind}.parquet"
        _write_rows(path, source)
        stats = model.merge(source)
        cyc["ops"].append({"kind": kind, "path": path, "rows": len(source),
                           "expect": stats, "sum": model.checksum()})
    rem = r.randrange(53)
    n = model.delete_mod(53, rem)
    cyc["ops"].append({"kind": "delete_dv", "mod": 53, "rem": rem, "expect": n,
                       "sum": model.checksum()})
    lo = r.randrange(1, next_id - UPDATE_SPAN)
    n = model.update_range(lo, lo + UPDATE_SPAN - 1, 3)
    cyc["ops"].append({"kind": "update", "lo": lo, "hi": lo + UPDATE_SPAN - 1,
                       "ver": 3, "expect": n, "sum": model.checksum()})
    cyc["end_cat"] = model.by_cat()
    return initial, cyc


def _checksums(spark, table: str, versions: list) -> dict:
    """version -> (rows, checksum) of those snapshots, in one Spark job
    (``None`` is the latest)."""
    from functools import reduce

    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators.versioned import read_versioned

    key = F.crc32(F.concat_ws("|", *[F.col(c).cast("string") for c in COLUMNS]).cast("binary"))
    parts = [read_versioned(spark, table, version=v).select(F.lit(i).alias("i"), key.alias("h"))
             for i, v in enumerate(versions)]
    rows = (reduce(lambda a, b: a.unionByName(b), parts).groupBy("i")
            .agg(F.count(F.lit(1)).alias("n"), F.sum("h").alias("s")).collect())
    got = {r["i"]: (r["n"], r["s"]) for r in rows}
    return {v: got.get(i, (0, 0)) for i, v in enumerate(versions)}


def _by_cat(spark, table: str, version=None) -> dict:
    """The analyst read: rows and amount per category."""
    from pyspark.sql import functions as F

    from datalake_scripts_spark.operators.versioned import read_versioned

    rows = (read_versioned(spark, table, version=version)
            .groupBy("cat").agg(F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"))
            .collect())
    return {r["cat"]: (r["n"], r["s"]) for r in rows}


def run(session, tracer, run_state, work: str, seed: int, setup_mark) -> dict:
    from datalake_scripts_spark.operators import versioned as V

    spark = session.spark
    initial, cyc = generate(seed, f"{work}/src")
    template, tbl = f"{work}/template", f"{work}/table"
    V.write_versioned(spark, spark.read.parquet(f"{work}/src/initial.parquet")
                      .repartition(N_FILES, "id").sortWithinPartitions("id"),
                      template, mode="overwrite")
    init_sum = Model({row[0]: row for row in initial}).checksum()
    stored = []

    def dml(op: dict) -> tuple[float, dict, dict]:
        """Run one change operation; return its time, result and span."""
        kind = op["kind"]
        source = (spark.read.parquet(op["path"]) if kind.startswith("merge") else None)
        t0 = time.perf_counter()
        with tracer.span(f"versioned.{kind}") as sp:
            if kind in ("merge", "merge_dv"):
                _v, res = V.merge_versioned(spark, tbl, source, on=["id"],
                                            when_matched_update=MERGE_SET,
                                            deletion_vectors=kind == "merge_dv")
            elif kind == "delete_dv":
                _v, res = V.delete_versioned(spark, tbl, f"id % {op['mod']} = {op['rem']}",
                                             deletion_vectors=True)
            else:
                _v, res = V.update_versioned(spark, tbl,
                                             f"id BETWEEN {op['lo']} AND {op['hi']}",
                                             {"qty": "qty + 1", "ver": str(op["ver"])})
        return (time.perf_counter() - t0) * 1000.0, res, sp

    def analyst_reads(plan: list, record: bool) -> tuple[list, dict]:
        """``READ_REPS`` repetitions of the reads in ``plan``; returns each
        repetition's total time and, per read, whether every answer
        matched the model."""
        totals, ok = [], {name: True for name, _v, _w in plan}
        for _ in range(READ_REPS):
            total = 0.0
            for name, version, want in plan:
                t0 = time.perf_counter()
                with tracer.span(f"versioned.{name}"):
                    got = _by_cat(spark, tbl, version)
                ms = (time.perf_counter() - t0) * 1000.0
                total += ms
                ok[name] &= got == want
                if record:
                    run_state.record(f"versioned.{name}_ms", ms)
            totals.append(total)
        return totals, ok

    def one_round(record: bool = True):
        shutil.copytree(template, tbl)
        versions = [V.current_version(tbl)]
        bytes0 = dir_bytes(tbl)
        cycle_ms, rewritten, rows, results = 0.0, 0, 0, []
        for op in cyc["ops"]:
            files0 = set(V.files_for_read(tbl))
            ms, res, sp = dml(op)
            cycle_ms += ms
            files1 = set(V.files_for_read(tbl))
            versions.append(V.current_version(tbl))
            rewritten += len(files0 - files1)
            rows += op.get("rows", 0)
            # a deletion-vector delete rewrites no data file
            results.append(res == op["expect"]
                           and (op["kind"] != "delete_dv" or files0 == files1))
            if record:
                _record_span(sp, op["kind"])
        # reads over the deletion vectors: the latest snapshot and the
        # cycle's starting snapshot by time travel
        before, ok_before = analyst_reads(
            [("read_latest", None, cyc["end_cat"]),
             ("read_time_travel", versions[0], cyc["start_cat"])], record)
        if record:
            # every committed snapshot of the cycle against the model
            sums = _checksums(spark, tbl, versions)
            run_state.check(sums[versions[0]] == init_sum, "initial snapshot")
            for op, v, ok in zip(cyc["ops"], versions[1:], results):
                run_state.check(ok and sums[v] == op["sum"], f"{op['kind']} v{v}")
            run_state.record("versioned.files_rewritten", rewritten)
            run_state.record("versioned.bytes_written_mb", (dir_bytes(tbl) - bytes0) / 1e6)
        # compaction and vacuum close the cycle and count in its time
        for name, fn in (("compact", lambda: V.compact_versioned(spark, tbl, target_files=4)),
                         ("vacuum", lambda: V.vacuum(tbl, keep_last=2))):
            t0 = time.perf_counter()
            with tracer.span(f"versioned.{name}") as sp:
                fn()
            cycle_ms += (time.perf_counter() - t0) * 1000.0
            if record:
                _record_span(sp, name)
        # the latest snapshot again, now over the compacted files
        after, ok_after = analyst_reads(
            [("read_compacted", None, cyc["end_cat"])], record)
        if record:
            run_state.unit_ms.append(cycle_ms)
            run_state.rows += rows
            # one analyst read is the latest snapshot and the time-travel
            # snapshot before compaction, and the latest one after it
            run_state.read_ms.extend(a + b for a, b in zip(before, after))
            for name, ok in {**ok_before, **ok_after}.items():
                run_state.check(ok, name)
            latest = V.current_version(tbl)
            run_state.check(_checksums(spark, tbl, [latest])[latest] == cyc["ops"][-1]["sum"],
                            "compact + vacuum")
            stored.append(dir_bytes(tbl) / 1e6)
        session.hygiene(tbl)

    def _record_span(sp: dict, name: str) -> None:
        if tracer.enabled:
            tracer.collect()
            f = tracer.figures(sp)
            run_state.record(f"versioned.{name}_ms", f["wall_ms"])
            for k in ("jobs", "shuffle_write_mb", "executor_cpu_s", "driver_only_s"):
                run_state.record(f"versioned.{name}.{k}", f[k])

    for _ in range(WARMUP_UNITS):
        one_round(record=False)
    tracer.collect()
    setup_s = setup_mark()
    run_state.loop(one_round)
    return {"setup_s": setup_s, "stored_mb": median(stored)}
