#!/usr/bin/env python3
"""The repository benchmark: one closed-loop client in one process,
driving the product on ``local[nproc]`` with ``SPARK_GRAFT_CPUS=nproc``.

    python3 perfbench/run.py --workload ffi_bulk --seed 1 --seconds 5 --trace 0

Run it from the root of a checkout. Workloads (see perfbench/README.md):

  ffi_bulk     each operation backfills an empty warehouse from skewed
               FFI dumps through process_exports_glob, in a fresh JVM.
  query_mix    the 17 headline queries over seeded tables; each operation
               builds one query and materializes its full result.
  ffi_nightly  not in BENCHMARK.json: set-up runs the backfill; each
               operation then loads one night's full re-dump of one
               database through process_exports.

The last line of stdout is the result: ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``,
the per-layer metrics of the traced run with ``--trace 1``. The line
before it holds the details: host, per-operation latencies and checks,
and the set-up breakdown. Inputs come from ``--seed``; every operation's
output is checked outside the timed section.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shlex
import shutil
import statistics
import sys
import threading
import time
from dataclasses import dataclass
from typing import Callable

WORKLOADS = ("ffi_bulk", "ffi_nightly", "query_mix")
# driver heap, initial = maximum: several times what these inputs need,
# small beside the product's 8g default on a shared host, and fixed so
# that peak memory does not follow the JVM's heap-resizing decisions
DRIVER_HEAP = "2g"


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# -- processes -----------------------------------------------------------------


def _proc_table() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, resident bytes) for every visible process."""
    page = os.sysconf("SC_PAGE_SIZE")
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
            with open(f"/proc/{d}/statm") as f:
                resident = int(f.read().split()[1])
        except (OSError, IndexError, ValueError):
            continue  # raced with process exit
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        out[int(d)] = (ppid, resident * page)
    return out


def _tree(table: dict[int, tuple[int, int]], root: int) -> set[int]:
    """``root`` and its descendants."""
    tree = set()
    for pid in table:
        p = pid
        while p > 1 and p != root:
            p = table.get(p, (0, 0))[0]
        if p == root:
            tree.add(pid)
    return tree


class PeakRss:
    """Samples the RSS summed over this process and its descendants (the
    JVM and the Python workers) while active."""

    def __init__(self, period_s: float = 0.25):
        self.period_s = period_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        table = _proc_table()
        self.peak = max(self.peak, sum(table[p][1] for p in _tree(table, os.getpid())))

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.sample()
            self._stop.wait(self.period_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()
        self.sample()

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- summaries -----------------------------------------------------------------


def tail(latencies: list[float]) -> tuple[float, float]:
    """(value, percentile) of the highest percentile with at least ten
    samples above it; with ten samples or fewer, the maximum."""
    xs = sorted(latencies)
    n = len(xs)
    if n <= 10:
        return xs[-1], 100.0
    return xs[n - 11], 100.0 * (n - 10) / n


def dir_size(path: str) -> tuple[int, int]:
    """(bytes, files) under ``path``."""
    total = files = 0
    for dirpath, _dirs, names in os.walk(path):
        for name in names:
            total += os.path.getsize(os.path.join(dirpath, name))
            files += 1
    return total, files


def table_rows(warehouse: str, tables) -> dict[str, int]:
    """Rows on disk per warehouse table, from parquet footers."""
    import pyarrow.parquet as pq

    out = {}
    for t in tables:
        d = os.path.join(warehouse, t)
        names = os.listdir(d) if os.path.isdir(d) else []
        out[t] = sum(pq.ParquetFile(os.path.join(d, n)).metadata.num_rows
                     for n in names if n.endswith(".parquet"))
    return out


def _counts_equal(got: dict[str, int], expected: dict[str, int]) -> bool:
    return all(got.get(k, 0) == expected.get(k, 0) for k in got.keys() | expected.keys())


# -- workloads -----------------------------------------------------------------


@dataclass
class Op:
    """One operation: ``run`` is timed; ``check`` runs after it,
    untimed, and may fill in the warehouse figures."""

    label: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    source_rows: int
    source_bytes: int = 0
    offered_rows: int = 0
    bytes_written: int = 0
    files_written: int = 0


class FfiBulk:
    """A backfill. Set-up writes one full dump per database (sizes
    skewed 7:3:2); operation ``i`` loads all of them into the empty
    warehouse ``warehouse-<i>`` with process_exports_glob, the CLI's
    ``--glob``."""

    round_size = 1

    def __init__(self, seed: int, work: str):
        import ffigen

        self.gen = ffigen
        self.work = work
        self.dbs = ffigen.site(seed)
        self.base_dir = ""
        self.base_bytes = self.base_rows = 0

    def build_inputs(self, dest: str) -> None:
        os.makedirs(dest)
        for d in self.dbs:
            nbytes, nrows = self.gen.write_dump(
                d, self.gen.BASE_SEASONS, os.path.join(dest, f"ffi_{d.tag}.xml"))
            self.base_bytes += nbytes
            self.base_rows += nrows
        self.base_dir = dest

    def warm(self, spark) -> bool:
        """Nothing: the backfill runs in the run's fresh JVM, as a CLI
        backfill does."""
        return True

    def backfill(self, spark, warehouse: str) -> Op:
        from ffi_export_etl_spark.plans import batch_driver

        files = sorted(os.path.join(self.base_dir, f) for f in os.listdir(self.base_dir))
        expected: dict[str, int] = {}
        for d in self.dbs:
            expected = self.gen.add_counts(
                expected, self.gen.expected_inserts(d, range(self.gen.BASE_SEASONS)))

        def check(result) -> bool:
            op.bytes_written, op.files_written = dir_size(warehouse)
            return (_counts_equal(result or {}, expected)
                    and table_rows(warehouse, self.gen.TABLES) == expected
                    and set(files) <= _loaded(warehouse))

        op = Op(
            label="backfill",
            run=lambda: batch_driver.process_exports_glob(
                spark, os.path.join(self.base_dir, "*.xml"), warehouse),
            check=check,
            source_rows=self.base_rows,
            source_bytes=self.base_bytes,
            offered_rows=sum(expected.values()),
        )
        return op

    def prepare(self, i: int, spark) -> Op:
        return self.backfill(spark, os.path.join(self.work, f"warehouse-{i}"))


def _loaded(warehouse: str) -> set[str]:
    """Files the warehouse's ledger lists as loaded."""
    from ffi_export_etl_spark.sinks.files import ProcessedLedger

    return ProcessedLedger(os.path.join(warehouse, "_processed.jsonl")).processed()


class FfiNightly(FfiBulk):
    """Set-up runs the backfill; operation ``i`` then writes the next
    season's full re-dump of one database, largest first, and loads it
    with process_exports, the CLI's default per-file mode."""

    def __init__(self, seed: int, work: str):
        super().__init__(seed, work)
        self.warehouse = os.path.join(work, "warehouse")
        self.nights = os.path.join(work, "nights")
        self.seasons = {d.db: self.gen.BASE_SEASONS for d in self.dbs}
        self.order = sorted(self.dbs, key=lambda d: (-len(d.plots), d.db))
        self.backfill_s = 0.0

    def warm(self, spark) -> bool:
        """Backfill the warehouse and check it."""
        op = self.backfill(spark, self.warehouse)
        t0 = time.perf_counter()
        result = op.run()
        self.backfill_s = time.perf_counter() - t0
        return op.check(result)

    def prepare(self, i: int, spark) -> Op:
        from ffi_export_etl_spark.plans import batch_driver

        d = self.order[i % len(self.order)]
        s = self.seasons[d.db]
        self.seasons[d.db] = s + 1
        os.makedirs(self.nights, exist_ok=True)
        path = os.path.join(self.nights, f"ffi_{d.tag}_s{s + 1:03d}.xml")
        nbytes, nrows = self.gen.write_dump(d, s + 1, path)
        expected = self.gen.expected_inserts(d, range(s, s + 1))
        rows_before = table_rows(self.warehouse, self.gen.TABLES)
        size_before = dir_size(self.warehouse)

        def check(result) -> bool:
            rows_after = table_rows(self.warehouse, self.gen.TABLES)
            size_after = dir_size(self.warehouse)
            op.bytes_written = size_after[0] - size_before[0]
            op.files_written = size_after[1] - size_before[1]
            on_disk = {t: rows_after[t] - rows_before[t] for t in rows_after}
            return (_counts_equal((result or {}).get(path, {}), expected)
                    and on_disk == expected
                    and path in _loaded(self.warehouse))

        op = Op(
            label=f"{d.tag}/s{s + 1}",
            run=lambda: batch_driver.process_exports(spark, path, self.warehouse),
            check=check,
            source_rows=nrows,
            source_bytes=nbytes,
            offered_rows=sum(self.gen.expected_inserts(d, range(s + 1)).values()),
        )
        return op


class QueryMix:
    """The 17 frozen headline queries (bench.BENCH_QUERIES) over seeded
    tables. Set-up writes the tables, then computes each query's DuckDB
    twin. Operation ``i`` builds query ``i mod 17`` and materializes its
    full result on the driver; the result is compared with the twin
    outside the timed section. A round runs every query once, in the
    frozen order, starting from a session that has run no query yet."""

    def __init__(self, seed: int, tracer=None):
        from bench import BENCH_QUERIES

        self.seed = seed
        self.tracer = tracer
        self.names = list(BENCH_QUERIES)
        self.round_size = len(self.names)
        self.data = ""
        self.table_rows: dict[str, int] = {}
        self.oracle: dict = {}
        self.rows_read: dict[str, int] = {}
        self.queries: dict = {}

    def build_inputs(self, dest: str) -> None:
        import querygen

        self.table_rows = querygen.write(self.seed, querygen.SCALE, dest)
        self.data = dest

    def warm(self, spark) -> bool:
        """Compute every query's DuckDB twin and load the registry."""
        from tests.oracle_utils import _normalize, duck_connection

        import __spark_entry__ as entry

        sql = entry.oracle_sql()
        con = duck_connection(self.data)
        try:
            self.oracle = {
                q: _normalize(con.execute(sql[q]).fetchdf()) for q in self.names
            }
        finally:
            con.close()
        # input rows a query reads: every table its SQL twin names
        self.rows_read = {
            q: sum(n for t, n in self.table_rows.items()
                   if re.search(rf"\b{t}\b", sql[q]))
            for q in self.names
        }
        self.queries = entry.queries()
        return True

    def prepare(self, i: int, spark) -> Op:
        from tests.oracle_utils import _normalize

        q = self.names[i % len(self.names)]
        tracer = self.tracer

        def run():
            if tracer is None:
                return self.queries[q](spark, self.data).toPandas()
            with tracer.span("queries", f"build:{q}"):
                df = self.queries[q](spark, self.data)
            with tracer.span("queries", f"exec:{q}"):
                return df.toPandas()

        return Op(
            label=q,
            run=run,
            check=lambda result: _same_result(_normalize(result), self.oracle[q]),
            source_rows=self.rows_read[q],
        )


def _same_result(mine, theirs) -> bool:
    """tests/oracle_utils.compare_to_oracle's rule on normalized frames:
    same columns, row count, numeric kinds and values."""
    if list(mine.columns) != list(theirs.columns) or len(mine) != len(theirs):
        return False
    numeric = {"i", "u", "f"}
    for c in mine.columns:
        a, b = mine[c], theirs[c]
        ka, kb = a.dtype.kind, b.dtype.kind
        if (ka in numeric or kb in numeric) and (
            (ka in "iu") != (kb in "iu") or (ka == "f") != (kb == "f")
        ):
            return False
        if not ((a == b) | (a.isna() & b.isna())).all():
            return False
    return True


# -- session -------------------------------------------------------------------


def configure_env(root: str, work: str, trace: bool) -> None:
    """Environment for the product and Spark, set before pyspark starts
    the JVM: parallelism = nproc, a fixed driver heap, every scratch path
    inside ``work``, and for the traced run an uncompressed, non-rolling
    event log."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    confs = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
    }
    if trace:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir)
        confs.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": f"file://{log_dir}",
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    args = ["--driver-java-options",
            f"-Xms{DRIVER_HEAP} -Djava.io.tmpdir={tmp} -XX:-UsePerfData"]
    for k, v in confs.items():
        args += ["--conf", f"{k}={v}"]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])
    sys.path.insert(0, root)


def stop_spark(spark) -> None:
    """Stop Spark and the JVM, and wait until the JVM and every process
    it started (the Python workers) have exited."""
    gateway = spark.sparkContext._gateway
    started = _tree(_proc_table(), os.getpid()) - {os.getpid()}
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    deadline = time.monotonic() + 30
    while started & set(_proc_table()) and time.monotonic() < deadline:
        time.sleep(0.1)


# -- the run -------------------------------------------------------------------


def run(args, work: str) -> tuple[dict, dict]:
    import bench

    cpu0 = bench.proc_cpu_snapshot()
    load0 = os.getloadavg()[0]
    t = time.perf_counter()
    from ffi_export_etl_spark.session import get_spark

    spark = get_spark(app_name=f"perfbench-{args.workload}")
    spark.sparkContext.setLogLevel("ERROR")
    session_s = time.perf_counter() - t
    tracer = None
    try:
        if args.trace:
            import spans

            tracer = spans.Tracer(spark)
            tracer.install()
        if args.workload == "ffi_bulk":
            wl = FfiBulk(args.seed, work)
        elif args.workload == "ffi_nightly":
            wl = FfiNightly(args.seed, work)
        else:
            wl = QueryMix(args.seed, tracer)

        t = time.perf_counter()
        wl.build_inputs(os.path.join(work, "inputs"))
        build_s = time.perf_counter() - t
        if tracer is not None:
            tracer.op = -1  # the warm phase's spans, kept apart
        t = time.perf_counter()
        setup_ok = wl.warm(spark)
        warm_s = time.perf_counter() - t

        ops: list[Op] = []
        lat: list[float] = []
        checks: list[bool] = []
        with PeakRss() as rss:
            t_loop = time.perf_counter()
            # whole rounds only, so that every run has the same operations
            while len(ops) % wl.round_size or not ops or (
                time.perf_counter() - t_loop < args.seconds
            ):
                i = len(ops)
                op = wl.prepare(i, spark)
                if tracer is not None:
                    tracer.op = i
                t = time.perf_counter()
                try:
                    if tracer is None:
                        result = op.run()
                    else:
                        with tracer.span("harness", op.label):
                            result = op.run()
                    ok = True
                except Exception as e:  # counted as failed, the run goes on
                    print(f"perfbench: {op.label} raised {e!r}", file=sys.stderr)
                    result, ok = None, False
                lat.append(time.perf_counter() - t)
                if tracer is not None:
                    tracer.op = None
                checks.append(ok and op.check(result))
                ops.append(op)
            loop_s = time.perf_counter() - t_loop
        host = {
            "nproc": nproc(),
            "SPARK_GRAFT_CPUS": os.environ["SPARK_GRAFT_CPUS"],
            "spark": spark.version,
            "java": spark.sparkContext._jvm.System.getProperty("java.version"),
            "loadavg_start": load0,
        }
    finally:
        if tracer is not None:
            tracer.uninstall()
        stop_spark(spark)
    host["loadavg_end"] = os.getloadavg()[0]
    host["foreign_cpu_s"] = bench.foreign_cpu_sec(cpu0, bench.proc_cpu_snapshot())

    # outputs cannot be trusted past a bad set-up
    failed = len(ops) if not setup_ok else sum(not c for c in checks)
    tail_v, tail_p = tail(lat)
    busy = sum(lat)
    detail = {
        "workload": args.workload,
        "seed": args.seed,
        "host": host,
        "setup": {"session_s": session_s, "input_build_s": build_s,
                  "warm_s": warm_s, "ok": setup_ok},
        "ops": [[op.label, x, c] for op, x, c in zip(ops, lat, checks)],
        "loop_s": loop_s,
        "latency_tail": {"percentile": tail_p, "samples": len(lat)},
    }
    if isinstance(wl, FfiNightly):
        detail["backfill_s"] = wl.backfill_s
    if isinstance(wl, FfiBulk):
        detail["warehouse_bytes_per_source_byte"] = (
            sum(op.bytes_written for op in ops) / sum(op.source_bytes for op in ops))
    if tracer is None:
        metrics = {
            "setup_s": (session_s + build_s + warm_s, "s"),
            "latency_p50_s": (statistics.median(lat), "s"),
            "latency_tail_s": (tail_v, "s"),
            "ops_per_s": (len(lat) / busy, "1/s"),
            "source_rows_per_s": (sum(op.source_rows for op in ops) / busy, "1/s"),
            "peak_rss_mb": (rss.peak_mb, "MB"),
        }
    else:
        log_dir = os.path.join(work, "eventlog")
        logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
        event_log = logs[0] if len(logs) == 1 else None
        metrics = traced_metrics(tracer, wl, ops, event_log, session_s, detail)
    result = {
        "correct": failed == 0,
        "attempted": len(ops),
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
    return detail, result


def traced_metrics(tracer, wl, ops: list[Op], event_log: str | None,
                   session_s: float, detail: dict) -> dict:
    """Per-layer metrics of the traced run, as means per operation."""
    import spans

    n = len(ops)
    idx = set(range(n))
    per_op = spans.layer_metrics(tracer, sorted(idx), event_log)
    timed = [sp for sp in tracer.spans if sp.op in idx]
    upserts = [sp for sp in timed if sp.name == "parquet_upsert"]
    waves = {sp.parent for sp in upserts}
    wave_wall = sum(sp.t1 - sp.t0 for sp in timed if sp.id in waves)
    inserted = sum(sp.attrs.get("rows", 0) for sp in upserts)
    offered = sum(op.offered_rows for op in ops)

    def span_time(prefix: str) -> float:
        return sum(sp.t1 - sp.t0 for sp in timed
                   if sp.layer == "queries" and sp.name.startswith(prefix)) / n

    out = {}
    for layer in spans.LAYERS:
        for m in spans.SPAN_METRICS + spans.STAGE_METRICS + ("driver_only_s",):
            unit = ("count/op" if m.endswith(("calls", "jobs", "tasks"))
                    else "B/op" if m.endswith("bytes") else "s/op")
            out[f"{layer}.{m}"] = (per_op[f"{layer}.{m}"], unit)
    out.update({
        "sources.xml.bytes_in": (sum(op.source_bytes for op in ops) / n, "B/op"),
        "sinks.files.insert_ratio": (inserted / offered if offered else 0.0, "ratio"),
        "sinks.files.bytes_written": (sum(op.bytes_written for op in ops) / n, "B/op"),
        "sinks.files.files_written": (sum(op.files_written for op in ops) / n, "count/op"),
        "parallel.upsert_concurrency": (
            sum(sp.t1 - sp.t0 for sp in upserts) / wave_wall if wave_wall else 0.0,
            "ratio"),
        "parallel.self_s": (per_op.get("parallel.self_s", 0.0), "s/op"),
        "queries.build_s": (span_time("build:"), "s/op"),
        "queries.exec_s": (span_time("exec:"), "s/op"),
        "session.get_spark_s": (session_s, "s"),
        "harness.self_s": (per_op.get("harness.self_s", 0.0), "s/op"),
        "trace.overhead_s": (sum(tracer.bookkeeping_s.get(i, 0.0) for i in idx) / n,
                             "s/op"),
    })
    detail["trace"] = {
        "event_log_parsed": event_log is not None,
        "self_s_sum_per_op": sum(v for k, v in per_op.items() if k.endswith(".self_s")),
        "op_wall_per_op": sum(sp.t1 - sp.t0 for sp in timed if sp.layer == "harness") / n,
        "rows_inserted": inserted,
        "rows_offered": offered,
    }
    if isinstance(wl, FfiNightly):
        back = spans.layer_metrics(tracer, [-1], event_log)
        detail["trace"]["backfill_layers"] = {k: v for k, v in back.items() if v}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    missing = [p for p in ("ffi_export_etl_spark/__init__.py", "bench.py",
                           "__spark_entry__.py", "tests/oracle_utils.py")
               if not os.path.isfile(os.path.join(root, p))]
    if missing:
        print(f"perfbench: not the root of a checkout (missing {', '.join(missing)})",
              file=sys.stderr)
        return 2
    work = os.path.join(root, ".perfbench_work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work)
    try:
        configure_env(root, work, bool(args.trace))
        detail, result = run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(detail))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
