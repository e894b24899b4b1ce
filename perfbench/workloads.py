"""The workloads, driven from one client thread in a closed loop:
each call into the engine waits for the previous one to finish.

Every call goes through the public API (``SerieslyDB``,
``QueryCache``/``db_version``, ``ContinuousRollup``, ``run_with_timeout``,
``to_seriesly_json``) and every result is checked against the DuckDB
mirror. A run repeats whole rounds of its workload until the engine time
of the timed loop reaches ``--seconds``, so every run holds the same mix
of operations.
"""

from __future__ import annotations

import math
import os
import random
import statistics
import sys
import time
import traceback

import pyarrow.parquet as pq

from seriesly_spark.db import SerieslyDB
from seriesly_spark.plans.cache import QueryCache, db_version
from seriesly_spark.plans.emit import to_seriesly_json
from seriesly_spark.plans.limits import QueryTimeout, run_with_timeout
from seriesly_spark.plans.rollup import ContinuousRollup
from seriesly_spark.session import get_spark

import gen
from oracle import Mirror, check_result, check_rollup
from tracing import Tracer, median

DB = "metrics"
QUERY_TIMEOUT_S = 60.0
CYCLES_PER_ROUND = 2  # timed cycles between two looks at the clock
COMMITS = 10  # commit samples per run: the loop's flushes, topped up after it
CPUS = len(os.sched_getaffinity(0))

# Per-workload sizes; README.md gives the reasons.
SIZES = {
    "dashboard": {"docs": 12_000, "days": 3},
    "scan": {"docs": 12_000, "days": 3},
}


def _pctl(xs: list[float], p: float) -> float:
    """Nearest-rank percentile: the ceil(p * n)-th smallest value."""
    s = sorted(xs)
    return s[max(0, math.ceil(round(p * len(s), 9)) - 1)]


def _query_classes(q) -> list[str]:
    reds = {r for _, r in q.fields}
    out = []
    if reds <= {"sum", "sumsq", "max", "min", "avg", "count"}:
        out.append("numeric")
    if reds & {"distinct", "identity"}:
        out.append("list")
    if reds & {"obj_keys"}:
        out.append("obj")
    if reds & {"c", "c_min", "c_avg", "c_max"}:
        out.append("rate")
    if q.filters:
        out.append("filtered")
    if len({p for p, _ in q.fields}) > 1:
        out.append("multi_ptr")
    return out


def _data_files(path: str) -> dict[str, int]:
    """Parquet data file -> size (the commit log's hidden dir excluded)."""
    out = {}
    for dirpath, dirnames, files in os.walk(path):
        dirnames[:] = [d for d in dirnames if not d.startswith(".")]
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(dirpath, f)
                out[p] = os.path.getsize(p)
    return out


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool, work: str):
        self.workload = workload
        self.seed = seed
        self.seconds = seconds
        self.work = work
        self.size = SIZES[workload]
        self.tr = Tracer(trace)
        self.trace = trace
        self.mirror = Mirror()
        self.spark = None
        self.dbs: SerieslyDB | None = None
        # Scratch locations inside the checkout, and one change to the
        # engine's configuration: the JVM heap is pinned at 1 GiB (the
        # engine's default is an 8 GiB maximum that G1 grows into), so that
        # the JVM's VmHWM does not follow the collector's heap-growth
        # decisions from run to run.
        self.conf = {
            "spark.driver.memory": "1g",
            "spark.local.dir": os.path.join(work, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData -Xms1g",
        }
        # Results.
        self.setup_s = 0.0
        self.query_ms: list[float] = []
        self.query_docs = 0
        self.commit_ms: list[float] = []
        self.loop_s = 0.0
        self.cycles = 0
        self.loop_ops: set[int] = set()  # tracer op ids of the timed loop
        self.flush_s = 0.0
        self.loop_docs = 0
        self.flush_docs = 0
        self.phase = "cold"
        self.completed = 0
        self.attempted = 0
        self.failed = 0
        self.timeouts = 0
        self.heap_after_gc = 0.0
        self.cache_lookups = 0
        self.cache_hits = 0
        self.scan_rows = [0, 0]  # footer rows in overlapping partitions, live rows in range
        self.errors: list[str] = []
        self.wall: dict[str, float] = {}

    def rnd(self, stream: str) -> random.Random:
        return random.Random(f"{self.seed}:{self.workload}:{stream}")

    # -- set-up -------------------------------------------------------------

    def setup(self, rows: list[tuple[int, str]]) -> None:
        """The timed set-up, once: session start (it launches the JVM) +
        bulk ``write_batch`` load + ``compact`` of the initial database."""
        t_setup = time.perf_counter()
        self.mirror.upsert(rows)
        t0 = time.perf_counter()
        with self.tr.span("session.get_spark", phase=self.phase):
            self.spark = get_spark("perfbench", cpus=CPUS, extra_conf=self.conf)
        self.tr.bind(self.spark.sparkContext)
        self.dbs = SerieslyDB(self.spark, os.path.join(self.work, "db"))
        self.dbs.create(DB)
        self._write_batch(rows)
        self._compact()
        self.setup_s = time.perf_counter() - t0
        self.wall["setup"] = time.perf_counter() - t_setup
        self.jvm_pid = self.spark._jvm.java.lang.ProcessHandle.current().pid()

    def loop(self, cycle) -> None:
        """The timed loop. ``cycle`` runs one whole cycle of the workload's
        operations. One untimed warm-up cycle runs first, its results still
        checked: a fresh JVM runs each kind of operation slowly until it has
        been compiled (on scan the first cycle is ~20% slower than the
        next), and seriesly is a long-running server, so the loop measures
        it warm. Then rounds of ``CYCLES_PER_ROUND`` whole cycles run until
        the loop's engine time reaches ``--seconds``, so every run holds
        whole cycles of the same mix, and as long as a round outlasts
        ``--seconds`` every run holds the same number of them."""
        self.phase = "warm"
        t0 = time.perf_counter()
        cycle()
        self.phase = "loop"
        t1 = time.perf_counter()
        self.wall["warm-up cycle"] = t1 - t0
        while self.loop_s < self.seconds:
            for _ in range(CYCLES_PER_ROUND):
                cycle()
                self.cycles += 1
        self.wall["loop"] = time.perf_counter() - t1

    # -- engine calls (timed) -----------------------------------------------

    def _write_batch(self, rows) -> float:
        before = _data_files(self.dbs._path(DB)) if self.trace else None
        with self.tr.span("db.write_batch", phase=self.phase) as sp:
            t0 = time.perf_counter()
            keys = self.dbs.write_batch(DB, rows)
            dt = time.perf_counter() - t0
        if keys != [k for k, _ in rows]:
            raise AssertionError("write_batch returned keys that differ from the input")
        if self.trace:
            sp.attrs["files_added"] = len(set(_data_files(self.dbs._path(DB))) - set(before))
        return dt

    def _compact(self) -> float:
        before = _data_files(self.dbs._path(DB)) if self.trace else None
        with self.tr.span("db.compact", phase=self.phase) as sp:
            t0 = time.perf_counter()
            self.dbs.compact(DB)
            dt = time.perf_counter() - t0
        if self.trace:
            after = _data_files(self.dbs._path(DB))
            sp.attrs["bytes_rewritten"] = sum(v for p, v in after.items() if p not in before)
        return dt

    def _op(self, fn) -> bool:
        """One checked operation: ``fn`` returns its engine time in
        seconds, or raises. Counts attempts and failures; the time counts
        toward the timed loop, or toward the post-loop flushes (a warm-up
        op's toward neither)."""
        self.attempted += 1
        self.tr.next_op()
        if self.phase == "loop":
            self.loop_ops.add(self.tr.op)
        t0 = time.perf_counter()
        ok = False
        try:
            dt = fn()
            ok = True
        except QueryTimeout as e:
            self.timeouts += 1
            self._fail(e)
        except Exception as e:  # an op that raised counts as failed; the run goes on
            self._fail(e)
        if not ok:
            dt = time.perf_counter() - t0
        if self.phase == "loop":
            self.loop_s += dt
            self.completed += ok
        elif self.phase == "flush":
            self.flush_s += dt
        if self.trace:
            self._poll_heap()
        return ok

    def _poll_heap(self) -> None:
        """Traced run only: heap in use right after the last collection,
        summed over the JVM's heap pools; the run keeps the largest. The
        pinned heap sets the JVM's resident size, this follows what the
        engine keeps alive."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        used = 0
        for pool in mf.getMemoryPoolMXBeans():
            after = pool.getCollectionUsage()
            if pool.getType().toString() == "Heap memory" and after is not None:
                used += after.getUsed()
        self.heap_after_gc = max(self.heap_after_gc, used / 2**20)

    def _fail(self, e: BaseException) -> None:
        self.failed += 1
        if len(self.errors) < 5:
            self.errors.append("".join(traceback.format_exception(e)))
            print(self.errors[-1], file=sys.stderr)

    def commit(self, rows) -> None:
        def run() -> float:
            dt = self._write_batch(rows)
            self.mirror.upsert(rows)
            if self.phase == "loop":
                self.loop_docs += len(rows)
            elif self.phase == "flush":
                self.flush_docs += len(rows)
            else:
                return dt  # the warm-up cycle's flush is no sample
            self.commit_ms.append(dt * 1000.0)
            return dt

        self._op(run)

    def compact(self) -> None:
        self._op(self._compact)

    def delete_range(self, lo: int, hi: int) -> None:
        def run() -> float:
            with self.tr.span("db.delete_range"):
                t0 = time.perf_counter()
                self.dbs.delete_range(DB, lo, hi)
                dt = time.perf_counter() - t0
            self.mirror.delete_range(lo, hi)
            return dt

        self._op(run)

    def query(self, q, cache: QueryCache | None = None) -> None:
        def run() -> float:
            expected = self.mirror.query(q)
            live = self.mirror.count(q.from_ts, q.to_ts)
            held = {}

            def action() -> str:
                hits = cache.hits if cache else 0
                with self.tr.span("op.compile") as sp:
                    df = cache.query(DB, q) if cache else self.dbs.query(DB, q)
                if cache:
                    sp.attrs["hit"] = cache.hits > hits
                with self.tr.span("op.emit"):
                    out = to_seriesly_json(df, q.aliases)
                held["df"] = df
                return out

            hits0 = cache.hits if cache else 0
            with self.tr.span("query", classes=_query_classes(q)):
                t0 = time.perf_counter()
                rendered = run_with_timeout(self.spark, action, QUERY_TIMEOUT_S)
                dt = time.perf_counter() - t0
            bad = check_result(q, rendered, expected)
            if bad:
                raise AssertionError(f"query result differs from the oracle: {bad}")
            if self.phase != "loop":
                return dt  # the warm-up cycle's queries are no samples
            if cache:
                self.cache_lookups += 1
                self.cache_hits += cache.hits - hits0
            if self.trace:
                self._probe(q, live, cache, held["df"])
            self.query_ms.append(dt * 1000.0)
            self.query_docs += live
            return dt

        self._op(run)

    def _probe(self, q, live: int, cache, emitted) -> None:
        """Traced run only: the layers of one query, called after and apart
        from the timed operation so that it runs as in an untraced run."""
        with self.tr.span("emit.collect"):
            emitted.collect()
        with self.tr.span("db.df"):
            self.dbs.df(DB, q.from_ts, q.to_ts)
        with self.tr.span("query.compile"):
            df = self.dbs.query(DB, q)
        with self.tr.span("query.execute", classes=_query_classes(q)):
            df.collect()
        if cache:
            with self.tr.span("cache.version"):
                db_version(self.dbs, DB)
        lo_d, hi_d = _date(q.from_ts), _date(q.to_ts)
        rows = 0
        for p in _data_files(self.dbs._path(DB)):
            d = os.path.basename(os.path.dirname(p)).removeprefix("date=")
            if lo_d <= d <= hi_d:
                rows += pq.read_metadata(p).num_rows
        self.scan_rows[0] += rows
        self.scan_rows[1] += live

    def rollup(self, ru: ContinuousRollup) -> None:
        def run() -> float:
            t0 = time.perf_counter()
            with self.tr.span("rollup.refresh") as sp:
                res = ru.refresh()
            sp.attrs["dates_recomputed"] = res["changed"]
            with self.tr.span("rollup.read"):
                rows = ru.read().collect()
            dt = time.perf_counter() - t0
            bad = check_rollup(rows, self.mirror.rollup(ru.group_ms, ru.pointer))
            if bad:
                raise AssertionError(f"rollup differs from the oracle: {bad}")
            return dt

        self._op(run)

    # -- end of run ---------------------------------------------------------

    def flushes(self, stream: "gen.IngestStream") -> None:
        """Back-to-back collector flushes after the timed loop, until the
        run holds ``COMMITS`` commit-latency samples."""
        self.phase = "flush"
        t0 = time.perf_counter()
        for _ in range(COMMITS - len(self.commit_ms)):
            self.commit(stream.batch())
        self.wall["flushes"] = time.perf_counter() - t0

    def finish(self) -> dict:
        """Final ``info`` (checked against the mirror), storage and memory."""
        t0 = time.perf_counter()
        self.attempted += 1
        info = None
        try:
            with self.tr.span("db.info"):
                info = self.dbs.info(DB)
            if info["doc_count"] != self.mirror.count():
                raise AssertionError(
                    f"info doc_count {info['doc_count']} != live docs {self.mirror.count()}")
        except Exception as e:  # counted as a failed op like any other
            self._fail(e)
        path = self.dbs._path(DB)
        log_dir = os.path.join(path, ".changelog")
        self.wall["finish"] = time.perf_counter() - t0
        return {
            "space_used": info["space_used"] if info else sum(_data_files(path).values()),
            "doc_bytes": self.mirror.doc_bytes(),
            "live_files": len(_data_files(path)),
            "changelog_segments": len(os.listdir(log_dir)) if os.path.isdir(log_dir) else 0,
            "rss_mb": (_vm_hwm_kb(os.getpid()) + _vm_hwm_kb(self.jvm_pid)) / 1024.0,
        }

    def close(self) -> None:
        self.mirror.close()
        if self.spark is not None:
            self.spark.stop()

    # -- metrics ------------------------------------------------------------

    def end_to_end(self, fin: dict) -> dict[str, tuple[float, str]]:
        # Dashboard: docs over the whole loop, maintenance included. Scan,
        # whose loop does not write: docs over the post-loop flushes.
        if self.loop_docs:
            docs_per_s = self.loop_docs / self.loop_s
        else:
            docs_per_s = self.flush_docs / self.flush_s
        return {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (self.completed / self.loop_s, "ops/s"),
            "query_p50_ms": (statistics.median(self.query_ms), "ms"),
            "query_p90_ms": (_pctl(self.query_ms, 0.9), "ms"),
            "scan_docs_per_s": (self.query_docs / (sum(self.query_ms) / 1000.0), "docs/s"),
            "commit_p50_ms": (statistics.median(self.commit_ms), "ms"),
            "commit_p90_ms": (_pctl(self.commit_ms, 0.9), "ms"),
            "ingest_docs_per_s": (docs_per_s, "docs/s"),
            "peak_rss_mb": (fin["rss_mb"], "MB"),
            "storage_bytes_per_doc_byte": (fin["space_used"] / fin["doc_bytes"], "ratio"),
        }

    def per_layer(self, fin: dict) -> dict[str, tuple[float | None, str]]:
        """name -> (value, base) from the traced run's spans."""
        tr = self.tr

        def med(xs, what):
            xs = list(xs)
            return median(xs), f"median of {len(xs)} {what}"

        def phased(name):
            """The timed loop's calls, else the post-loop flushes', else the
            warm-up cycle's, else the set-up's."""
            spans = tr.named(name)
            for phase in ("loop", "flush", "warm", "cold"):
                hit = [s for s in spans if s.attrs["phase"] == phase]
                if hit:
                    return hit
            return []

        def where(spans):
            names = {"loop": "loop", "flush": "post-loop flush", "warm": "warm-up cycle",
                     "cold": "set-up"}
            return names[spans[0].attrs["phase"]] if spans else "no"

        commits, compacts = phased("db.write_batch"), phased("db.compact")
        c_what, k_what = f"{where(commits)} commits", f"{where(compacts)} compactions"
        def looped(name):
            """The spans of ops in the timed loop (not the warm-up cycle)."""
            return [s for s in tr.named(name) if s.op in self.loop_ops]

        ops = looped("query")
        execs = tr.named("query.execute")
        emits = {s.op: s for s in looped("op.emit")}
        emit_self = [emits[s.op].ms - s.ms for s in tr.named("emit.collect")]
        lookups = [s for s in looped("op.compile") if "hit" in s.attrs]
        timed = [s for s in tr.spans if s.op > 0 and s.name not in PROBES]
        out = {
            "session.get_spark_s": (tr.named("session.get_spark")[0].ms / 1000.0,
                                    "1 session start, which launches the JVM"),
            "db.write_batch_ms": med((s.ms for s in commits), c_what),
            "db.write_batch_jobs": med((tr.total_jobs(s)[0] for s in commits), c_what),
            "db.files_per_commit": med((s.attrs["files_added"] for s in commits), c_what),
            "db.live_files": (fin["live_files"], "parquet data files at the end of the run"),
            "db.changelog_segments": (fin["changelog_segments"],
                                      "commit-log files at the end of the run"),
            "db.df_ms": med((s.ms for s in tr.named("db.df")), "db.df calls, one per query"),
            "db.scan_rows_per_range_row": (
                self.scan_rows[0] / self.scan_rows[1] if self.scan_rows[1] else None,
                f"{self.scan_rows[0]} footer rows of overlapping partitions / "
                f"{self.scan_rows[1]} live docs in range, summed over queries"),
            "db.compact_ms": med((s.ms for s in compacts), k_what),
            "db.compact_bytes_rewritten": med((s.attrs["bytes_rewritten"] for s in compacts),
                                              k_what),
            "db.delete_range_ms": med((s.ms for s in looped("db.delete_range")),
                                      "delete_range calls"),
            "query.compile_ms": med((s.ms for s in tr.named("query.compile")),
                                    "dbs.query calls, no action"),
            "query.compile_jobs": med((tr.total_jobs(s)[0]
                                       for s in tr.named("query.compile")), "dbs.query calls"),
            "query.execute_ms": med((s.ms for s in execs), "collects of dbs.query plans"),
        }
        for cls in ("numeric", "list", "obj", "rate", "filtered", "multi_ptr"):
            out[f"query.execute_ms.{cls}"] = med(
                (s.ms for s in execs if cls in s.attrs["classes"]), f"{cls} collects")
        out.update({
            "query.jobs": med((tr.total_jobs(s)[0] for s in ops), "queries"),
            "query.tasks": med((tr.total_jobs(s)[1] for s in ops), "queries"),
            "emit.self_ms": med(emit_self, "to_seriesly_json calls minus a collect of the "
                                           "same plan"),
            "emit.jobs": med((tr.total_jobs(s)[0] for s in emits.values()),
                             "to_seriesly_json calls"),
            "cache.hit_ratio": (self.cache_hits / self.cache_lookups if self.cache_lookups
                                else None,
                                f"{self.cache_hits} hits / {self.cache_lookups} lookups"),
            "cache.version_ms": med((s.ms for s in tr.named("cache.version")),
                                    "db_version calls"),
            "cache.hit_ms": med((s.ms for s in lookups if s.attrs["hit"]),
                                "QueryCache.query hits"),
            "cache.miss_ms": med((s.ms for s in lookups if not s.attrs["hit"]),
                                 "QueryCache.query misses (compute and store)"),
            "rollup.refresh_ms": med((s.ms for s in looped("rollup.refresh")),
                                     "ContinuousRollup.refresh calls"),
            "rollup.dates_recomputed": med((s.attrs["dates_recomputed"]
                                            for s in looped("rollup.refresh")),
                                           "refreshes"),
            "limits.timeouts": (self.timeouts, f"QueryTimeouts in {len(ops)} queries"),
            "jvm.heap_after_gc_mb": (self.heap_after_gc, f"largest heap in use after a "
                                     f"collection, sampled after each of {self.attempted} ops"),
            "trace.overhead_ms": (sum(s.cost for s in timed) * 1000.0 / self.attempted,
                                  f"bookkeeping of spans inside timed ops / "
                                  f"{self.attempted} ops"),
        })
        return out


# Spans a traced run adds outside the timed operations.
PROBES = {"db.df", "query.compile", "query.execute", "cache.version", "emit.collect"}

# name -> (unit, the end-to-end metric it should move, on which workload)
LAYERS = {
    "session.get_spark_s": ("s", "setup_s, all workloads"),
    "db.write_batch_ms": ("ms", "commit_p50_ms and ingest_docs_per_s, both workloads"),
    "db.write_batch_jobs": ("count", "commit_p50_ms, both workloads"),
    "db.files_per_commit": ("count", "query_p50_ms and storage_bytes_per_doc_byte on "
                                     "dashboard"),
    "db.live_files": ("count", "query_p50_ms on dashboard"),
    "db.changelog_segments": ("count", "query_p50_ms on dashboard"),
    "db.df_ms": ("ms", "query_p50_ms on dashboard"),
    "db.scan_rows_per_range_row": ("ratio", "query_p50_ms on dashboard; "
                                            "scan_docs_per_s on scan"),
    "db.compact_ms": ("ms", "ingest_docs_per_s on dashboard; setup_s on scan"),
    "db.compact_bytes_rewritten": ("bytes", "ingest_docs_per_s on dashboard; setup_s on scan"),
    "db.delete_range_ms": ("ms", "ingest_docs_per_s on dashboard"),
    "query.compile_ms": ("ms", "query_p50_ms on dashboard"),
    "query.compile_jobs": ("count", "query_p50_ms on scan (rate class)"),
    "query.execute_ms": ("ms", "scan_docs_per_s on scan"),
    "query.execute_ms.numeric": ("ms", "scan_docs_per_s on scan (operators.reducers)"),
    "query.execute_ms.list": ("ms", "scan_docs_per_s on scan (operators.reducers)"),
    "query.execute_ms.obj": ("ms", "scan_docs_per_s on scan (functions.jsonptr)"),
    "query.execute_ms.rate": ("ms", "scan_docs_per_s on scan (operators.rate)"),
    "query.execute_ms.filtered": ("ms", "scan_docs_per_s on scan"),
    "query.execute_ms.multi_ptr": ("ms", "scan_docs_per_s on scan (functions.jsonptr)"),
    "query.jobs": ("count", "query_p50_ms on dashboard"),
    "query.tasks": ("count", "query_p50_ms on dashboard"),
    "emit.self_ms": ("ms", "query_p50_ms on dashboard"),
    "emit.jobs": ("count", "query_p50_ms on dashboard"),
    "cache.hit_ratio": ("ratio", "query_p50_ms on dashboard"),
    "cache.version_ms": ("ms", "query_p50_ms on dashboard"),
    "cache.hit_ms": ("ms", "query_p50_ms on dashboard"),
    "cache.miss_ms": ("ms", "query_p90_ms on dashboard"),
    "rollup.refresh_ms": ("ms", "ingest_docs_per_s on dashboard"),
    "rollup.dates_recomputed": ("count", "ingest_docs_per_s on dashboard"),
    "limits.timeouts": ("count", "error_rate, all workloads"),
    "jvm.heap_after_gc_mb": ("MB", "none below the 1 GiB heap pin, which hides it from "
                                   "peak_rss_mb; error_rate past it"),
    "trace.overhead_ms": ("ms", "none: the cost of tracing itself"),
}


def _date(ns: int) -> str:
    return time.strftime("%Y-%m-%d", time.gmtime(ns // 1_000_000_000))


# -- workloads --------------------------------------------------------------


def dashboard(b: Bench) -> None:
    """Serving mix. Per-query fixed cost (planning, file listing, job
    scheduling, cache fingerprinting, emit) over short windows that scan
    little, beside the write path and its background work. A cycle is one
    1000-doc collector flush (timestamps advance; some keys overwrite,
    some arrive late), then ten Zipf-drawn panel loads through
    ``QueryCache``, then a rollup refresh + read, ``compact``, and a
    retention ``delete_range`` of the oldest data the flush displaced."""
    n_days = b.size["days"]
    rows = gen.initial_docs(b.rnd("data"), b.size["docs"], n_days)
    b.setup(rows)
    stream = gen.IngestStream(b.rnd("stream"), gen.DocGen(b.rnd("docs")), [k for k, _ in rows],
                              gen.BASE_NS + n_days * gen.DAY_NS, gen.BASE_NS)
    panels = gen.dashboard_panels()
    cache = QueryCache(b.dbs, os.path.join(b.work, "cache"))
    ru = ContinuousRollup(b.dbs, DB, os.path.join(b.work, "rollup"), gen.HOUR_MS, "/mem")
    r_ops = b.rnd("ops")

    def cycle() -> None:
        b.commit(stream.batch())
        for panel in gen.panel_loads(r_ops, panels):
            b.query(gen.panel_query(panel, stream.next_ns - 1), cache)
        b.rollup(ru)
        b.compact()
        b.delete_range(*stream.retire())

    b.loop(cycle)
    b.flushes(stream)


def scan(b: Bench) -> None:
    """The scan -> JSON extract -> last-write-wins shuffle -> aggregate
    path: wide queries over every reducer family, no cache, no writes in
    the timed loop. A cycle runs each of the six queries once. The
    flushes after the loop give the commit and ingest metrics without
    touching the loop's mix."""
    n_days = b.size["days"]
    rows = gen.initial_docs(b.rnd("data"), b.size["docs"], n_days)
    b.setup(rows)
    queries = gen.scan_queries(b.rnd("queries"), gen.BASE_NS, n_days)

    def cycle() -> None:
        for q in queries:
            b.query(q)

    b.loop(cycle)
    b.flushes(gen.IngestStream(b.rnd("stream"), gen.DocGen(b.rnd("docs")),
                               [k for k, _ in rows], gen.BASE_NS + n_days * gen.DAY_NS,
                               gen.BASE_NS))


WORKLOADS = {"dashboard": dashboard, "scan": scan}
