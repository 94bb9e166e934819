#!/usr/bin/env python3
"""Tick-engine benchmark: the package's monthly-update, append and read
lifecycle, timed end to end through ``SparkDataProcessor``'s public
calls, and split by layer in a separate traced run.

Run from the root of a checkout of the repository:

    python3 perfbench/run.py --workload ingest_month --seed 1 --seconds 20 --trace 0

The last line of standard output is one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before
it holds the details (samples, set-up phases, environment). The exit
code is 0 only when every output check passed.

Every workload runs one client in a closed loop over the same op types,
so every end-to-end metric is measured on every workload; the workloads
differ in where writes land and what reads see. See
``perfbench/README.md`` for the metric map.
"""

from __future__ import annotations

import argparse
import datetime as dt
import json
import os
import random
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from collections import defaultdict
from pathlib import Path

import numpy as np
import pandas as pd

import gen

#: ticks per variant per trading day (18 trading days a month)
PER_DAY = 1500
#: stored months before the current one
MONTHS = 3
PAIR = "EURUSD"
PAGE_SIZE = 10_000
#: ``--seconds`` divided by it gives the number of cycles a run measures
#: (one cycle is ~12 s of work on 4 cores)
CYCLE_S = 10
READ_OPS = ("ticks_day", "page", "ohlc_1m_month", "resample_1h_month",
            "resample_1d_all", "coverage")
WORKLOADS = ("ingest_month", "append_and_read")
HARD_LIMIT_S = 175


def month_add(y: int, m: int, k: int) -> tuple[int, int]:
    i = y * 12 + m - 1 + k
    return i // 12, i % 12 + 1


def ms_str(ms: int) -> str:
    return (dt.datetime(1970, 1, 1) + dt.timedelta(milliseconds=ms)).strftime(
        "%Y-%m-%d %H:%M:%S.%f"
    )[:-3]


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return (vals[7] if len(vals) > 7 else 0), sum(vals[:8])
    except OSError:
        return 0, 0


def tree_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in root.rglob("*.parquet"))


def parquet_files(root: Path) -> set[str]:
    return {str(p) for p in root.rglob("*.parquet")}


def update_summary(res) -> tuple:
    return (res.months_added, res.ticks_added_raw, res.ticks_added_std,
            res.ohlc_bars_generated)


class Bench:
    def __init__(self, args, root: Path):
        self.args = args
        self.work = root / ".perfbench" / f"{args.workload}-{os.getpid()}"
        self.rng = random.Random(args.seed)
        today = dt.datetime.now(dt.timezone.utc).date()
        self.cur = (today.year, today.month)
        self.months = [month_add(*self.cur, -k) for k in range(MONTHS, 0, -1)]
        self.start_date = f"{self.months[0][0]}-{self.months[0][1]:02d}-01"
        #: ingest_month's intraday append into the month just ingested
        self.new_month_day = gen.spare_days(*self.cur)[0]
        #: append_and_read's appends: empty weekdays of the stored months
        self.slots = [d for y, m in self.months for d in gen.spare_days(y, m)]
        self.rng.shuffle(self.slots)
        self.samples: dict[str, list[float]] = defaultdict(list)
        self.attempted = 0
        self.failed = 0
        self.problems: list[str] = []
        self.files_written: dict[str, list[int]] = defaultdict(list)
        self.tracer = None
        self.spark = None

    # -- environment ----------------------------------------------------------
    def session(self):
        from exness_data_preprocess_spark import get_spark

        conf = {
            "spark.driver.memory": "3g",
            "spark.local.dir": str(self.work / "spark-local"),
            "spark.sql.warehouse.dir": str(self.work / "warehouse"),
            # no hsperfdata in /tmp: the run writes only inside the checkout
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={self.work / 'tmp'} -XX:-UsePerfData",
            "spark.ui.showConsoleProgress": "false",
        }
        if self.args.trace:
            conf["spark.eventLog.enabled"] = "true"
            conf["spark.eventLog.dir"] = str(self.work / "eventlog")
            conf["spark.eventLog.compress"] = "false"
            conf["spark.eventLog.rolling.enabled"] = "false"
        return get_spark("perfbench", extra_conf=conf)

    def env_record(self) -> dict:
        sc = self.spark.sparkContext
        keys = (
            "spark.master", "spark.driver.memory", "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.enabled", "spark.sql.parquet.compression.codec",
            "spark.sql.execution.arrow.pyspark.enabled", "spark.sql.files.maxPartitionBytes",
            "spark.sql.codegen.cache.maxEntries", "spark.sql.sources.partitionOverwriteMode",
        )
        return {
            "nproc": len(os.sched_getaffinity(0)),
            "spark": self.spark.version,
            "java": sc._jvm.java.lang.System.getProperty("java.version"),
            "python": sys.version.split()[0],
            "conf": {k: self.spark.conf.get(k, None) for k in keys},
        }

    # -- inputs -------------------------------------------------------------
    def generate(self):
        """Rows per (variant, month) for the stored months and the current
        one, and each month's archives, which the fetcher serves to
        ``update_data``."""
        self.month_rows = {
            (v, ym): gen.days_ticks(self.args.seed, v, gen.trading_days(*ym), PER_DAY)
            for ym in self.months + [self.cur] for v in gen.VARIANTS
        }
        inputs = self.work / "inputs"
        inputs.mkdir(parents=True, exist_ok=True)
        self.zips = {}
        for (v, (y, m)), rows in self.month_rows.items():
            path = inputs / f"Exness_{PAIR}_{v}_{y}_{m:02d}.zip"
            path.write_bytes(gen.archive_bytes(rows, PAIR, v))
            self.zips[(v, (y, m))] = path

    def fetch(self, instrument, variant, year, month, landing_dir):
        """The offline fetcher: serves the generated archives only."""
        key = (variant, (year, month))
        if instrument != PAIR or key not in self.zips:
            raise ValueError(f"no archive for {instrument} {variant} {year}-{month}")
        return self.zips[key]

    def build_store(self):
        """The store through the package's own write path: one
        ``update_data`` from the first stored month fetches every
        month's archives, inserts them and regenerates the bars. The
        current month is then taken out again, so exactly one month is
        missing, and the decode, insert and regenerate paths a measured
        op takes have run once before timing."""
        from exness_data_preprocess_spark.config import UserConfig
        from exness_data_preprocess_spark.processor import SparkDataProcessor

        self.base = self.work / "store"
        self.proc = SparkDataProcessor(
            self.spark, self.base, landing_dir=self.work / "landing",
            fetcher=self.fetch, config=UserConfig(),
        )
        self.expected = gen.Expected()
        got = update_summary(self.proc.update_data(PAIR, start_date=self.start_date))
        want = self.expect_update(self.months + [self.cur])
        self.check_setup(got == want, f"update_data: got {got}, expected {want}")
        self.snapshot = gen.Expected()
        for ym in self.months:
            for v in gen.VARIANTS:
                self.snapshot.add(v, self.month_rows[(v, ym)])
        self.restore()

    def check_setup(self, ok: bool, what: str) -> None:
        if not ok:
            self.problems.append(f"setup: {what}")
            print(f"FAILED setup: {what}", file=sys.stderr)

    def setup(self) -> float:
        """Session, inputs, store, and a warm-up read of every type (JIT
        and codegen), timed together. The JVM starts cold in every run,
        so one set-up per run repeats; a second one would not fit the
        run's time budget. ``setup_phases`` records the seconds since the
        start at the end of each phase."""
        t0 = time.perf_counter()
        phases = {}
        self.spark = self.session()
        phases["session"] = time.perf_counter() - t0
        self.generate()
        phases["generate"] = time.perf_counter() - t0
        self.build_store()
        phases["store"] = time.perf_counter() - t0
        # the gap scan over stored tables, which the store build skipped
        gaps = self.proc.update_data(PAIR, start_date=self.start_date, dry_run=True)
        self.check_setup(gaps.months_to_download == [self.cur],
                         f"dry run: gaps {gaps.months_to_download}, expected {[self.cur]}")
        for kind, params in self.read_round():
            self.do_read(kind, params, record=False)
        phases["warm_up"] = time.perf_counter() - t0
        self.setup_phases = phases
        return time.perf_counter() - t0

    # -- op schedule ------------------------------------------------------------
    def read_params(self, kind: str, months=None):
        rng = self.rng
        months = months or self.months
        variant = rng.choice(gen.VARIANTS)
        y, m = rng.choice(months)
        if kind == "ticks_day":
            return variant, rng.choice(gen.trading_days(y, m))
        if kind == "page":
            # a cursor early enough in the month that the page is full
            first = gen.trading_days(y, m)[0]
            return variant, (y, m), gen.epoch_ms(first), rng.random() * 0.5
        if kind in ("ohlc_1m_month", "resample_1h_month"):
            return (y, m)
        return None

    def read_round(self, months=None):
        """The six read types once each, in seeded order."""
        kinds = list(READ_OPS)
        self.rng.shuffle(kinds)
        return [(k, self.read_params(k, months)) for k in kinds]

    def schedule(self):
        """The run's seeded op sequence: ``round(--seconds / CYCLE_S)``
        cycles, so every run of a workload does the same work."""
        cycles = max(1, round(self.args.seconds / CYCLE_S))
        if self.args.workload == "ingest_month":
            for _ in range(cycles):
                yield "update_month", None
                yield "reads", self.read_round(months=[self.cur])
                yield "append_day", self.new_month_day
                yield "restore", None
        else:
            yield "reads", self.read_round()
            for _ in range(cycles):
                yield "reads", self.read_round()
                yield "append_day", self.slots.pop()
                yield "update_month", None
                yield "restore", None

    # -- ops ----------------------------------------------------------------
    def timed(self, kind: str, fn, check, record: bool = True):
        """Run one op; its wall time is a sample only when the op and
        its output check both pass."""
        before = None
        if self.tracer is not None and kind in ("update_month", "append_day"):
            before = parquet_files(self.base)
        problem = None
        t0 = time.perf_counter()
        try:
            if self.tracer is not None:
                label = f"op:{kind}#{self.attempted}" if record else f"warm:{kind}"
                with self.tracer.span(kind, label=label):
                    result = fn()
            else:
                result = fn()
            wall = time.perf_counter() - t0
            problem = check(result)
        except Exception:  # noqa: BLE001 - one failed op must not end the run
            traceback.print_exc(file=sys.stderr)
            problem = "raised"
        if before is not None:
            self.files_written[kind].append(len(parquet_files(self.base) - before))
        if not record:
            if problem:
                self.check_setup(False, f"warm-up {kind}: {problem}")
            return
        self.attempted += 1
        if problem:
            self.failed += 1
            self.problems.append(f"{kind}: {problem}")
            print(f"FAILED {kind}: {problem}", file=sys.stderr)
        else:
            self.samples[kind].append(wall)

    def expect_update(self, months) -> tuple:
        """Record an update that adds ``months`` in ``expected``; returns
        the ``update_summary`` it must give."""
        added = {v: sum(self.expected.add(v, self.month_rows[(v, ym)]) for ym in months)
                 for v in gen.VARIANTS}
        lo = gen.epoch_ms(dt.date(*months[0], 1))
        return (list(months), added["raw_spread"], added["standard"],
                self.expected.bar_count(1, lo_ms=lo))

    def update_month(self):
        self.snapshot = self.expected.copy()

        def check(res):
            got, want = update_summary(res), self.expect_update([self.cur])
            return None if got == want else f"got {got}, expected {want}"

        self.timed("update_month", lambda: self.proc.update_data(PAIR, start_date=self.start_date),
                   check)
        self.record_bytes()

    def restore(self):
        """Put the store back to its state before the monthly update."""
        ym = f"{self.cur[0]}{self.cur[1]:02d}"
        for table in ("raw_spread_ticks", "standard_ticks", "ohlc_1m"):
            shutil.rmtree(self.base / table / f"instrument={PAIR}" / f"year_month={ym}",
                          ignore_errors=True)
        self.expected = self.snapshot

    def append_day(self, day: dt.date):
        rows = {v: gen.day_ticks(self.args.seed, v, day, PER_DAY) for v in gen.VARIANTS}
        frames = {v: self.spark.createDataFrame(gen.to_spark_frame(r, PAIR)) for v, r in rows.items()}
        first = f"{day:%Y-%m}-01"

        def run():
            added = {v: self.proc.insert_ticks(frames[v], v) for v in gen.VARIANTS}
            return added, self.proc.regenerate_ohlc(PAIR, start_date=first, end_date=first)

        def check(result):
            added, bars = result
            want = {v: self.expected.add(v, rows[v]) for v in gen.VARIANTS}
            lo = gen.epoch_ms(day.replace(day=1))
            nxt = month_add(day.year, day.month, 1)
            want_bars = self.expected.bar_count(1, lo_ms=lo, hi_ms=gen.epoch_ms(dt.date(*nxt, 1)) - 1)
            got = (added, bars)
            return None if got == (want, want_bars) else f"got {got}, expected {(want, want_bars)}"

        self.timed("append_day", run, check)

    def record_bytes(self):
        """Bytes on disk per stored tick, as a monthly update leaves the
        store."""
        ticks = sum(len(a) for a in self.expected.ticks.values())
        self.samples["store_bytes_per_tick"].append(tree_bytes(self.base) / ticks)

    def do_read(self, kind, params, record=True):
        e = self.proc.engine
        exp = self.expected
        if kind == "ticks_day":
            variant, day = params
            nxt = day + dt.timedelta(days=1)
            want = exp.tick_count(variant, gen.epoch_ms(day), gen.epoch_ms(nxt))
            fn = lambda: len(e.query_ticks(PAIR, variant, str(day), str(nxt)))
            check = lambda n: None if n == want else f"{n} rows, expected {want}"
        elif kind == "page":
            variant, (y, m), lo, frac = params
            nxt = month_add(y, m, 1)
            hi = gen.epoch_ms(dt.date(*nxt, 1))
            first = exp.window_index(variant, lo)
            cursor_ms = exp.stored_ms(variant, first + int(frac * exp.tick_count(variant, lo, hi)))
            after = exp.tick_count(variant, lo, hi, after_ms=cursor_ms)
            want_next = (exp.stored_ms(variant, exp.window_index(variant, cursor_ms + 1) + PAGE_SIZE - 1)
                         if after > PAGE_SIZE else None)
            want = (min(after, PAGE_SIZE), after > PAGE_SIZE, want_next)
            fn = lambda: e.query_ticks_paginated(
                PAIR, variant, ms_str(cursor_ms), PAGE_SIZE, f"{y}-{m:02d}-01", f"{nxt[0]}-{nxt[1]:02d}-01")

            def check(page):
                nc = page.next_cursor and pd.Timestamp(page.next_cursor).value // 10**6
                got = (len(page.data), page.has_more, nc)
                return None if got == want else f"got {got}, expected {want}"
        elif kind in ("ohlc_1m_month", "resample_1h_month"):
            y, m = params
            nxt = month_add(y, m, 1)
            lo, hi = gen.epoch_ms(dt.date(y, m, 1)), gen.epoch_ms(dt.date(*nxt, 1))
            tf, minutes = ("1m", 1) if kind == "ohlc_1m_month" else ("1h", 60)
            want = exp.bar_count(minutes, lo, hi)
            fn = lambda: len(e.query_ohlc(PAIR, tf, f"{y}-{m:02d}-01", f"{nxt[0]}-{nxt[1]:02d}-01"))
            check = lambda n: None if n == want else f"{n} bars, expected {want}"
        elif kind == "resample_1d_all":
            want = exp.bar_count(1440)
            fn = lambda: len(e.query_ohlc(PAIR, "1d"))
            check = lambda n: None if n == want else f"{n} bars, expected {want}"
        else:
            want = (exp.tick_count("raw_spread"), exp.tick_count("standard"), exp.bar_count(1))
            fn = lambda: e.get_data_coverage(PAIR)
            check = lambda c: (None if (c.raw_spread_ticks, c.standard_ticks, c.ohlc_bars) == want
                               else f"coverage {c}, expected {want}")
        self.timed(kind, fn, check, record=record)

    def read_round_op(self, reads):
        """One read round; its read wall time (the six reads' walls
        summed) is a sample when every read in it passed."""
        failed = self.failed
        n = {k: len(self.samples[k]) for k, _ in reads}
        for kind, params in reads:
            self.do_read(kind, params)
        if self.failed == failed:
            self.samples["read_round"].append(sum(self.samples[k][n[k]] for k, _ in reads))

    def run_op(self, kind, params):
        if kind == "update_month":
            self.update_month()
        elif kind == "append_day":
            self.append_day(params)
        elif kind == "restore":
            self.restore()
        else:
            self.read_round_op(params)

    # -- measurement ------------------------------------------------------------
    def measure(self):
        """The fixed op schedule: every run of a workload does the same
        work, so its medians compare like with like even while the JVM
        is still compiling."""
        for kind, params in self.schedule():
            self.run_op(kind, params)

    def calibrate_tracing(self) -> float:
        """Percent by which spans, job groups and py4j counting slow the
        same read round down; traced, untraced, untraced, traced, so a
        steady warm-up drift cancels."""
        reads = self.read_round()
        walls = {False: 0.0, True: 0.0}
        for traced in (True, False, False, True):
            tracer, self.tracer = self.tracer, (self.tracer if traced else None)
            if not traced:
                tracer.uninstall()
            t0 = time.perf_counter()
            for kind, params in reads:
                self.do_read(kind, params, record=False)
            walls[traced] += time.perf_counter() - t0
            if not traced:
                tracer.install()
            self.tracer = tracer
        return 100.0 * (walls[True] / walls[False] - 1.0)

    def end_to_end(self, setup_s: float) -> tuple[dict, dict]:
        reads = [x for k in READ_OPS for x in self.samples[k]]
        p90 = float(np.percentile(reads, 90)) if reads else 0.0
        med = lambda k: statistics.median(self.samples[k]) if self.samples[k] else 0.0
        rounds = med("read_round")
        metrics = {
            "setup_s": (setup_s, "s"),
            "update_month_s": (med("update_month"), "s"),
            "store_bytes_per_tick": (med("store_bytes_per_tick"), "B"),
            "read_p90_ms": (1e3 * p90, "ms"),
            # reads per second of read wall time, over the median round
            "read_ops_per_s": (len(READ_OPS) / rounds if rounds else 0.0, "1/s"),
            "append_day_s": (med("append_day"), "s"),
        }
        detail = {
            "samples": {k: [round(x, 4) for x in v] for k, v in self.samples.items()},
            "reads_beyond_p90": sum(x > p90 for x in reads),
            "setup_phases_s": self.setup_phases,
        }
        return metrics, detail


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = Path.cwd()
    sys.path.insert(0, str(root))
    try:
        import exness_data_preprocess_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: run from the repository root ({exc})", file=sys.stderr)
        return 2

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    bench = Bench(args, root)
    for sub in ("tmp", "spark-local", "eventlog"):
        (bench.work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = tempfile.tempdir = str(bench.work / "tmp")

    def too_long(signum, frame):
        raise TimeoutError(f"benchmark exceeded {HARD_LIMIT_S} s")

    signal.signal(signal.SIGALRM, too_long)
    signal.alarm(HARD_LIMIT_S)
    load0, steal0 = os.getloadavg(), cpu_times()
    try:
        setup_s = bench.setup()
        env = bench.env_record()
        if args.trace:
            import tracer as tracing

            bench.tracer = tracing.Tracer(bench.spark)
            bench.tracer.install()
            overhead = bench.calibrate_tracing()
            bench.tracer.spans.clear()
            bench.measure()
            bench.tracer.uninstall()
            app_id = bench.spark.sparkContext.applicationId
            bench.spark.stop()
            fold = tracing.fold_event_log(bench.work / "eventlog" / app_id)
            extra = {
                "overhead_pct": overhead,
                "files_written": {k: statistics.mean(v) for k, v in bench.files_written.items()},
            }
            metrics = tracing.layer_metrics(bench.tracer.spans, fold, READ_OPS, extra)
            out_dir = root / ".perfbench" / "traces"
            out_dir.mkdir(parents=True, exist_ok=True)
            bench.tracer.dump(out_dir / f"{args.workload}-seed{args.seed}-spans.json")
            detail = {"samples": {k: len(v) for k, v in bench.samples.items()}}
        else:
            bench.measure()
            metrics, detail = bench.end_to_end(setup_s)
        steal1 = cpu_times()
        d_total = (steal1[1] - steal0[1]) or 1
        detail["env"] = {
            **env,
            "loadavg_start": load0,
            "loadavg_end": os.getloadavg(),
            "steal_pct": 100.0 * (steal1[0] - steal0[0]) / d_total,
            "reads_from": "OS page cache; latencies are the page cache's, not a storage device's",
        }
        detail["problems"] = bench.problems
        correct = not bench.problems and bench.failed == 0 and bench.attempted > 0
        result = {
            "correct": correct,
            "attempted": bench.attempted,
            "failed": bench.failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }
    finally:
        signal.alarm(0)
        stop_spark(bench)
        shutil.rmtree(bench.work, ignore_errors=True)
    print(json.dumps({"detail": detail}))
    print(json.dumps(result))
    return 0 if result["correct"] else 1


def stop_spark(bench) -> None:
    """Stop the session and the JVM it launched, and wait for both."""
    from pyspark import SparkContext

    if bench.spark is not None:
        bench.spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


if __name__ == "__main__":
    sys.exit(main())
