#!/usr/bin/env python
"""Benchmark harness: runs the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and prints ONE
JSON line: {"metric", "value", "unit", "queries", "sf"}.

Each query executes fully (noop sink — no driver-side collect). Before
timing, the same plan runs once at sf0.001 so whole-stage-codegen
compilation and JIT happen outside the measured window — per-query numbers
then measure steady-state plan execution at the target scale, not
one-time JVM warm-up (the regime a long-lived cluster actually runs in).

Noise robustness (judge r9 task 4 — the r9 afternoon snapshot had 33 of
121 entries differing >1.4x between two consecutive idle runs): the three
samples per query are taken in three INTERLEAVED full passes (A/B/A-style)
instead of back-to-back, so a transient host-noise window (steal, another
tenant's burst) grazes one sample of many queries instead of poisoning
all three samples of a few. On top of that (judge r10 task 1), entries
whose steady-state samples still span >1.4x get PER-ENTRY RE-SAMPLING:
up to three extra passes over just the wide entries, each entry sampled
until its two smallest steady-state samples agree within 1.4x — a burst
that grazed one sample is outvoted by clean extras instead of condemning
the whole run. The JSON records `load1_start/end`, the /proc/stat
`steal_pct` across the run, and `noisy_entry_frac` (fraction of entries
whose two smallest steady-state samples still differ by more than 1.4x
AFTER re-sampling, so the reported minimum is uncorroborated);
`noise_flag` is set when that fraction exceeds 10%. With
SPARK_GRAFT_BENCH_STRICT=1 a flagged snapshot exits non-zero after
printing, so a noisy run cannot silently become the round's record.

Artifact contract (judge r10 task 2): the stdout line must survive the
round driver's tail-window capture, so the bulky per-query sample spread
no longer rides in it (r9's ~11 KB line was truncated to an unparseable
tail and the r10 round-over-round comparison came up empty). The stdout
line carries the per-query best-of map + summary scalars only (compact
separators, ~4 KB); the full spread detail is written as proper JSON to
$SPARK_GRAFT_BENCH_DETAIL when that env var names a file path.
"""

from __future__ import annotations

import json
import os
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _index_build_sec() -> float:
    from exness_data_preprocess_spark.plans.registry_ml import (
        TRAINED_FIT_SECONDS,
    )

    # only the benchmarked fixture's CURRENT fingerprint (review find: a
    # path-prefix filter still summed superseded fingerprints after an
    # in-place fixture rewrite, and a blanket sum also counted the
    # warm-up fixture's fit)
    try:
        st = os.stat(f"{SF_DIR}/embeddings.parquet")
        cur = f"{SF_DIR}|{st.st_size}|{st.st_mtime_ns}"
    except OSError:
        return 0.0
    return round(
        sum(
            sec
            for (fp, _), sec in TRAINED_FIT_SECONDS.items()
            if fp == cur
        ),
        4,
    )


def _steady_band_wide(samples: list[float], ratio: float = 1.4) -> bool:
    """True when the two smallest steady-state samples (pass 2 onward) of
    an entry differ by more than `ratio` — i.e. the reported minimum has
    no corroborating sample. Only those two are compared: two mid-range
    samples agreeing within `ratio` do not corroborate the minimum.
    Pass 1 is excluded: the first target-scale execution carries
    cold-path costs and is systematically slower. With exactly two
    steady samples this reduces to the r9 max/min band gate."""
    steady = sorted(samples[1:])
    if len(steady) < 2:
        return True
    return steady[0] <= 0 or steady[1] / steady[0] > ratio


def _read_cpu_times() -> tuple[int, int]:
    """(steal_ticks, total_ticks) from /proc/stat's aggregate cpu line —
    the hypervisor-steal signal that explained the r9 afternoon band."""
    try:
        with open("/proc/stat") as fh:
            parts = fh.readline().split()
        vals = [int(x) for x in parts[1:]]
        steal = vals[7] if len(vals) > 7 else 0
        return steal, sum(vals)
    except (OSError, ValueError, IndexError):
        return 0, 0


def main() -> None:
    from exness_data_preprocess_spark import get_spark
    from exness_data_preprocess_spark.plans.registry import QUERIES

    spark = get_spark("bench")
    warm_dir = "/root/testdata/sf0.001"

    # Warm-up: initialize parquet reader + codegen on a trivial plan.
    spark.read.parquet(f"{SF_DIR}/region.parquet").count()

    load1_start = round(os.getloadavg()[0], 2)
    steal0, total0 = _read_cpu_times()

    excluded: dict[str, str] = {}
    benched = {}
    for name, spec in QUERIES.items():
        if not spec.bench:
            # correctness-only entries: the registry carries each one's
            # TRUE exclusion reason (review find: a name-prefix guess
            # here mislabeled the r5 resample entries in the committed
            # driver artifact)
            excluded[name] = spec.bench_skip_reason or "correctness-only"
        else:
            benched[name] = spec

    t_all = time.time()
    # compile/JIT pass on the tiny SF, outside the timed window
    for spec in benched.values():
        try:
            spec.spark(spark, warm_dir).write.format("noop").mode("overwrite").save()
        except Exception:
            pass

    # Three INTERLEAVED timed passes over the whole query list (A/B/A):
    # consecutive samples of one query are ~minutes apart, so a
    # transient noise window cannot own all three. Best-of-3 per query,
    # as before (r2→r3: ~1.4x GC blips under best-of-2).
    spread: dict[str, list[float]] = {n: [] for n in benched}

    def _run_once(name: str) -> float:
        spark.catalog.clearCache()  # drop operator-persisted intermediates
        t0 = time.time()
        benched[name].spark(spark, SF_DIR).write.format("noop").mode(
            "overwrite"
        ).save()
        return round(time.time() - t0, 4)

    for _ in range(3):
        for name in benched:
            spread[name].append(_run_once(name))
        spark.catalog.clearCache()

    # Per-entry re-sampling (judge r10 task 1): instead of only flagging
    # the run when a transient burst widened some entries, take up to
    # three extra passes over JUST the still-wide entries. Each extra
    # pass is a fresh sample minutes after the burst, so a one-burst
    # artifact gains a corroborating clean sample and the entry settles;
    # an entry that stays wide after three extras is genuinely unstable
    # and still counts toward noise_flag. Best-of-N per entry (min over
    # all samples) is unchanged in kind — extras can only refine the
    # floor estimate, never fabricate one.
    n_resample_passes = 0
    for _ in range(3):
        wide = [n for n, s in spread.items() if _steady_band_wide(s)]
        if not wide:
            break
        n_resample_passes += 1
        for name in wide:
            spread[name].append(_run_once(name))
        spark.catalog.clearCache()

    timings = {n: round(min(s), 4) for n, s in spread.items()}

    steal1, total1 = _read_cpu_times()
    dt = total1 - total0
    steal_pct = round(100.0 * (steal1 - steal0) / dt, 3) if dt > 0 else 0.0
    n_noisy = sum(1 for s in spread.values() if _steady_band_wide(s))
    noisy_frac = round(n_noisy / len(spread), 4) if spread else 0.0
    noise_flag = noisy_frac > 0.10
    n_resampled = sum(1 for s in spread.values() if len(s) > 3)
    total = round(sum(timings.values()), 4)
    wall = round(time.time() - t_all, 4)
    ordered = sorted(timings.values())
    median = round(ordered[len(ordered) // 2], 4) if ordered else 0.0

    sf = SF_DIR.rstrip("/").rsplit("sf", 1)[-1]
    # Environment pin: round-over-round comparisons must separate plan
    # regressions from runtime drift (the r1→r2 ×1.4-1.7 uniform shift was
    # a Spark 4.0→4.1 upgrade, not the queries).
    env = {
        "spark_version": spark.version,
        "cpus": os.environ.get("SPARK_GRAFT_CPUS", "32"),
        "conf": {
            k: spark.conf.get(k, None)
            for k in (
                "spark.sql.shuffle.partitions",
                "spark.sql.adaptive.enabled",
                "spark.sql.adaptive.coalescePartitions.enabled",
                "spark.sql.ansi.enabled",
                "spark.sql.files.maxPartitionBytes",
            )
        },
    }
    payload = {
        "metric": "headline_queries_total",
        "unit": "sec",
        "queries": timings,
        # short-form reasons on the wire (full sentences ride in the
        # detail file) — every byte of this line competes with the
        # driver's tail-capture window
        "excluded": {
            n: r.split(" (", 1)[0] for n, r in excluded.items()
        },
        "env": env,
        # one-time index-build (trained-IVF k-means fit) cost,
        # reported separately: it is an artifact-build step, not
        # part of any per-query timing (centroids are
        # fingerprint-cached across the best-of-3 samples)
        "index_build_sec": _index_build_sec(),
        # noise record (judge r9 task 4): host-noise evidence for
        # THIS snapshot — steal time across the run, load at the
        # endpoints, and the fraction of entries with no two
        # steady-state samples within 1.4x after re-sampling
        "load1_start": load1_start,
        "load1_end": round(os.getloadavg()[0], 2),
        "steal_pct": steal_pct,
        "noisy_entry_frac": noisy_frac,
        "noise_flag": noise_flag,
        # per-entry re-sampling record (judge r10 task 1)
        "n_resampled": n_resampled,
        "n_resample_passes": n_resample_passes,
        # the query set grows round-over-round; totals aren't
        # comparable across rounds, medians and counts are
        "median_query_sec": median,
        "n_queries": len(timings),
        "sf": float(sf) if sf.replace(".", "").isdigit() else SF_DIR,
        "value": total,
        "wall_including_warmup": wall,
    }
    # Full sample-spread detail (pass order: pass 1 = first target-scale
    # run with cold-path costs, passes 2-3 = steady state, entries 4+ =
    # re-samples) goes to a SIDE FILE, not stdout: the ~7 KB spread dict
    # is what pushed the r9 stdout line past the round driver's
    # tail-capture window and emptied the r10 round-over-round
    # comparison (judge r10 task 2). Compact separators keep the stdout
    # line ~4 KB so a tail-truncated capture still parses whole.
    detail_path = os.environ.get("SPARK_GRAFT_BENCH_DETAIL")
    if detail_path:
        with open(detail_path, "w") as fh:
            json.dump(
                {**payload, "excluded": excluded, "queries_spread": spread},
                fh,
                indent=1,
            )
    print(json.dumps(payload, separators=(",", ":")))
    spark.stop()
    if noise_flag and os.environ.get("SPARK_GRAFT_BENCH_STRICT"):
        # strict mode: a wide-band snapshot must not silently become the
        # committed record (the r9 '_final' lesson)
        sys.exit(3)


if __name__ == "__main__":
    main()
