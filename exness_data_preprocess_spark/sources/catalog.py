"""Table layout and lifecycle over partitioned Parquet.

Storage semantics mapped from the reference DDL (SURVEY.md §1.3):

- ``PARTITION BY toYYYYMM(timestamp)`` + ``ORDER BY (instrument,
  timestamp)`` (clickhouse_manager.py:159-161) → Parquet partitioned by
  ``instrument`` and derived ``year_month``, with
  ``sortWithinPartitions("timestamp")`` at write so parquet rowgroup
  min/max stats give the same data-skipping a ClickHouse sparse primary
  index provides.
- ``ReplacingMergeTree`` lazy dedup → eager ``dropDuplicates`` at write
  (stronger guarantee; the reference treats dedup as eventual,
  processor.py:10-11).
- Codecs → parquet + zstd (session-level conf).
- ``ALTER TABLE ... DELETE`` mutations (M1/M2) → dynamic partition
  overwrite of the affected (instrument, year_month) partitions; atomic at
  partition granularity, no mutation polling.

At 100 TB: month × instrument partitioning bounds every incremental job to
the touched partitions; a reader with instrument + time predicates prunes
to exactly those directories (visible as ``PartitionFilters`` in explain).
"""

from __future__ import annotations

import shutil
import threading
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from exness_data_preprocess_spark.functions.timefuncs import year_month
from exness_data_preprocess_spark.schema import (
    OHLC_1M_READ_SCHEMA,
    TICK_READ_SCHEMA,
)


TICK_TABLES = ("raw_spread_ticks", "standard_ticks")
OHLC_TABLE = "ohlc_1m"
PARTITION_COLS = ["instrument", "year_month"]

#: declared read schema of each stored table (schema.py): resolving a
#: table with it skips the parquet footer inference a bare
#: ``spark.read.parquet`` runs on every call
READ_SCHEMAS = {
    "raw_spread_ticks": TICK_READ_SCHEMA,
    "standard_ticks": TICK_READ_SCHEMA,
    OHLC_TABLE: OHLC_1M_READ_SCHEMA,
}

#: managed corpus-dedup artifact tables (one per DedupIndex frame) — the
#: steady-state ingest-dedup state lives IN the warehouse, next to the
#: data it indexes, not in a process-private temp dir
DEDUP_INDEX_TABLES = (
    "dedup_index_digests",
    "dedup_index_bands",
    "dedup_index_shingles",
)
DEDUP_INDEX_PARAMS_FILE = "dedup_index_params.json"

#: managed monitoring-sketch state tables (one per SketchIndex frame) —
#: per-group KMV/HLL/CMS state persisted next to the data it summarizes,
#: merged incrementally per ingested shard (never a corpus re-scan)
SKETCH_INDEX_TABLES = (
    "sketch_index_kmv",
    "sketch_index_hll",
    "sketch_index_cms",
)
SKETCH_INDEX_PARAMS_FILE = "sketch_index_params.json"


class ParquetCatalog:
    """Filesystem-backed table catalog rooted at ``base_path``.

    The reference's bootstrap-ordering invariant — database exists before
    clients bind (clickhouse_manager.py:45-79) — becomes: root dirs are
    created before any write/read, idempotently.
    """

    def __init__(self, base_path: str | Path):
        self.base = Path(base_path)
        # sketch-index writer lock state (see sketch_index_lock): the
        # RLock serializes THREADS of this process, carries per-thread
        # re-entrancy, and the outermost frame owns the cross-process
        # flock fh
        self._sketch_rlock = threading.RLock()
        self._sketch_lock_depth = 0
        self._sketch_lock_fh = None

    def ensure_schema(self) -> None:
        """Idempotent bootstrap (clickhouse_manager.py:110-143)."""
        for tbl in (*TICK_TABLES, OHLC_TABLE):
            (self.base / tbl).mkdir(parents=True, exist_ok=True)

    def path(self, table: str) -> str:
        return str(self.base / table)

    def exists(self, table: str) -> bool:
        p = self.base / table
        return p.exists() and any(p.rglob("*.parquet"))

    def _load(self, spark: SparkSession, table: str) -> DataFrame:
        """The one loader of the stored tables: the declared read schema,
        so resolving a table lists its files but opens no footer."""
        return spark.read.schema(READ_SCHEMAS[table]).parquet(self.path(table))

    def read(self, spark: SparkSession, table: str) -> DataFrame:
        """Partition-pruned scan of a stored table, with ``instrument`` and
        ``year_month`` (int) as partition columns after the data columns.

        The schema is declared, not inferred: ``schema.py`` holds each
        table's read schema, which equals what partition discovery plus
        footer inference return for a store this package wrote, so no
        parquet footer is opened to resolve the table (a bare
        ``spark.read.parquet`` spends one footer-reading job per call on
        that). Files lacking a declared column read it as NULL.

        A table that exists but holds no files yet reads as an EMPTY
        frame of the same schema — the reference's freshly-bootstrapped
        tables answer queries with zero rows, not errors
        (clickhouse_manager.py:110-143).
        """
        if not self.exists(table):
            return spark.createDataFrame([], READ_SCHEMAS[table])
        return self._load(spark, table)

    def write_ticks(
        self,
        df: DataFrame,
        table: str,
        mode: str = "append",
        dedup: bool = True,
        on_conflict: str = "skip",
    ) -> int:
        """Partitioned, sorted, deduped tick write (A3 + D8); returns the
        number of rows written.

        ``dropDuplicates`` on the sort key replaces ReplacingMergeTree's
        merge-time collapse (clickhouse_manager.py:159) — and, for
        appends, an anti-join against the already-stored keys of the
        touched partitions makes the write IDEMPOTENT across batches
        (review find: intra-batch dedup alone lets a re-inserted or
        overlapping archive double every tick, and unlike ClickHouse
        nothing ever collapses parquet appends after the fact). The
        existing-key scan is partition-pruned to the incoming months and
        projects two columns, so an insert pays O(touched partitions),
        never a table scan.

        Conflict semantics on an existing ``(instrument, timestamp)`` key
        (advice find — the two postures differ and the default must be
        explicit):

        - ``on_conflict="skip"`` (default): FIRST-WRITE-WINS — the stored
          row is kept and the incoming duplicate is discarded. This is a
          deliberate deviation from ReplacingMergeTree, which collapses
          toward the NEWEST insert; skip is the safe default for replayed
          archives, where the bytes are identical and re-keeping the old
          row is free.
        - ``on_conflict="replace"``: LAST-WRITE-WINS — the reference's
          ReplacingMergeTree posture, for corrected archives. Touched
          (instrument, month) partitions are rewritten as (incoming ∪
          existing-not-in-incoming) via dynamic partition overwrite, so
          the cost is O(touched partitions), never a table rewrite.

        Return value: rows APPLIED from the incoming batch after
        intra-batch dedup — under ``skip`` that equals rows newly
        written; under ``replace`` every incoming row is applied (new or
        superseding), while the physical rewrite additionally carries
        the touched partitions' surviving rows (advice find: the two
        modes count different things; this is the mode-consistent
        "rows from this batch now stored" number).
        """
        if on_conflict not in ("skip", "replace"):
            raise ValueError(
                f"on_conflict must be skip|replace, got {on_conflict!r}"
            )
        if on_conflict == "replace" and (not dedup or mode != "append"):
            # the merge branch only exists under the dedup'd append path;
            # silently plain-appending duplicates after a replace request
            # is the worst of both semantics (review find)
            raise ValueError(
                "on_conflict='replace' requires dedup=True and "
                "mode='append' (an overwrite already replaces, and an "
                "un-deduped batch has no conflict keys to resolve)"
            )
        from exness_data_preprocess_spark.cache import (
            checkpoint_rdd_id,
            release_checkpoints,
        )

        out = df.withColumn("year_month", year_month(F.col("timestamp")))
        if dedup:
            out = out.dropDuplicates(["instrument", "timestamp"])
        # ONE materialization of the incoming plan (often a full ZIP
        # decode): checkpoint BEFORE the month-list collect, so the
        # months scan, the anti-join/merge, the write, and the returned
        # count all read the checkpoint (advice find: collecting months
        # off the raw plan executed the decode a second time). Every
        # checkpoint this call creates is released before returning
        # (review find: a long-lived ingest session leaked one truncated
        # RDD per write for the session lifetime).
        out = out.localCheckpoint()
        own = {checkpoint_rdd_id(out)} - {None}
        try:
            if dedup and mode == "append" and self.exists(table):
                touched = [
                    (r["instrument"], r["year_month"])
                    for r in out.select("instrument", "year_month")
                    .distinct()
                    .collect()
                ]
                months = sorted({ym for _, ym in touched})
                insts = sorted({i for i, _ in touched})
                # prune BOTH partition keys, then restrict to the EXACT
                # (instrument, year_month) pairs the batch touches: the
                # coarse isin filters drive partition pruning but their
                # cross-product also covers untouched combinations — a batch
                # touching (A,m1)+(B,m2) must not read (or, under replace,
                # rewrite) (A,m2)/(B,m1) (advice find)
                pair_key = F.concat_ws(
                    "\x00", F.col("instrument"), F.col("year_month")
                )
                touched_keys = [f"{i}\x00{m}" for i, m in touched]
                existing = (
                    self._load(df.sparkSession, table)
                    .filter(F.col("year_month").isin(months))
                    .filter(F.col("instrument").isin(insts))
                    .filter(pair_key.isin(touched_keys))
                )
                if on_conflict == "replace":
                    # Last-write-wins upsert: rewrite the touched partitions
                    # with incoming rows plus the existing rows they do not
                    # supersede (clickhouse_manager.py:159's merge posture).
                    # overwrite_partitions owns the repartition+sort layout
                    # pass — doing it here too paid the shuffle twice
                    # (review find).
                    keep = existing.join(
                        out.select("instrument", "timestamp"),
                        ["instrument", "timestamp"],
                        "left_anti",
                    )
                    merged = out.unionByName(keep).localCheckpoint()
                    own |= {checkpoint_rdd_id(merged)} - {None}
                    self.overwrite_partitions(merged, table)
                    return out.count()
                out = out.join(
                    existing.select("instrument", "timestamp"),
                    ["instrument", "timestamp"],
                    "left_anti",
                )
                # cheap re-materialization: both inputs of the anti-join are
                # a checkpoint + a 2-column pruned scan, but checkpointing
                # keeps the write and the count reading identical rows
                out = out.localCheckpoint()
                own |= {checkpoint_rdd_id(out)} - {None}
            (
                out.repartition("instrument", "year_month")
                .sortWithinPartitions("timestamp")
                .write.mode(mode)
                .partitionBy(*PARTITION_COLS)
                .parquet(self.path(table))
            )
            return out.count()
        finally:
            release_checkpoints(df.sparkSession, own)

    def overwrite_partitions(self, df: DataFrame, table: str) -> None:
        """Dynamic partition overwrite — the Spark analog of the
        reference's range DELETE + re-INSERT (M1/M2,
        clickhouse_ohlc_generator.py:111-132); only partitions present in
        ``df`` are replaced.

        The dynamic mode is pinned ON THE WRITER (review find): relying
        on the session conf would make this a static overwrite — i.e. a
        silent FULL-TABLE truncation — when the caller supplies their own
        SparkSession without ``partitionOverwriteMode=dynamic``."""
        out = df.withColumn("year_month", year_month(F.col("timestamp")))
        (
            out.repartition("instrument", "year_month")
            .sortWithinPartitions("timestamp")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy(*PARTITION_COLS)
            .parquet(self.path(table))
        )

    def drop_instrument(self, table: str, instrument: str) -> None:
        """Full-instrument DELETE (M1) = drop the partition directory."""
        p = self.base / table / f"instrument={instrument.upper()}"
        if p.exists():
            shutil.rmtree(p)

    # -- corpus dedup-index lifecycle (the 100 TB steady-state dedup state:
    #    signatures are written when docs land and read per incoming batch,
    #    so the corpus text is never re-scanned at ingest time) -------------
    def write_dedup_index(self, index, params: dict, mode: str = "overwrite") -> None:
        """Persist a :class:`~exness_data_preprocess_spark.operators.dedup.
        DedupIndex` as three managed tables plus a params sidecar.

        ``params`` must carry the signature family (``num_perm``,
        ``bands``, ``shingle_n``): band keys from a different family never
        match, silently missing every near-dup, so the catalog refuses an
        ``append`` whose params differ from the stored ones. ``overwrite``
        replaces artifacts and params together (a rebuild).

        The params sidecar is removed BEFORE any table write (in every
        mode) and rewritten only after all three succeed, so a crash
        mid-build — including mid-*append*, where the three sequential
        appends could otherwise leave digests containing docs the bands
        table lacks — leaves no params file and readers treat the index
        as absent rather than silently missing near-dups of the
        half-written slice (the _done-marker idiom).
        """
        import json

        if mode not in ("overwrite", "append"):
            raise ValueError(f"mode must be overwrite|append, got {mode!r}")
        pfile = self.base / DEDUP_INDEX_PARAMS_FILE
        if mode == "append":
            if pfile.exists():
                stored = json.loads(pfile.read_text())
                if stored != params:
                    raise ValueError(
                        f"dedup-index params mismatch: stored {stored}, "
                        f"appending {params} — band keys from a different "
                        "signature family never match; rebuild with "
                        "mode='overwrite' instead"
                    )
            elif any(self.exists(t) for t in DEDUP_INDEX_TABLES):
                # tables without a marker = a crashed earlier append. A
                # fresh append on top would RESURRECT the inconsistent
                # index (and skip the family check entirely) the moment
                # it rewrites the marker (review find) — require a
                # rebuild instead.
                raise RuntimeError(
                    "dedup-index artifacts exist without a params marker "
                    "(a previous build crashed mid-write); the index is "
                    "inconsistent — rebuild with mode='overwrite'"
                )
        if pfile.exists():
            pfile.unlink()
        for table, frame in zip(DEDUP_INDEX_TABLES, index):
            frame.write.mode(mode).parquet(self.path(table))
        pfile.write_text(json.dumps(params, sort_keys=True))

    def has_dedup_index(self) -> bool:
        return (self.base / DEDUP_INDEX_PARAMS_FILE).exists() and all(
            self.exists(t) for t in DEDUP_INDEX_TABLES
        )

    def dedup_index_params(self) -> dict:
        import json

        pfile = self.base / DEDUP_INDEX_PARAMS_FILE
        if not pfile.exists():
            raise FileNotFoundError(
                f"no dedup index in catalog at {self.base} — build one "
                "with SparkDataProcessor.build_dedup_index()"
            )
        return json.loads(pfile.read_text())

    def read_dedup_index(self, spark: SparkSession):
        """Reader handles over the managed artifact tables (plain scans —
        an incoming batch pays only its own signature pass plus the
        banded join against these)."""
        from exness_data_preprocess_spark.operators.dedup import DedupIndex

        self.dedup_index_params()  # raises with guidance when absent
        return DedupIndex(
            *(spark.read.parquet(self.path(t)) for t in DEDUP_INDEX_TABLES)
        )

    # -- monitoring sketch-state lifecycle (SketchIndex: the DedupIndex
    #    analog for per-source KMV/HLL/CMS state — bounded per group, so a
    #    full state rewrite per merge is key-sized work, never data-sized) --
    def write_sketch_index(self, index, params: dict) -> None:
        """Persist a :class:`~exness_data_preprocess_spark.operators.
        sketches.SketchIndex` as three VERSIONED managed tables plus a
        params sidecar.

        Crash-safety contract (review find — this is STRONGER than the
        dedup index's absent-on-crash marker, deliberately): the dedup
        index is rebuildable from the corpus, but this state is the
        ACCUMULATION of every shard ever merged, and the shards are not
        retained — losing it means exactly the corpus re-scan the
        feature exists to avoid. So updates never overwrite in place:
        the new state is written to fresh ``..._v{N+1}`` directories,
        the sidecar (which names the live version) is swapped atomically
        LAST (tmp file + os.replace), and only then are older versions
        deleted best-effort. A crash at ANY point leaves the sidecar
        naming a fully-written version: before the swap readers keep
        serving v{N}; after it they serve v{N+1}. For power loss (not
        just process crash) the new version's parquet files are fsync'd
        before the swap — Spark closes them without fsync, and a
        published pointer to never-flushed data blocks would be exactly
        the loss the sidecar's own fsync was added to prevent. The data
        fsync is best-effort like the directory fsync; on a filesystem
        where it fails, the contract degrades to process-crash safety.

        ``params`` carries the sketch family (``group_col``,
        ``value_col``, ``k``): states from different families merge into
        garbage, so :meth:`SparkDataProcessor.update_sketches` re-reads
        them from the sidecar and signs each batch with the stored
        family.

        The versioning also removes the read-own-truncated-input hazard
        a same-path overwrite would have (the merged plan reads the old
        version's files while writing the new one), so no eager
        materialization is needed.
        """
        with self.sketch_index_lock():
            self._write_sketch_index_locked(index, params)

    def sketch_index_lock(self):
        """Advisory exclusive lock for the whole read -> merge -> write
        cycle on the sketch state (advisor find: locking only the write
        leaves a lost-update window — two same-host updaters serialize
        their publishes, but the loser merges against the PRE-update
        version and its publish silently drops the winner's batch from
        the accumulated state). :meth:`SparkDataProcessor.
        update_sketches` acquires this BEFORE reading the params/state
        it merges against, so concurrent same-host updaters fully
        serialize and every merge base is the latest published version.

        Re-entrant PER THREAD (a plain second flock on the same path
        from another fd would self-deadlock the nested
        ``write_sketch_index`` call under ``update_sketches``'s outer
        lock) — and thread-correct (review find: a bare
        held-by-this-object flag would let a SECOND thread of the same
        process skip the flock entirely and race the holder, exactly
        the lost update the lock exists to prevent): an in-process
        ``threading.RLock`` serializes threads and carries the
        re-entrancy depth; only the outermost frame takes and releases
        the cross-process flock. flock scopes this to one writer per
        host; a multi-host shared-filesystem deployment needs external
        coordination (the optimistic-concurrency protocol a real table
        format like Delta/Iceberg provides — out of scope for a plain
        parquet catalog, and documented here).
        """
        from contextlib import contextmanager

        @contextmanager
        def _lock():
            with self._sketch_rlock:  # serializes threads, re-entrant
                self._sketch_lock_depth += 1
                try:
                    if self._sketch_lock_depth == 1:
                        self.base.mkdir(parents=True, exist_ok=True)
                        lock_fh = open(self.base / ".sketch_index_lock", "w")
                        try:
                            import fcntl

                            fcntl.flock(lock_fh, fcntl.LOCK_EX)
                        except ImportError:  # pragma: no cover - non-POSIX
                            pass
                        except OSError:
                            # review find: flock can fail (ENOLCK on
                            # NFS); the fh must not leak on that path
                            lock_fh.close()
                            raise
                        self._sketch_lock_fh = lock_fh
                    yield
                finally:
                    self._sketch_lock_depth -= 1
                    if self._sketch_lock_depth == 0:
                        fh, self._sketch_lock_fh = self._sketch_lock_fh, None
                        if fh is not None:
                            fh.close()

        return _lock()

    def _write_sketch_index_locked(self, index, params: dict) -> None:
        import json
        import os

        pfile = self.base / SKETCH_INDEX_PARAMS_FILE
        old_version = -1
        if pfile.exists():
            old_version = json.loads(pfile.read_text()).get("_version", -1)
        version = old_version + 1
        for table, frame in zip(SKETCH_INDEX_TABLES, index):
            frame.write.mode("overwrite").parquet(
                self.path(f"{table}_v{version}")
            )
        # fsync the new version's data files BEFORE publishing the
        # pointer (advisor find: Spark closes parquet files without
        # fsync, so after a power loss the sidecar could name a version
        # whose data blocks never reached disk while the superseded
        # version is only retained one update deep — the sidecar fsync
        # alone protects the pointer, not what it points at).
        # Best-effort like the directory fsync; state tables are
        # bounded (k rows / m registers / d*w counters per group) so
        # this is a handful of small files, not a data-sized walk.
        for table in SKETCH_INDEX_TABLES:
            vdir = Path(self.path(f"{table}_v{version}"))
            try:
                for f in sorted(vdir.rglob("*")):
                    if not f.is_file():
                        continue
                    fd = os.open(f, os.O_RDONLY)
                    try:
                        os.fsync(fd)
                    finally:
                        os.close(fd)
                # the version DIRECTORY too (review find): the part-file
                # names are entries of this directory's metadata — file
                # data alone surviving power loss is useless if the dir
                # comes back empty while the sidecar points at it
                dfd = os.open(vdir, os.O_RDONLY)
                try:
                    os.fsync(dfd)
                finally:
                    os.close(dfd)
            except OSError:  # pragma: no cover - platform-dependent
                pass
        # atomic publish: fsync the tmp file BEFORE the rename and the
        # directory after it (review find: rename metadata can journal
        # before delayed-allocation data blocks flush, so a power loss
        # right after a bare os.replace can leave a truncated sidecar —
        # losing the live-version pointer to irreplaceable state)
        tmp = pfile.with_suffix(".json.tmp")
        with open(tmp, "w") as fh:
            fh.write(
                json.dumps({**params, "_version": version}, sort_keys=True)
            )
            fh.flush()
            os.fsync(fh.fileno())
        os.replace(tmp, pfile)
        try:  # directory fsync is best-effort (not supported everywhere)
            dfd = os.open(self.base, os.O_RDONLY)
            try:
                os.fsync(dfd)
            finally:
                os.close(dfd)
        except OSError:  # pragma: no cover - platform-dependent
            pass
        # best-effort cleanup of superseded versions (crash here is
        # harmless: stale dirs are unreferenced and re-collected on the
        # next successful write). One directory glob, not a version-0..N
        # rescan — per-update cleanup cost stays proportional to actual
        # leftovers over the index's whole lifetime (review find).
        # RETENTION = 1 prior version (review find): serving DataFrames
        # are lazy plans pinned to the version's parquet paths, so a
        # reader obtained before an update must survive that update —
        # only versions older than the immediately-superseded one are
        # collected. A reader held across TWO updates must re-resolve
        # via read_sketch_index/sketch_estimates (documented contract;
        # the Delta/Iceberg vacuum-retention idea at its smallest).
        for stale in self.base.glob("sketch_index_*_v*"):
            try:
                v = int(stale.name.rsplit("_v", 1)[1])
            except ValueError:  # pragma: no cover - foreign dir name
                continue
            if v < version - 1:
                shutil.rmtree(stale, ignore_errors=True)
        if version >= 1:
            # pre-versioning (unversioned-dir) state migrated at v0 is
            # likewise retained for one update, then collected
            for table in SKETCH_INDEX_TABLES:
                legacy = self.base / table
                if legacy.exists():
                    shutil.rmtree(legacy, ignore_errors=True)

    def _sketch_table_paths(self) -> list[str]:
        # Read-compatibility with a pre-versioning sidecar (review find:
        # an index persisted by the unversioned writer would otherwise
        # become unreachable — an opaque KeyError here and False from
        # has_sketch_index — orphaning state the docstring calls
        # irreplaceable): no '_version' means the state lives in the
        # legacy unversioned dirs; the next write migrates it to v0.
        version = self.sketch_index_params().get("_version")
        if version is None:
            return [self.path(t) for t in SKETCH_INDEX_TABLES]
        return [self.path(f"{t}_v{version}") for t in SKETCH_INDEX_TABLES]

    def has_sketch_index(self) -> bool:
        import json

        try:
            version = self.sketch_index_params().get("_version")
        except FileNotFoundError:
            return False
        except json.JSONDecodeError:
            # a truncated sidecar makes the state unusable either way;
            # a boolean probe must answer, not raise (review find) —
            # the read path still raises loudly for diagnosis
            return False
        suffix = "" if version is None else f"_v{version}"
        return all(
            self.exists(f"{t}{suffix}") for t in SKETCH_INDEX_TABLES
        )

    def sketch_index_params(self) -> dict:
        import json

        pfile = self.base / SKETCH_INDEX_PARAMS_FILE
        if not pfile.exists():
            raise FileNotFoundError(
                f"no sketch index in catalog at {self.base} — build one "
                "with SparkDataProcessor.build_sketch_index()"
            )
        return json.loads(pfile.read_text())

    def read_sketch_index(self, spark: SparkSession):
        from exness_data_preprocess_spark.operators.sketches import (
            SketchIndex,
        )

        return SketchIndex(
            *(spark.read.parquet(p) for p in self._sketch_table_paths())
        )

    def compact(
        self,
        spark: SparkSession,
        table: str,
        instrument: str | None = None,
        target_rows_per_file: int = 5_000_000,
    ) -> dict[str, int]:
        """Small-file compaction — the maintenance job ClickHouse's
        background merges do implicitly (the reference never needs it;
        MergeTree parts self-compact, clickhouse_manager.py:159-176) and a
        Parquet lake must run explicitly: months ingested in many small
        appends accumulate one file per append per partition, and at 100 TB
        a scan pays per-file open/footer costs plus tiny rowgroups that
        defeat min/max skipping.

        Rewrites each affected (instrument, year_month) partition into
        ⌈rows / target_rows_per_file⌉ timestamp-sorted files via dynamic
        partition overwrite — same atomicity as the range-DELETE path (M2),
        data identical, layout consolidated.  Returns ``{"files_before":
        n, "files_after": m}``.

        Scale shape: the rewrite is one shuffle of only the touched
        partitions (predicate-pruned scan), and sortWithinPartitions
        restores the rowgroup min/max ordering the sparse-index analog
        depends on.
        """

        def _count_files() -> int:
            root = self.base / table
            if instrument is not None:
                root = root / f"instrument={instrument.upper()}"
            return sum(1 for _ in root.rglob("*.parquet")) if root.exists() else 0

        before = _count_files()
        if before == 0:
            return {"files_before": 0, "files_after": 0}
        df = self._load(spark, table)
        if instrument is not None:
            df = df.filter(F.col("instrument") == instrument.upper())
        # Break lineage from the files being replaced: Spark refuses to
        # overwrite a path it is reading. localCheckpoint materializes the
        # pruned partitions once; at cluster scale swap this for a
        # temp-dir write + atomic rename per partition.
        df = df.localCheckpoint()
        (
            df.repartition("instrument", "year_month")
            .sortWithinPartitions("timestamp")
            .write.mode("overwrite")
            # writer-level pin: a static overwrite here would truncate
            # every untouched partition (see overwrite_partitions)
            .option("partitionOverwriteMode", "dynamic")
            .option("maxRecordsPerFile", target_rows_per_file)
            .partitionBy(*PARTITION_COLS)
            .parquet(self.path(table))
        )
        return {"files_before": before, "files_after": _count_files()}
