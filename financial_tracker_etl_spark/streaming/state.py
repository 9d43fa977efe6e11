"""Keyed streaming state with deterministic last-write-wins merge (ST2).

The reference gets effective exactly-once on keys by combining Kafka
at-least-once delivery with idempotent ``INSERT … ON CONFLICT`` upserts
(reference: etl/main.py:94-96 + etl/jobs/fetch_market_data/
fetch_market_data.py:31-61). The Spark-native equivalent is a
``foreachBatch`` merge that is (a) keyed, (b) ordered by an EXPLICIT
total version order — never partition/arrival order — and therefore
(c) idempotent and batching-invariant: folding updates in over any
micro-batch split yields the same final state as one big batch, because
"keep the max version per key" is associative and commutative.

Locally the state lives as a parquet directory swapped atomically
between batches (write-new → drop-old → rename). On a real cluster the
identical ``merge`` body targets a Delta/Iceberg table via ``MERGE
INTO`` — the table format supplies the atomic swap and the state can be
bucketed/partitioned by the merge key so each micro-batch merge is a
co-located shuffle-once join at 100 TB.
"""

from __future__ import annotations

import os
import shutil
from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F


class KeyedParquetState:
    """Last-write-wins keyed state. ``version_cols`` (descending) must be
    a total order within a key across the whole run — ties would make
    the result depend on batch arrival order (SURVEY.md §7 watch-out a).
    """

    def __init__(
        self,
        spark: SparkSession,
        path: str,
        keys: list[str],
        version_cols: list[str],
        write_partitions: int = 8,
    ) -> None:
        self.spark = spark
        self.path = path
        self.keys = keys
        self.version_cols = version_cols
        # small-files control: every merge rewrites the state, so cap
        # the file count (continuous merges on shuffle-partition counts
        # would leave 32+ tiny files per batch; at 100 TB this knob is
        # the table format's compaction/target-file-size instead)
        self.write_partitions = write_partitions

    def exists(self) -> bool:
        return os.path.isdir(self.path)

    def read(self) -> DataFrame:
        return self.spark.read.parquet(self.path)

    def read_merged(self) -> DataFrame:
        """The logical (fully merged) state. For the rewrite store the
        physical files already are the logical state."""
        return self.read()

    def _dedupe(self, df: DataFrame) -> DataFrame:
        w = Window.partitionBy(*self.keys).orderBy(
            *[F.col(c).desc() for c in self.version_cols]
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )

    def merge(self, updates: DataFrame) -> None:
        """Fold a micro-batch into the state. Idempotent: re-merging the
        same batch leaves the state unchanged (max is idempotent), which
        is exactly what makes checkpoint-replay safe (ST2)."""
        merged = self._dedupe(
            self.read().unionByName(updates) if self.exists() else updates
        )
        tmp = self.path + "._next"
        merged.coalesce(self.write_partitions).write.mode("overwrite").parquet(tmp)
        if self.exists():
            shutil.rmtree(self.path)
        os.rename(tmp, self.path)


class LogStructuredState(KeyedParquetState):
    """Same contract, log-structured writes: each merge APPENDS the
    (locally deduped) batch as a delta; reads merge-on-read by deduping
    across all deltas. Because "max version per key" is a semilattice
    fold, dedupe-at-read over raw deltas equals dedupe-after-every-batch
    — so this trades read-side work for O(batch) instead of O(state)
    writes, exactly the Delta/Iceberg MERGE + compaction economics. A
    write-amplification compaction kicks in after ``compact_every``
    deltas to bound the read-side union."""

    def __init__(self, *args, compact_every: int = 8, **kwargs) -> None:
        super().__init__(*args, **kwargs)
        self.compact_every = compact_every
        self._n_deltas = 0

    def merge(self, updates: DataFrame) -> None:
        # append RAW: no per-batch dedupe. "max version per key" is a
        # semilattice fold, so deduping once at read time over raw
        # deltas equals deduping every batch — and the per-batch window
        # was one shuffle per merge per job, the dominant per-batch cost
        # (measured ~40% of pipeline wall at sf0.1). coalesce is a
        # narrow repartition (small-files control), not a shuffle.
        updates.coalesce(max(1, self.write_partitions // 2)).write.mode(
            "append"
        ).parquet(self.path)
        self._n_deltas += 1
        if self._n_deltas >= self.compact_every:
            self.compact()

    def seed_from_files(self, src_dir: str) -> None:
        """Bootstrap an EMPTY state from a pre-staged parquet delta by
        file copy — the fixture fast path for "prior DB contents"
        seeds that are a pure function of the testdata and staged once
        per scale factor.

        This method OWNS the store's flat-directory layout (raw
        ``shutil.copy`` at call sites coupled the queries to it and
        bypassed the delta accounting — r16 advisory): it validates
        that the seed carries every key and version column, counts the
        seed as one delta toward ``compact_every``, and refuses a
        non-empty target (a seed is a bootstrap, not a merge). The
        files must be rows ``merge()`` itself would have appended —
        for the tombstone store that includes a non-null tombstone
        flag column, which the override below checks.

        Local-mode assumption (same as the staging that produces these
        files): the seed files and the state dir are on the driver's
        filesystem."""
        if self.exists() and any(
            f.endswith(".parquet") for f in os.listdir(self.path)
        ):
            raise ValueError(
                f"seed_from_files on non-empty state {self.path!r}: "
                "seeding is a bootstrap; use merge() for updates"
            )
        seed = self.spark.read.parquet(src_dir)
        missing = [
            c
            for c in (*self.keys, *self.version_cols, *self._seed_required())
            if c not in seed.columns
        ]
        if missing:
            raise ValueError(
                f"seed at {src_dir!r} lacks required column(s) {missing}; "
                f"state schema needs keys {self.keys} + versions "
                f"{self.version_cols}"
            )
        # Spark writes every parquet column as nullable, so the schema
        # cannot prove the flags non-null; one probe per extra column
        nulls = [
            c
            for c in self._seed_required()
            if not seed.filter(F.col(c).isNull()).isEmpty()
        ]
        if nulls:
            raise ValueError(
                f"seed at {src_dir!r} has NULL values in {nulls}; "
                "merge() would have written them non-null"
            )
        os.makedirs(self.path, exist_ok=True)
        for f in os.listdir(src_dir):
            if f.endswith(".parquet"):
                shutil.copy(
                    os.path.join(src_dir, f), os.path.join(self.path, f)
                )
        self._n_deltas += 1

    def _seed_required(self) -> tuple[str, ...]:
        """Extra columns a seed delta must carry, with no NULL values
        (subclass hook)."""
        return ()

    def compact(self) -> None:
        merged = self._dedupe(self.read())
        tmp = self.path + "._next"
        merged.coalesce(self.write_partitions).write.mode("overwrite").parquet(tmp)
        shutil.rmtree(self.path)
        os.rename(tmp, self.path)
        self._n_deltas = 0

    def read_merged(self) -> DataFrame:
        """The logical state (merge-on-read over the delta log)."""
        return self._dedupe(self.read())


class VersionedLogState(KeyedParquetState):
    """Delta-log miniature with snapshot time travel — the
    ``VERSION AS OF`` read Delta/Iceberg give a 100 TB state table.
    Every merge commits an immutable numbered delta directory
    (``delta=N``); snapshot ``v`` is the last-write-wins fold over
    deltas 0..v, so history costs only storage, never rewrites, and
    any past state is reconstructible exactly. The commit index is the
    FINAL tie-break below ``version_cols``: a replayed identical batch
    lands in a new delta and changes nothing (max is idempotent), and
    no read ever depends on file/partition order. ``change_feed``
    derives the CDC rows between any two versions with one
    snapshot_diff — audit/invalidation without a separate change log.
    """

    def _delta_dirs(self) -> list[tuple[int, str]]:
        if not os.path.isdir(self.path):
            return []
        out = []
        for d in os.listdir(self.path):
            if d.startswith("delta="):
                full = os.path.join(self.path, d)
                # only COMMITTED deltas count: Spark drops _SUCCESS at
                # job completion, so a crashed/partial write leaves a
                # delta= dir without it — reading that dir would yield
                # a state that is neither version N-1 nor N, and the
                # next merge would commit on top of the corruption
                # (the table-format commit-log rule, miniature form)
                if not os.path.isfile(os.path.join(full, "_SUCCESS")):
                    continue
                out.append((int(d.split("=", 1)[1]), full))
        return sorted(out)

    def versions(self) -> list[int]:
        return [v for v, _ in self._delta_dirs()]

    def merge(self, updates: DataFrame) -> int:
        """Commit ``updates`` as the next immutable delta; returns the
        new version number."""
        vs = self.versions()
        v = (vs[-1] + 1) if vs else 0
        delta_dir = os.path.join(self.path, f"delta={v}")
        updates.coalesce(max(1, self.write_partitions // 2)).write.mode(
            "overwrite"
        ).parquet(delta_dir)
        # Fail fast at WRITE time if the committer was configured with
        # marksuccessfuljobs=false (common on object-store committers):
        # _delta_dirs() treats a marker-less dir as uncommitted, so
        # without this check every committed delta would be invisible,
        # merge() would reclaim the same version forever, and reads
        # would silently return empty state instead of erroring.
        if not os.path.isfile(os.path.join(delta_dir, "_SUCCESS")):
            raise RuntimeError(
                f"delta commit {delta_dir} wrote no _SUCCESS marker; "
                "VersionedLogState requires "
                "mapreduce.fileoutputcommitter.marksuccessfuljobs=true "
                "(the marker IS the commit record this log recovers by)"
            )
        return v

    def _snapshot(self, dirs: list[tuple[int, str]]) -> DataFrame:
        dfs = [
            self.spark.read.parquet(p).withColumn("_delta", F.lit(v))
            for v, p in dirs
        ]
        df = reduce(lambda a, b: a.unionByName(b), dfs)
        w = Window.partitionBy(*self.keys).orderBy(
            *[F.col(c).desc() for c in self.version_cols],
            F.col("_delta").desc(),
        )
        return (
            df.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn", "_delta")
        )

    def read_as_of(self, version: int) -> DataFrame:
        dirs = [(v, p) for v, p in self._delta_dirs() if v <= version]
        if not dirs:
            raise ValueError(
                f"no deltas at or before version {version}; have {self.versions()}"
            )
        return self._snapshot(dirs)

    def read_merged(self) -> DataFrame:
        dirs = self._delta_dirs()
        if not dirs:
            raise ValueError("empty versioned state")
        return self._snapshot(dirs)

    def change_feed(self, v_old: int, v_new: int) -> DataFrame:
        from ..operators.cdc import snapshot_diff

        return snapshot_diff(
            self.read_as_of(v_old), self.read_as_of(v_new), self.keys
        )


class TombstoneLogState(LogStructuredState):
    """Log-structured keyed state with DELETE support. A delete is a
    TOMBSTONE row — full schema, ``_deleted = true`` — competing in the
    same explicit last-write-wins version order as any update, which
    preserves every ST2 property: idempotent (replaying a delete
    changes nothing), batching-invariant (the fold is still max-per-
    key), and anti-resurrection (an at-least-once REPLAY of an update
    older than the tombstone cannot bring the key back, because the
    tombstone out-versions it). ``read_merged`` filters tombstones out
    of the logical state; ``compact`` deliberately RETAINS them —
    dropping a tombstone at compaction would let any later replay of an
    older delta resurrect the key. At 100 TB the retention policy is
    the table format's tombstone GC horizon (drop tombstones only once
    older than the replay/retention watermark); this miniature keeps
    them forever, which is the safe degenerate case."""

    TOMBSTONE = "_deleted"

    def merge(self, updates: DataFrame) -> None:
        if self.TOMBSTONE not in updates.columns:
            updates = updates.withColumn(self.TOMBSTONE, F.lit(False))
        else:
            # normalize NULL flags to False at write time: a source
            # that carries the column but leaves it NULL (e.g. a
            # unionByName(allowMissingColumns=True) feed) must mean
            # "not deleted" — otherwise the read filter's three-valued
            # ~NULL would silently drop never-deleted keys
            updates = updates.withColumn(
                self.TOMBSTONE,
                F.coalesce(F.col(self.TOMBSTONE), F.lit(False)),
            )
        super().merge(updates)

    def merge_deletes(self, rows: DataFrame) -> None:
        """Fold delete records in: ``rows`` carries the state schema
        (keys + version columns; value columns may be null) and wins
        against any lower-versioned update for its key."""
        self.merge(rows.withColumn(self.TOMBSTONE, F.lit(True)))

    def _seed_required(self) -> tuple[str, ...]:
        # a seed without the tombstone flag, or with a NULL flag, would
        # silently corrupt: read_merged's ~_deleted filter drops rows
        # whose flag is NULL, and merge() normalizes NULL to False only
        # on the merge path, never on a copied seed
        return (self.TOMBSTONE,)

    def read_merged(self) -> DataFrame:
        return (
            super()
            .read_merged()
            .filter(~F.col(self.TOMBSTONE))
            .drop(self.TOMBSTONE)
        )
