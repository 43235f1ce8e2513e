"""Exactly-once idempotent sink.

The reference's stored-execution-results sink writes each result by
action_id to BigTable/MinIO (at-least-once + ack,
ref: worker/sinks/sink/stored_execution_result_output_sink.py:6-22).
Here: ``foreachBatch`` + a batch-id commit log. Replayed batch ids
(crash between write and checkpoint commit) overwrite their own
output partition, so the sink converges to exactly-once output.

Layout (Iceberg-shaped: data + commit metadata; swap `_write_batch`
for an Iceberg `MERGE INTO`/snapshot append when the runtime has the
jars — the container here has none, documented divergence):

    <root>/data/_batch_id=N/part-*.parquet   (+ user partition cols)
    <root>/_commits/N.json                   commit marker + lineage

Readers take only committed batches: ``read_committed``.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import Optional, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


class TableFormat:
    """The table-format contract the exactly-once sink writes through.

    This is the Iceberg swap point, as CODE rather than prose. The
    sink's exactly-once recipe needs exactly three format capabilities,
    each of which maps 1:1 onto an Iceberg operation:

    ============================  =======================================
    this contract                 Iceberg equivalent
    ============================  =======================================
    overwrite_batch_partition()   ``df.writeTo(t).overwritePartitions()``
                                  scoped to the ``_batch_id=N`` partition
                                  (replacePartitions snapshot — replayed
                                  batch ids replace their own files only)
    commit()                      the atomic snapshot commit to the
                                  metadata log (Iceberg does this inside
                                  the writeTo; formats without atomic
                                  write+commit, like this parquet dir,
                                  split it into write then marker rename)
    scan(batches)                 snapshot read / time travel — readers
                                  see only committed snapshots
    ============================  =======================================

    Invariants any implementation must keep (pinned by the contract
    test in tests/test_streaming.py):
    1. overwrite_batch_partition is idempotent per batch_id and never
       touches other batches' data;
    2. commit(batch_id) is atomic and at-most-once-visible — a crash
       before it leaves the batch invisible to scan();
    3. scan() returns exactly the union of committed batches.
    """

    def overwrite_batch_partition(
        self, df: DataFrame, batch_id: int, partition_cols: Sequence[str]
    ) -> dict:
        raise NotImplementedError

    def commit(self, batch_id: int, commit: dict) -> None:
        raise NotImplementedError

    def is_committed(self, batch_id: int) -> bool:
        raise NotImplementedError

    def committed_batches(self) -> list[int]:
        raise NotImplementedError

    def scan(
        self, spark: SparkSession, batches: Sequence[int], merge_schema: bool = False
    ) -> DataFrame:
        raise NotImplementedError


class ParquetDirFormat(TableFormat):
    """Parquet directory + JSON commit-marker implementation: data
    files under ``data/_batch_id=N``, one atomically-renamed marker
    per committed batch under ``_commits/``."""

    def __init__(self, root: str):
        self.root = root
        os.makedirs(self._commits_dir, exist_ok=True)

    @property
    def _commits_dir(self) -> str:
        return os.path.join(self.root, "_commits")

    @property
    def data_dir(self) -> str:
        return os.path.join(self.root, "data")

    def _commit_path(self, batch_id: int) -> str:
        return os.path.join(self._commits_dir, f"{batch_id}.json")

    def is_committed(self, batch_id: int) -> bool:
        return os.path.exists(self._commit_path(batch_id))

    def commit_metadata(self, batch_id: int) -> dict:
        with open(self._commit_path(batch_id)) as f:
            return json.load(f)

    def committed_batches(self) -> list[int]:
        out = []
        for f in os.listdir(self._commits_dir):
            if f.endswith(".json"):
                out.append(int(f[:-5]))
        return sorted(out)

    def overwrite_batch_partition(
        self, df: DataFrame, batch_id: int, partition_cols: Sequence[str]
    ) -> dict:
        # static overwrite scoped to this batch's partition directory
        batch_dir = os.path.join(self.data_dir, f"_batch_id={int(batch_id)}")
        writer = df.write.mode("overwrite")
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.parquet(batch_dir)
        # per-partition lineage (north rule) from filesystem metadata —
        # files/bytes per partition directory, no second data pass
        # (Iceberg surfaces the same stats from snapshot manifests)
        lineage: dict[str, dict] = {}
        for droot, _dirs, files in os.walk(batch_dir):
            pqs = [f for f in files if f.endswith(".parquet")]
            if not pqs:
                continue
            rel = os.path.relpath(droot, batch_dir)
            lineage[rel if rel != "." else ""] = {
                "files": len(pqs),
                "bytes": sum(os.path.getsize(os.path.join(droot, f)) for f in pqs),
            }
        return {"partitions": lineage}

    def commit(self, batch_id: int, commit: dict) -> None:
        tmp = self._commit_path(batch_id) + f".tmp.{os.getpid()}"
        with open(tmp, "w") as f:
            json.dump(commit, f)
        os.replace(tmp, self._commit_path(batch_id))

    def scan(
        self, spark: SparkSession, batches: Sequence[int], merge_schema: bool = False
    ) -> DataFrame:
        paths = [os.path.join(self.data_dir, f"_batch_id={b}") for b in batches]
        reader = spark.read.option("basePath", self.data_dir)
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        return reader.parquet(*paths)


class SqliteManifestFormat(ParquetDirFormat):
    """Second ``TableFormat`` implementation (round-3 verdict, next-round
    item 5): same parquet data plane (Iceberg's data layer is parquet
    files too), but the METADATA layer is an ACID SQLite manifest
    catalog instead of per-batch marker-file renames — one
    ``snapshots`` table, commits land in a single transaction. This is
    the catalog-backed commit style (Iceberg with a JDBC/REST catalog:
    the snapshot pointer swap is a database transaction, not a
    filesystem rename), so the swap-point contract now has two
    structurally different implementations passing the same invariant
    suite:

    1. idempotent per-batch overwrite (inherited data plane);
    2. atomic at-most-once-visible commit — the INSERT transaction
       either lands whole or not at all, a crash mid-commit leaves the
       batch invisible;
    3. scan() = union of committed batches (inherited, driven by this
       class's committed_batches()).
    """

    def __init__(self, root: str):
        self.root = root
        os.makedirs(self.root, exist_ok=True)
        with self._conn() as con, con:
            con.execute(
                "CREATE TABLE IF NOT EXISTS snapshots ("
                " batch_id INTEGER PRIMARY KEY,"
                " committed_at REAL NOT NULL,"
                " commit_json TEXT NOT NULL)"
            )

    def _conn(self):
        # sqlite3's context manager only commits the transaction — it
        # never closes the handle — so every call site wraps with
        # contextlib.closing too (one leaked fd per poll would add up
        # over a long-running streaming job's is_committed churn).
        import contextlib
        import sqlite3

        return contextlib.closing(
            sqlite3.connect(os.path.join(self.root, "manifest.db"))
        )

    def is_committed(self, batch_id: int) -> bool:
        with self._conn() as con, con:
            row = con.execute(
                "SELECT 1 FROM snapshots WHERE batch_id = ?", (int(batch_id),)
            ).fetchone()
        return row is not None

    def commit_metadata(self, batch_id: int) -> dict:
        with self._conn() as con, con:
            row = con.execute(
                "SELECT commit_json FROM snapshots WHERE batch_id = ?",
                (int(batch_id),),
            ).fetchone()
        if row is None:
            raise FileNotFoundError(f"batch {batch_id} not committed")
        return json.loads(row[0])

    def committed_batches(self) -> list[int]:
        with self._conn() as con, con:
            rows = con.execute(
                "SELECT batch_id FROM snapshots ORDER BY batch_id"
            ).fetchall()
        return [int(r[0]) for r in rows]

    def commit(self, batch_id: int, commit: dict) -> None:
        # INSERT OR REPLACE keeps replayed batch ids idempotent (the
        # replay overwrote its own data partition; the manifest row
        # follows), all inside one sqlite transaction — atomic commit
        # without the write-then-rename split.
        with self._conn() as con, con:
            con.execute(
                "INSERT OR REPLACE INTO snapshots "
                "(batch_id, committed_at, commit_json) VALUES (?, ?, ?)",
                (int(batch_id), time.time(), json.dumps(commit)),
            )


class ExactlyOnceParquetSink:
    def __init__(
        self,
        root: str,
        partition_by: Sequence[str] = (),
        n_buckets: int = 32,
        bucket_col: Optional[str] = "conv_id",
        repartition_buckets: bool = True,
        salt_span: Optional[int] = None,
        salt_col: str = "turn_idx",
        table_format: Optional[TableFormat] = None,
    ):
        """``partition_by`` are user partition columns *in addition to*
        the batch-id partition. With ``bucket_col`` set, a
        ``_bucket = pmod(xxhash64(bucket_col), n_buckets)`` partition
        column spreads hot keys (north rule: hash(conv_id) × ts-hour
        partitioning with salting).

        ``repartition_buckets=False`` skips the pre-write shuffle: use
        it when the *input* table is already clustered by
        ``xxhash64(bucket_col) % K`` with K a multiple of n_buckets
        (co-partitioned source and sink — each map task then holds a
        few whole buckets and the write stays narrow, the layout a
        bucketed Iceberg table gives for free at cluster scale).

        ``salt_span`` enables explicit hot-key salting (north rule):
        the bucket becomes ``pmod(xxhash64(bucket_col) +
        floor(salt_col / salt_span), n_buckets)``, so a conversation
        longer than salt_span turns spreads deterministically across
        consecutive buckets while short conversations keep exactly one
        bucket. Readers recover a conversation by scanning its
        ⌈len/span⌉ buckets — bounded fan-out, no hot partition."""
        self.root = root
        self.partition_by = list(partition_by)
        self.n_buckets = n_buckets
        self.bucket_col = bucket_col
        self.repartition_buckets = repartition_buckets
        self.salt_span = salt_span
        self.salt_col = salt_col
        self.format = table_format if table_format is not None else ParquetDirFormat(root)

    @property
    def data_dir(self) -> str:
        return getattr(self.format, "data_dir", os.path.join(self.root, "data"))

    def is_committed(self, batch_id: int) -> bool:
        return self.format.is_committed(batch_id)

    def committed_batches(self) -> list[int]:
        return self.format.committed_batches()

    def write_data(self, df: DataFrame, batch_id: int) -> dict:
        """Write one batch's data files (no commit marker). Idempotent:
        a replayed batch id overwrites exactly its own `_batch_id=N`
        partition (no cross-batch clobber). Returns write stats for the
        commit marker."""
        from pyspark.sql import Observation

        t0 = time.time()
        obs = Observation()
        out = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        parts = list(self.partition_by)
        if self.bucket_col and self.bucket_col in df.columns:
            bucket = F.xxhash64(F.col(self.bucket_col))
            if self.salt_span and self.salt_col in df.columns:
                bucket = bucket + F.floor(F.col(self.salt_col) / F.lit(self.salt_span))
            out = out.withColumn("_bucket", F.pmod(bucket, F.lit(self.n_buckets)))
            parts.append("_bucket")
            if self.repartition_buckets:
                # co-locate each bucket in one task: B output files per
                # batch instead of tasks × B tiny files
                out = out.repartition(self.n_buckets, F.col("_bucket"))
        fmt_stats = self.format.overwrite_batch_partition(out, int(batch_id), parts)
        # row count observed during the single write pass
        return {
            "rows": obs.get["rows"],
            "duration_s": round(time.time() - t0, 3),
            "partition_columns": parts,
            **fmt_stats,
        }

    def mark_commit(self, batch_id: int, stats: dict) -> None:
        self.format.commit(
            int(batch_id),
            {
                "batch_id": int(batch_id),
                "committed_at_unix": time.time(),
                "writer": str(uuid.uuid4()),
                **stats,
            },
        )

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        """foreachBatch body: write data files, then mark the commit."""
        self.mark_commit(batch_id, self.write_data(df, batch_id))

    def read_committed(self, spark: SparkSession, merge_schema: bool = False) -> DataFrame:
        """Union of committed batch partitions only (uncommitted data
        files from a crashed writer are invisible). ``merge_schema``
        reconciles batches written by different ruleset versions
        (rules hot-swap restarts — new feature columns read as NULL
        for old batches)."""
        batches = self.committed_batches()
        if not batches:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return self.format.scan(spark, batches, merge_schema=merge_schema)

    def read_snapshot(
        self,
        spark: SparkSession,
        as_of_batch_id: int,
        merge_schema: bool = False,
    ) -> DataFrame:
        """Time travel: the table as of commit ``as_of_batch_id`` —
        the union of committed batches with id ≤ the given one
        (Iceberg ``VERSION AS OF <snapshot>``; batch-id travel rather
        than wall-clock travel so reads are deterministic under replay
        — a replayed batch keeps its id, not its commit time). Batches
        committed later, and data files whose commit marker never
        landed, are invisible."""
        batches = [
            b for b in self.committed_batches() if b <= int(as_of_batch_id)
        ]
        if not batches:
            raise FileNotFoundError(
                f"no batches committed at or before {as_of_batch_id} "
                f"under {self.root}"
            )
        return self.format.scan(spark, batches, merge_schema=merge_schema)

    def snapshot_history(self) -> list[dict]:
        """Commit metadata, oldest first — batch id, commit wall time,
        writer, row counts and per-partition lineage (files/bytes) as
        recorded in each commit marker (Iceberg's snapshot/manifest
        metadata table analogue). Reads only the marker JSONs — never
        the data files."""
        reader = getattr(self.format, "commit_metadata", None)
        if reader is None:
            raise NotImplementedError(
                f"{type(self.format).__name__} exposes no commit metadata"
            )
        return [reader(b) for b in self.committed_batches()]

    # ------------------------------------------------------------------
    # Compaction (Iceberg rewrite_data_files analogue). A year of
    # 10-second micro-batches is ~3.2M commits x n_buckets files — the
    # classic small-file death of a streaming table. compact() rewrites
    # the batches <= upto into one bucket-partitioned rewrite snapshot
    # WITHOUT changing logical content at any snapshot:
    #
    #   <root>/_rewrites/<R>/            rewritten data files
    #   <root>/_rewrites/<R>.json        atomic rewrite marker
    #                                    {replaces: [...], upto, ...}
    #
    # Original batch dirs are RETAINED (crash before the marker leaves
    # the rewrite invisible; time travel below `upto` still reads
    # originals) until vacuum() deletes fully-covered originals and
    # records the snapshot floor — exactly Iceberg's rewrite-then-
    # expire_snapshots split. `_batch_id` survives as a data column in
    # rewritten files, so a rewrite-served scan returns the identical
    # rows (including lineage columns) the original partitions did.
    # ------------------------------------------------------------------

    @property
    def _rewrites_dir(self) -> str:
        return os.path.join(self.root, "_rewrites")

    def _rewrite_markers(self) -> list[dict]:
        d = self._rewrites_dir
        if not os.path.isdir(d):
            return []
        out = []
        for f in os.listdir(d):
            if f.endswith(".json") and not f.startswith("_"):
                with open(os.path.join(d, f)) as fh:
                    out.append(json.load(fh))
        return sorted(out, key=lambda m: m["rewrite_id"])

    def _snapshot_floor(self) -> Optional[int]:
        p = os.path.join(self._rewrites_dir, "_floor.json")
        if not os.path.exists(p):
            return None
        with open(p) as f:
            return json.load(f)["min_snapshot"]

    def compact(
        self,
        spark: SparkSession,
        upto_batch_id: Optional[int] = None,
        target_bytes: int = 128 * 1024 * 1024,
    ) -> dict:
        """Rewrite every committed batch with id <= ``upto_batch_id``
        (default: second-newest commit — the newest stays out so a
        Structured Streaming replay of the in-flight batch can never
        race its own compaction) into ONE rewrite snapshot. Task count
        is sized by total bytes / ``target_bytes`` from the commit
        markers' lineage (no data pass); bucketed tables keep whole
        buckets per task, so the rewrite lands n_buckets files instead
        of batches x n_buckets."""
        committed = self.committed_batches()
        if upto_batch_id is None:
            if len(committed) < 2:
                raise ValueError("compact: need >= 2 committed batches")
            upto_batch_id = committed[-2]
        replaces = [b for b in committed if b <= int(upto_batch_id)]
        if not replaces:
            raise ValueError(f"compact: no committed batches <= {upto_batch_id}")
        total_bytes = 0
        for b in replaces:
            meta = self.format.commit_metadata(b)
            total_bytes += sum(
                p["bytes"] for p in meta.get("partitions", {}).values()
            )
        n_tasks = max(1, -(-total_bytes // int(target_bytes)))
        markers = self._rewrite_markers()
        rewrite_id = (markers[-1]["rewrite_id"] + 1) if markers else 0
        os.makedirs(self._rewrites_dir, exist_ok=True)
        rw_dir = os.path.join(self._rewrites_dir, str(rewrite_id))

        df = self.format.scan(spark, replaces)
        # partition columns come back from directory parsing; pin the
        # id to the parser's IntegerType so rewrite-served unions with
        # original partitions stay schema-identical
        df = df.withColumn("_batch_id", F.col("_batch_id").cast("int"))
        # mirror the sink's partition layout (minus _batch_id) so the
        # rewrite's directory-parsed partition column types match the
        # originals' and the union stays schema-identical
        parts = [
            c for c in (*self.partition_by, "_bucket") if c in df.columns
        ]
        if parts:
            df.repartition(int(n_tasks), *[F.col(c) for c in parts]).write.mode(
                "overwrite"
            ).partitionBy(*parts).parquet(rw_dir)
        else:
            df.coalesce(int(n_tasks)).write.mode("overwrite").parquet(rw_dir)
        n_files = sum(
            1
            for _root, _d, files in os.walk(rw_dir)
            for f in files
            if f.endswith(".parquet")
        )
        marker = {
            "rewrite_id": rewrite_id,
            "replaces": replaces,
            "upto": int(upto_batch_id),
            "input_bytes": total_bytes,
            "target_bytes": int(target_bytes),
            "files": n_files,
            "committed_at_unix": time.time(),
        }
        tmp = os.path.join(self._rewrites_dir, f"{rewrite_id}.json.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(marker, f)
        os.replace(tmp, os.path.join(self._rewrites_dir, f"{rewrite_id}.json"))
        return marker

    def _effective_rewrite(self) -> Optional[dict]:
        markers = self._rewrite_markers()
        return markers[-1] if markers else None

    def _scan_with_rewrite(
        self, spark: SparkSession, batches: list[int], merge_schema: bool
    ) -> DataFrame:
        """Scan ``batches`` serving the rewrite for every batch it
        covers and originals for the rest; falls back to originals-only
        when no rewrite covers the range (or none exists)."""
        rw = self._effective_rewrite()
        if rw is None or not set(rw["replaces"]).issubset(batches):
            floor = self._snapshot_floor()
            if floor is not None and any(b < floor for b in batches):
                raise FileNotFoundError(
                    f"snapshot expired: originals below batch {floor} were "
                    "vacuumed; only snapshots at/above the floor are readable"
                )
            return self.format.scan(spark, batches, merge_schema=merge_schema)
        rest = [b for b in batches if b not in set(rw["replaces"])]
        rw_dir = os.path.join(self._rewrites_dir, str(rw["rewrite_id"]))
        reader = spark.read.option("basePath", rw_dir)
        if merge_schema:
            reader = reader.option("mergeSchema", True)
        out = reader.parquet(rw_dir)
        if rest:
            out = out.unionByName(
                self.format.scan(spark, rest, merge_schema=merge_schema)
            )
        return out

    def read_current(
        self, spark: SparkSession, merge_schema: bool = False
    ) -> DataFrame:
        """``read_committed`` through the latest rewrite: compacted
        file layout for the covered prefix, original partitions for
        everything after — identical rows either way."""
        batches = self.committed_batches()
        if not batches:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return self._scan_with_rewrite(spark, batches, merge_schema)

    def read_snapshot_compacted(
        self, spark: SparkSession, as_of_batch_id: int, merge_schema: bool = False
    ) -> DataFrame:
        """Time travel that survives vacuum: snapshots at/above the
        latest rewrite's ``upto`` serve the covered prefix from the
        rewrite; older snapshots need the originals (raise once those
        are vacuumed below the floor)."""
        batches = [
            b for b in self.committed_batches() if b <= int(as_of_batch_id)
        ]
        if not batches:
            raise FileNotFoundError(
                f"no batches committed at or before {as_of_batch_id}"
            )
        return self._scan_with_rewrite(spark, batches, merge_schema)

    def vacuum(self) -> dict:
        """Delete the original batch directories fully covered by the
        latest rewrite and record the snapshot floor (= the rewrite's
        ``upto``): Iceberg ``expire_snapshots``. Time travel below the
        floor raises afterwards; at/above it is served by the
        rewrite."""
        import shutil

        rw = self._effective_rewrite()
        if rw is None:
            raise ValueError("vacuum: no rewrite to vacuum against")
        removed = []
        for b in rw["replaces"]:
            d = os.path.join(self.data_dir, f"_batch_id={b}")
            if os.path.isdir(d):
                shutil.rmtree(d)
                removed.append(b)
        floor = {"min_snapshot": rw["upto"], "rewrite_id": rw["rewrite_id"]}
        tmp = os.path.join(self._rewrites_dir, f"_floor.json.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(floor, f)
        os.replace(tmp, os.path.join(self._rewrites_dir, "_floor.json"))
        return {"removed_batches": removed, **floor}


class PartialSinkFailure(Exception):
    """One or more tee targets failed for a batch; carries the
    per-target error map (ref: output_sink.py:56-80 collects the same
    map — its TODO raise is implemented here because exactly-once
    depends on the batch retrying)."""

    def __init__(self, errors: dict[str, Exception]):
        self.errors = errors
        super().__init__(
            "; ".join(f"{name}: {type(e).__name__}: {e}" for name, e in errors.items())
        )


class MultiSink:
    """Multi-tee output sink (ref: worker/sinks/sink/output_sink.py:46-89
    MultiOutputSink): one ``foreachBatch`` fans each micro-batch out to
    N named tables, each with its own transform and partitioning, under
    ONE shared batch-id commit log — a batch is committed only when
    every target wrote, so exactly-once holds across the tee.

    Error isolation matches the reference's push loop: every target is
    attempted even after one fails (a broken analytics sink never
    blocks the verdict table's write), then the batch fails as a whole
    (PartialSinkFailure) so Structured Streaming retries it; replayed
    targets overwrite their own `_batch_id=N` dirs, so the surviving
    writes are idempotent.

    ``tables`` maps name -> (transform_fn, sink_spec); each target
    becomes an ExactlyOnceParquetSink at <root>/tables/<name> when
    sink_spec is a kwargs dict, OR uses sink_spec directly when it is
    a pre-constructed sink object implementing ``write_data(df,
    batch_id) -> dict`` (e.g. ``streaming.kafka.KafkaSink`` — an
    at-least-once tee riding the shared commit log for retry
    semantics). The input batch is persisted once so N tees cost one
    upstream evaluation, not N.
    """

    def __init__(
        self,
        root: str,
        tables: dict,
        console: bool = False,
    ):
        self.root = root
        self.console = console
        self.tables: dict[str, tuple] = {}
        for name, spec in tables.items():
            transform, sink_spec = spec if isinstance(spec, tuple) else (spec, {})
            if hasattr(sink_spec, "write_data"):
                sink = sink_spec
            else:
                sink = ExactlyOnceParquetSink(
                    os.path.join(root, "tables", name), **sink_spec
                )
            self.tables[name] = (transform, sink)
        # the shared commit log: one marker per batch that every target wrote
        self.log = ParquetDirFormat(root)

    def is_committed(self, batch_id: int) -> bool:
        return self.log.is_committed(batch_id)

    def committed_batches(self) -> list[int]:
        return self.log.committed_batches()

    def write_batch(self, df: DataFrame, batch_id: int) -> None:
        df = df.persist()
        try:
            stats: dict[str, dict] = {}
            errors: dict[str, Exception] = {}
            for name, (transform, sink) in self.tables.items():
                try:
                    out = transform(df) if transform is not None else df
                    stats[name] = sink.write_data(out, batch_id)
                except Exception as e:  # noqa: BLE001 — per-sink isolation
                    errors[name] = e
            if self.console:
                summary = {n: s.get("rows") for n, s in stats.items()}
                print(f"[multi-sink] batch={batch_id} rows={summary} errors={list(errors)}")
            if errors:
                raise PartialSinkFailure(errors)
            self.log.commit(int(batch_id), {
                "batch_id": int(batch_id),
                "committed_at_unix": time.time(),
                "writer": str(uuid.uuid4()),
                "tables": stats,
            })
        finally:
            df.unpersist()

    def read_committed(self, spark: SparkSession, table: str) -> DataFrame:
        """Read one tee target, taking only batches present in the
        SHARED commit log (a batch where another target failed is
        invisible everywhere — cross-table consistency)."""
        _, sink = self.tables[table]
        if not hasattr(sink, "format"):
            raise TypeError(
                f"tee target {table!r} is not a readable table sink "
                "(e.g. a KafkaSink produces to a topic — consume it there)"
            )
        batches = self.committed_batches()
        if not batches:
            raise FileNotFoundError(f"no committed batches under {self.root}")
        return sink.format.scan(spark, batches)
