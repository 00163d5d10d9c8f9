"""Evolving table store (reference parity: S3/S4, D2-D5, K2).

The reference creates/evolves one ClickHouse MergeTree table per event
type: CREATE on first batch, ALTER ADD COLUMN for new columns, ALTER
COLUMN TYPE String for the sanctioned widening
(clickhouse-batch-client.class.ts:492-591). This store provides the
same contract over parquet directories + one manifest per table:

- ``write`` reconciles the incoming batch schema with the live schema
  (plans/evolution.py), NULL-fills missing columns (K1's NULL
  rendering), casts to the merged types, and appends.
- A widening that changes an *existing* column's type rewrites the
  stored data with a cast — the ALTER COLUMN equivalent — together
  with the batch, as one new data version. Rare by construction (only
  on a genuine type conflict), and at production scale this is exactly
  where a lakehouse format's metadata-only type widening (e.g. Delta)
  slots in behind the same interface.

A table's whole state lives in ``<table>/_table.json``: its schema,
partition and sort layout, the active data version, the parquet files
of that version and the batch-id commit log. Like the live ClickHouse
table, it is changed in one step: every store write lands its data
first, then commits the manifest once (tmp file + ``os.replace``), so a
reader or a crash sees either the old table or the new one, never a
schema that does not match the rows.

Appends are directories of parquet files — the micro-batch pattern:
each batch writes new files, never rewrites old ones (K2's multi-row
INSERT amortization). A file no commit names is an append that died
before its commit: reads skip it and the next write deletes it.

Sink-protocol details of the reference with no Spark-side counterpart
(out of correctness scope, per SURVEY §2.6-2.7): D6's textual DDL
rendering (`Nullable(T)` wrapping, default-literal escaping) is
subsumed by ``StructField(nullable=...)`` in the manifest's schema; K1's
SQL-literal escaping by native parquet value binding; K3's ClickHouse
``async_insert`` client setting by the sink connector's own batching.
"""

from __future__ import annotations

import json
import os
import shutil
import threading
import uuid
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..plans.evolution import merge_schemas

_MANIFEST = "_table.json"
_MAX_TRACKED_BATCHES = 10_000


class TableStore:
    def __init__(self, spark: SparkSession, root: str | os.PathLike):
        self.spark = spark
        self.root = Path(root)
        self.root.mkdir(parents=True, exist_ok=True)
        self._writers: dict[str, threading.RLock] = {}
        self._writers_guard = threading.Lock()

    def _writer(self, table: str) -> threading.RLock:
        """One writer per table: ``write``, ``upsert``, ``compact`` and
        ``delete_where`` hold this for their whole run. Appends racing
        on one data directory share the committer's ``_temporary`` dir,
        which the first commit deletes; a rewrite racing an append
        would publish a version without the appended rows; and the
        manifest is read-modify-write."""
        with self._writers_guard:
            return self._writers.setdefault(table, threading.RLock())

    # -- catalog ----------------------------------------------------------
    def table_path(self, table: str) -> Path:
        if not table or table.startswith("_") or "/" in table or ".." in table:
            raise ValueError(f"illegal table name: {table!r}")
        return self.root / table

    def ping(self) -> bool:
        """B4: destination health probe — the reference pings ClickHouse
        every 30s and pauses ingestion while it fails (src/main.ts:
        648-653, 463-469). Here: is the store root writable?"""
        try:
            probe = self.root / ".ping"
            probe.write_text("")
            probe.unlink()
            return True
        except OSError:
            return False

    def _manifest(self, table: str) -> dict | None:
        """The committed manifest, or None before the table exists."""
        try:
            return json.loads((self.table_path(table) / _MANIFEST).read_text())
        except FileNotFoundError:
            return None

    def _commit(self, table: str, manifest: dict) -> None:
        """The one metadata write: replace the manifest atomically."""
        p = self.table_path(table)
        # tmp files of a commit that died before os.replace are inert —
        # readers only follow the manifest — but would accumulate
        for stale in p.glob(".table-*"):
            stale.unlink(missing_ok=True)
        tmp = p / f".table-{uuid.uuid4().hex[:8]}"
        tmp.write_text(json.dumps(manifest))
        os.replace(tmp, p / _MANIFEST)

    def table_exists(self, table: str) -> bool:
        """S3: existence probe."""
        return (self.table_path(table) / _MANIFEST).exists()

    def table_schema(self, table: str) -> T.StructType | None:
        """S4: live-schema scan."""
        m = self._manifest(table)
        return None if m is None else T.StructType.fromJson(m["schema"])

    def tables(self) -> list[str]:
        """The event tables; ``_``-prefixed directories (the DLQ) are
        not among them."""
        return sorted(
            d.name
            for d in self.root.iterdir()
            if d.is_dir() and not d.name.startswith("_") and (d / _MANIFEST).exists()
        )

    # -- versioned data layout -------------------------------------------
    # Rewrites (compact, widening, delete, upsert) all go through
    # ``_publish``: they produce a NEW data directory and commit the
    # manifest pointing at it, keeping the immediately previous version
    # on disk as a grace window. This is the reader snapshot-isolation
    # contract of a table format (Delta/Iceberg keep old files until
    # vacuum for the same reason): a reader that planned its scan
    # against version N keeps valid file paths while the commit of N+1
    # happens, for at least one full maintenance interval.

    def data_dir(self, table: str) -> Path:
        """The ACTIVE data directory (resolve before every scan)."""
        m = self._manifest(table)
        return self.table_path(table) / (m["current"] if m else "data")

    def _publish(
        self,
        table: str,
        manifest: dict,
        df: DataFrame,
        touched: DataFrame | None = None,
    ) -> Path:
        """Write ``df`` as the table's next data version in its recorded
        layout (``partitionBy`` + ``sortWithinPartitions``), commit
        ``manifest`` pointing at it, then GC every version but the one
        it replaced (the in-flight readers' grace window); returns the
        new version's directory. Call with the table's writer lock held.

        ``touched`` (rows carrying the partition column) prunes the
        rewrite on a single-level partitioned table: only partitions
        holding a ``touched`` value are written from ``df``; every other
        partition directory is copied into the new version as-is —
        never re-read, never re-encoded (the analog of a manifest-based
        format rewriting only affected data files). Multi-level or
        unpartitioned tables rewrite fully."""
        p = self.table_path(table)
        prev = manifest["current"]
        part_cols = [c for c in manifest["partition_by"] if c in df.columns]
        sort_cols = [c for c in manifest["sort_by"] if c in df.columns]
        n = 0 if prev == "data" else int(prev.rsplit("-v", 1)[1])
        new_dir = p / f"data-v{n + 1:06d}"
        untouched: list[Path] = []
        if touched is not None and len(part_cols) == 1:
            pc = part_cols[0]
            # partition values holding >=1 touched row — a driver
            # round-trip bounded by the partition-value count (the
            # store's usual cardinality class)
            affected = [r[0] for r in touched.select(pc).distinct().collect()]
            affected_dirs = self._partition_dir_names(touched, pc)
            df = df.filter(
                F.col(pc).isin([v for v in affected if v is not None])
                | (F.col(pc).isNull() if None in affected else F.lit(False))
            )
            _drop_uncommitted(p / prev, manifest)  # not copied along
            untouched = [
                d
                for d in sorted((p / prev).iterdir())
                if d.is_dir() and "=" in d.name and d.name not in affected_dirs
            ]
        if sort_cols:
            # partitionBy sorts its input by the partition columns unless
            # already so ordered, and that sort replaces (not refines) a
            # sort on sort_cols alone: lead with the partition columns
            df = df.sortWithinPartitions(*part_cols, *sort_cols)
        writer = df.write.mode("overwrite")
        if part_cols:
            writer = writer.partitionBy(*part_cols)
        writer.parquet(str(new_dir))
        for d in untouched:
            shutil.copytree(d, new_dir / d.name, dirs_exist_ok=True)
        self._commit(table, {**manifest, "current": new_dir.name, "files": _listing(new_dir)})
        for d in p.iterdir():
            if (
                d.is_dir()
                and (d.name == "data" or d.name.startswith("data-v"))
                and d.name not in (prev, new_dir.name)
            ):
                shutil.rmtree(d, ignore_errors=True)
        return new_dir

    # -- read -------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        m = self._manifest(table)
        if m is None:
            raise KeyError(f"no such table: {table}")
        schema = T.StructType.fromJson(m["schema"])
        data = self.table_path(table) / m["current"]
        on_disk = _listing(data)
        files = m.get("files", on_disk)  # a manifest from before file lists
        if not files:
            return self.spark.createDataFrame([], schema)
        # with an uncommitted append's files in the dir, name the committed ones
        paths = [data] if files == on_disk else [data / f for f in files]
        return self.spark.read.schema(schema).option("basePath", str(data)).parquet(
            *map(str, paths)
        )

    # -- write (D2/D3/D4 + K2) -------------------------------------------
    def write(
        self,
        df: DataFrame,
        table: str,
        nullable_new: bool = True,
        batch_id: int | str | None = None,
        partition_by: tuple[str, ...] | None = None,
        sort_by: tuple[str, ...] | None = None,
        coalesce_to: int | None = None,
    ) -> T.StructType | None:
        """Append a batch, evolving the table schema to fit. Returns the
        committed schema, or None when the batch was a replay.

        - ``batch_id``: idempotent commit — a batch id already in the
          table's commit log is skipped entirely (None), so a
          ``foreachBatch`` replay after a crash never double-inserts
          (the exactly-once half the reference approximates by clearing
          its prepared state before exec,
          clickhouse-batch-client.class.ts:152-154).
        - ``partition_by``: directory partitioning, fixed at table
          creation (later values are ignored in favor of the recorded
          layout) — the scale analog of a time-partitioned MergeTree;
          reads with partition-key predicates prune directories.
        - ``sort_by``: ``sortWithinPartitions`` before the write — the
          MergeTree ``ORDER BY sent_at`` analog (D2,
          clickhouse-batch-client.class.ts:579-584): co-locates rows
          for min/max skipping within each parquet file.
        """
        with self._writer(table):
            m = self._manifest(table)
            existing = None if m is None else T.StructType.fromJson(m["schema"])
            if m is None:  # table creation fixes the layout
                m = {
                    "partition_by": list(partition_by or ()),
                    "sort_by": list(sort_by or ()),
                    "current": "data",
                    "files": [],
                    "committed_batches": [],
                }
            elif batch_id is not None and str(batch_id) in m["committed_batches"]:
                return None
            target = merge_schemas(existing, df.schema, nullable_new=nullable_new)
            m = _logged({**m, "schema": target.jsonValue()}, batch_id)

            aligned = _align(df, target)
            if coalesce_to is not None and coalesce_to >= 1:
                # small-files guard: land the batch in ~coalesce_to files
                # instead of one per shuffle partition (narrow dependency —
                # no shuffle; a no-op when already narrower)
                aligned = aligned.coalesce(coalesce_to)
            if existing is not None and any(
                e.name == f.name and e.dataType != f.dataType
                for f in target.fields
                for e in existing.fields
            ):
                # D4: ALTER COLUMN TYPE equivalent — the stored rows cast
                # to the widened schema and the batch land as ONE new
                # version, committed with the widened schema
                stored = _align(self.read(table), target)
                self._publish(table, m, stored.unionByName(aligned))
                return target
            sort_cols = [c for c in m["sort_by"] if c in set(target.fieldNames())]
            part_cols = [c for c in m["partition_by"] if c in set(target.fieldNames())]
            if sort_cols:
                # partition columns lead: see _publish
                aligned = aligned.sortWithinPartitions(*part_cols, *sort_cols)
            data_dir = self.table_path(table) / m["current"]
            data_dir.mkdir(parents=True, exist_ok=True)
            _drop_uncommitted(data_dir, m)
            writer = aligned.write.mode("append")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(str(data_dir))
            self._commit(table, {**m, "files": _listing(data_dir)})
            return target

    def overwrite(self, table: str, df: DataFrame) -> None:
        """Replace the table's rows with ``df`` (in the table's schema)
        as one new data version."""
        with self._writer(table):
            m = self._manifest(table)
            if m is None:
                raise KeyError(f"no such table: {table}")
            self._publish(table, m, df)

    # -- maintenance ------------------------------------------------------
    def compact(self, table: str, target_file_bytes: int = 128 * 1024 * 1024) -> tuple[int, int]:
        """Merge the small files micro-batch appends accumulate.

        Every trigger writes new files (K2); at scale that means
        thousands of KB-sized parquet files per table per day, and scan
        planning cost grows with file count. Rewrite the table into
        ~``target_file_bytes`` files (per partition directory when
        partitioned) as a NEW data version, then commit the manifest
        pointing at it (concurrent readers keep their version's files
        — see the versioned-layout note above). Returns
        (files_before, files_after).
        """
        with self._writer(table):
            m = self._manifest(table)
            if m is None:
                return (0, 0)
            data_dir = self.table_path(table) / m["current"]
            files = m.get("files", _listing(data_dir))  # the committed files
            if not files:
                return (0, 0)
            n_before = len(files)
            total = sum((data_dir / f).stat().st_size for f in files)
            n_target = max(1, -(-total // target_file_bytes))  # ceil
            # co-locate each partition's rows so partitionBy emits one file
            # per (task, partition-value) — repartition on the keys
            df = self.read(table).repartition(int(n_target), *m["partition_by"])
            self.overwrite(table, df)
            return (n_before, len(self._manifest(table)["files"]))

    def _partition_dir_names(self, values_df, pc: str) -> set[str]:
        """Exact Spark-rendered partition directory names for the
        distinct partition values in ``values_df[pc]`` — obtained by a
        probe write through the SAME writer, so Hive escaping and value
        formatting (booleans, timestamps, '%'/':'/'=' characters) can
        never diverge from the data write. Cost: one tiny job over the
        distinct partition values."""
        import tempfile

        tmp = Path(tempfile.mkdtemp(prefix="partnames-"))
        try:
            (
                values_df.select(pc)
                .distinct()
                .withColumn("__probe", F.lit(1))
                .write.mode("overwrite")
                .partitionBy(pc)
                .parquet(str(tmp))
            )
            return {
                d.name for d in tmp.iterdir() if d.is_dir() and "=" in d.name
            }
        finally:
            shutil.rmtree(tmp, ignore_errors=True)

    def delete_where(self, table: str, condition) -> int:
        """Targeted row deletion (the GDPR / right-to-be-forgotten
        path): rewrite the table WITHOUT rows matching ``condition``
        (a Column or SQL string) as a new data version, commit the
        manifest pointing at it, and return the number of rows
        removed. A no-op (0) when nothing matches — no version churn.
        Rows where the condition is NULL (three-valued logic) do NOT
        match and are kept.

        Partition-pruned at scale (``_publish``): on a single-level
        partitioned table only partitions that contain matching rows
        are rewritten. Multi-level or unpartitioned tables rewrite
        fully, which is why deletion-prone tables should partition on
        the deletion key's natural ancestor (date, tenant).
        """
        cond = F.expr(condition) if isinstance(condition, str) else condition
        with self._writer(table):
            m = self._manifest(table)
            df = self.read(table)
            if not df.columns:
                return 0
            # NULL-safe: a NULL condition matches nothing and keeps the row
            matches = F.coalesce(cond, F.lit(False))
            matched = df.filter(matches).persist()
            n_match = matched.count()
            if n_match:
                self._publish(table, m, df.filter(~matches), touched=matched)
            matched.unpersist()
            return int(n_match)

    def upsert(
        self,
        df: DataFrame,
        table: str,
        keys: tuple[str, ...],
        batch_id: int | str | None = None,
        partition_by: tuple[str, ...] | None = None,
        sort_by: tuple[str, ...] | None = None,
    ) -> int | None:
        """MERGE (last-write-wins by key): rows in ``df`` replace
        existing rows with the same key tuple; unmatched rows append.
        Returns the number of rows replaced, or None when the merge was
        a replay. The ReplacingMergeTree analog for this store — the
        reference's target engine models upsert exactly this way
        (insert + replace-on-merge by ORDER BY key), this does it in one
        versioned rewrite that commits the manifest once. Idempotent per ``batch_id`` via the same commit
        log as ``write`` (a replayed merge is a no-op; the creating
        merge is a ``write`` under the same tag).

        Partition-pruned like ``delete_where``: on a single-level
        partitioned table only partitions touched by the merge are
        rewritten — partitions RECEIVING upserted rows AND partitions
        HOLDING the existing rows being replaced (a key whose new row
        moves to a different partition value has its old partition
        rewritten too, so the stale row cannot survive); untouched
        partitions enter the new version as os-level copies. Within
        ``df`` itself, duplicate keys resolve deterministically to the
        greatest full row (a total order, so replays and retries can
        never flap).
        """
        tag = None if batch_id is None else f"merge-{batch_id}"

        def dedupe(rows: DataFrame) -> DataFrame:
            # keep the greatest row per key (total order over all
            # columns -> deterministic under replay)
            others = [c for c in rows.columns if c not in keys]
            return (
                rows.groupBy(*keys)
                .agg(F.max(F.struct(*others)).alias("__row"))
                .select(*keys, "__row.*")
            )

        with self._writer(table):
            m = self._manifest(table)
            if m is None:
                self.write(
                    dedupe(df),
                    table,
                    batch_id=tag,
                    partition_by=partition_by,
                    sort_by=sort_by,
                )
                return 0
            if tag is not None and tag in m["committed_batches"]:
                return None
            existing = self.read(table)
            # consumed by 4 downstream plans
            incoming = dedupe(_align(df, existing.schema)).persist()
            matched = existing.join(
                incoming.select(*keys), list(keys), "left_semi"
            ).persist()
            n_replaced = matched.count()
            survivors = existing.join(
                incoming.select(*keys), list(keys), "left_anti"
            )
            # touched = partitions receiving new rows UNION partitions
            # holding replaced rows (cross-partition key moves rewrite BOTH,
            # so the stale copy dies with the old partition)
            self._publish(
                table,
                _logged(m, tag),
                survivors.unionByName(incoming),
                touched=incoming.unionByName(matched),
            )
            incoming.unpersist()
            matched.unpersist()
            return int(n_replaced)


def _logged(manifest: dict, batch_id) -> dict:
    """``manifest`` with ``batch_id`` appended to its bounded commit log."""
    if batch_id is None:
        return manifest
    log = [*manifest["committed_batches"], str(batch_id)]
    return {**manifest, "committed_batches": log[-_MAX_TRACKED_BATCHES:]}


def _listing(data: Path) -> list[str]:
    """The parquet files a scan of ``data`` reads, relative to it and
    sorted (Spark skips ``_``/``.`` names, but not ``k=v`` dirs)."""
    rels = (f.relative_to(data) for f in data.rglob("*.parquet"))
    keep = (r for r in rels if not any(n[0] in "_." and "=" not in n for n in r.parts))
    return sorted(r.as_posix() for r in keep)


def _drop_uncommitted(data: Path, manifest: dict) -> None:
    """Delete the files of an append that died before its commit."""
    on_disk = _listing(data)
    for f in set(on_disk) - set(manifest.get("files", on_disk)):
        (data / f).unlink()


def _align(df: DataFrame, target: T.StructType) -> DataFrame:
    """Project df onto the target schema: cast matching columns, NULL-fill
    missing ones (K1's NULL rendering for absent values,
    clickhouse-batch-client.class.ts:338-341)."""
    have = {f.name: f for f in df.schema.fields}
    cols = []
    for f in target.fields:
        if f.name in have:
            src = F.col(f"`{f.name}`")
            cols.append(
                src.alias(f.name)
                if have[f.name].dataType == f.dataType
                else src.cast(f.dataType).alias(f.name)
            )
        else:
            cols.append(F.lit(None).cast(f.dataType).alias(f.name))
    return df.select(*cols)
