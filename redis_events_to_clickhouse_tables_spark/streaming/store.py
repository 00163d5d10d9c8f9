"""Evolving table store (reference parity: S3/S4, D2-D5, K2).

The reference creates/evolves one ClickHouse MergeTree table per event
type: CREATE on first batch, ALTER ADD COLUMN for new columns, ALTER
COLUMN TYPE String for the sanctioned widening
(clickhouse-batch-client.class.ts:492-591). This store provides the
same contract over parquet directories + a sidecar schema registry:

- ``write`` reconciles the incoming batch schema with the live schema
  (plans/evolution.py), NULL-fills missing columns (K1's NULL
  rendering), casts to the merged types, and appends.
- A widening that changes an *existing* column's type rewrites the
  stored data with a cast — the ALTER COLUMN equivalent. Rare by
  construction (only on a genuine type conflict), and at production
  scale this is exactly where a lakehouse format's metadata-only type
  widening (e.g. Delta) slots in behind the same interface.

Appends are directories of parquet files — the micro-batch pattern:
each batch writes new files, never rewrites old ones (K2's multi-row
INSERT amortization).

Sink-protocol details of the reference with no Spark-side counterpart
(out of correctness scope, per SURVEY §2.6-2.7): D6's textual DDL
rendering (`Nullable(T)` wrapping, default-literal escaping) is
subsumed by ``StructField(nullable=...)`` in the sidecar schema; K1's
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

_SCHEMA_FILE = "_schema.json"
_META_FILE = "_meta.json"
_CURRENT_FILE = "CURRENT"
_MAX_TRACKED_BATCHES = 10_000


class TableStore:
    def __init__(
        self,
        spark: SparkSession,
        root: str | os.PathLike,
        retain_versions: int = 1,
    ):
        self.spark = spark
        self.root = Path(root)
        # Grace window for in-flight readers: how many SUPERSEDED data
        # versions survive a flip. 1 (default) keeps exactly the version
        # being replaced; raise it when readers may lag more than one
        # maintenance interval behind (Delta/Iceberg vacuum-retention
        # analog).
        self.retain_versions = max(1, int(retain_versions))
        self.root.mkdir(parents=True, exist_ok=True)
        self._writers: dict[str, threading.RLock] = {}
        self._writers_guard = threading.Lock()

    def _writer(self, table: str) -> threading.RLock:
        """One writer per table: ``write`` and ``upsert`` hold this for
        their whole run. Appends racing on one data directory share the
        committer's ``_temporary`` dir, which the first commit deletes,
        and the commit log in ``_meta.json`` is read-modify-write."""
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

    def table_exists(self, table: str) -> bool:
        """S3: existence probe."""
        return (self.table_path(table) / _SCHEMA_FILE).exists()

    def table_schema(self, table: str) -> T.StructType | None:
        """S4: live-schema scan."""
        p = self.table_path(table) / _SCHEMA_FILE
        if not p.exists():
            return None
        return T.StructType.fromJson(json.loads(p.read_text()))

    def tables(self) -> list[str]:
        return sorted(
            d.name
            for d in self.root.iterdir()
            if d.is_dir() and (d / _SCHEMA_FILE).exists()
        )

    # -- versioned data layout -------------------------------------------
    # Rewrites (compact, widening, delete, upsert) all go through
    # ``_publish``: they produce a NEW data directory and flip
    # an atomically-replaced CURRENT pointer, keeping the immediately
    # previous version on disk as a grace window. This is the reader
    # snapshot-isolation contract of a table format (Delta/Iceberg keep
    # old files until vacuum for the same reason): a reader that planned
    # its scan against version N keeps valid file paths while the flip
    # to N+1 happens, for at least one full maintenance interval. The
    # earlier rename-aside swap invalidated in-flight readers' paths at
    # the instant of the swap (observed: FileNotFoundException in a
    # monitor query racing compact()).

    def data_dir(self, table: str) -> Path:
        """The ACTIVE data directory (resolve before every scan)."""
        p = self.table_path(table)
        cur = p / _CURRENT_FILE
        name = cur.read_text().strip() if cur.exists() else "data"
        return p / name

    def _next_version_dir(self, table: str) -> Path:
        cur = self.data_dir(table).name
        n = 0 if cur == "data" else int(cur.rsplit("-v", 1)[1])
        return self.table_path(table) / f"data-v{n + 1:06d}"

    def _flip_version(self, table: str, new_dir: Path) -> None:
        """Point readers at ``new_dir`` atomically; retain the version
        being replaced for in-flight readers; GC anything older."""
        p = self.table_path(table)
        prev = self.data_dir(table).name
        # Sweep orphaned pointer temp files from a flip that died
        # between write_text and os.replace (they are inert — readers
        # only follow _CURRENT_FILE — but would otherwise accumulate).
        for stale in p.glob(".current-*"):
            stale.unlink(missing_ok=True)
        tmp = p / f".current-{uuid.uuid4().hex[:8]}"
        tmp.write_text(new_dir.name)
        os.replace(tmp, p / _CURRENT_FILE)
        # Version names sort lexicographically (data < data-v000001 <
        # …), so "newest retain_versions superseded dirs" is a sort.
        superseded = sorted(
            (
                d.name
                for d in p.iterdir()
                if d.is_dir()
                and (d.name == "data" or d.name.startswith("data-v"))
                and d.name != new_dir.name
            ),
            reverse=True,
        )
        keep = {new_dir.name, prev, *superseded[: self.retain_versions]}
        for name in superseded:
            if name not in keep:
                shutil.rmtree(p / name, ignore_errors=True)

    def _publish(
        self, table: str, df: DataFrame, touched: DataFrame | None = None
    ) -> Path:
        """Write ``df`` as the table's next data version in its recorded
        layout (``partitionBy`` + ``sortWithinPartitions``) and flip
        CURRENT to it; returns the new version's directory.

        ``touched`` (rows carrying the partition column) prunes the
        rewrite on a single-level partitioned table: only partitions
        holding a ``touched`` value are written from ``df``; every other
        partition directory is copied into the new version as-is —
        never re-read, never re-encoded (the analog of a manifest-based
        format rewriting only affected data files). Multi-level or
        unpartitioned tables rewrite fully."""
        meta = self._load_meta(table)
        part_cols = [c for c in meta["partition_by"] if c in df.columns]
        sort_cols = [c for c in meta["sort_by"] if c in df.columns]
        new_dir = self._next_version_dir(table)
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
            untouched = [
                d
                for d in sorted(self.data_dir(table).iterdir())
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
        self._flip_version(table, new_dir)
        return new_dir

    # -- read -------------------------------------------------------------
    def read(self, table: str) -> DataFrame:
        schema = self.table_schema(table)
        if schema is None:
            raise KeyError(f"no such table: {table}")
        data = self.data_dir(table)
        if not data.exists() or not any(data.rglob("*.parquet")):
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(str(data))

    # -- table meta (layout + commit log) --------------------------------
    def _load_meta(self, table: str) -> dict:
        p = self.table_path(table) / _META_FILE
        if not p.exists():
            return {"partition_by": [], "sort_by": [], "committed_batches": []}
        return json.loads(p.read_text())

    def _save_meta(self, table: str, meta: dict) -> None:
        p = self.table_path(table)
        p.mkdir(parents=True, exist_ok=True)
        (p / _META_FILE).write_text(json.dumps(meta))

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
    ) -> T.StructType:
        """Append a batch, evolving the table schema to fit.

        - ``batch_id``: idempotent commit — a batch id already in the
          table's commit log is skipped entirely, so a ``foreachBatch``
          replay after a crash never double-inserts (the exactly-once
          half the reference approximates by clearing its prepared
          state before exec, clickhouse-batch-client.class.ts:152-154).
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
            meta = self._load_meta(table)
            if batch_id is not None and str(batch_id) in meta["committed_batches"]:
                return self.table_schema(table)
            existing = self.table_schema(table)
            if existing is None:  # table creation fixes the layout
                meta["partition_by"] = list(partition_by or ())
                meta["sort_by"] = list(sort_by or ())
            target = merge_schemas(existing, df.schema, nullable_new=nullable_new)

            if existing is not None:
                changed = [
                    f.name
                    for f in target.fields
                    if any(e.name == f.name and e.dataType != f.dataType for e in existing.fields)
                ]
                if changed:
                    # D4: ALTER COLUMN TYPE equivalent — rewrite stored data
                    # under the widened schema; persist the widened schema
                    # immediately so a failure later in this write (e.g. the
                    # append) can't leave widened data files under a stale
                    # sidecar that read() would then mis-type (ADVICE r1)
                    self._rewrite(table, existing, target)
                    self._save_schema(table, target)

            aligned = _align(df, target)
            if coalesce_to is not None and coalesce_to >= 1:
                # small-files guard: land the batch in ~coalesce_to files
                # instead of one per shuffle partition (narrow dependency —
                # no shuffle; a no-op when already narrower)
                aligned = aligned.coalesce(coalesce_to)
            sort_cols = [c for c in meta["sort_by"] if c in set(target.fieldNames())]
            part_cols = [c for c in meta["partition_by"] if c in set(target.fieldNames())]
            if sort_cols:
                # partition columns lead: see _publish
                aligned = aligned.sortWithinPartitions(*part_cols, *sort_cols)
            data_dir = self.data_dir(table)
            data_dir.mkdir(parents=True, exist_ok=True)
            writer = aligned.write.mode("append")
            if part_cols:
                writer = writer.partitionBy(*part_cols)
            writer.parquet(str(data_dir))
            self._save_schema(table, target)
            if batch_id is not None:
                meta["committed_batches"].append(str(batch_id))
                meta["committed_batches"] = meta["committed_batches"][-_MAX_TRACKED_BATCHES:]
            self._save_meta(table, meta)
            return target

    # -- maintenance ------------------------------------------------------
    def compact(self, table: str, target_file_bytes: int = 128 * 1024 * 1024) -> tuple[int, int]:
        """Merge the small files micro-batch appends accumulate.

        Every trigger writes new files (K2); at scale that means
        thousands of KB-sized parquet files per table per day, and scan
        planning cost grows with file count. Rewrite the table into
        ~``target_file_bytes`` files (per partition directory when
        partitioned) as a NEW data version, then atomically flip the
        CURRENT pointer (concurrent readers keep their version's files
        — see the versioned-layout note above). Returns
        (files_before, files_after).
        """
        data_dir = self.data_dir(table)
        files = list(data_dir.rglob("*.parquet")) if data_dir.exists() else []
        if not files:
            return (0, 0)
        n_before = len(files)
        total = sum(f.stat().st_size for f in files)
        n_target = max(1, -(-total // target_file_bytes))  # ceil
        # co-locate each partition's rows so partitionBy emits one file
        # per (task, partition-value) — repartition on the keys
        part_cols = self._load_meta(table)["partition_by"]
        df = self.read(table).repartition(int(n_target), *part_cols)
        new_dir = self._publish(table, df)
        return (n_before, len(list(new_dir.rglob("*.parquet"))))

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
        (a Column or SQL string) as a new data version, atomically
        flip the CURRENT pointer, and return the number of rows
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
        df = self.read(table)
        if not df.columns:
            return 0
        # NULL-safe: a NULL condition matches nothing and keeps the row
        matches = F.coalesce(cond, F.lit(False))
        matched = df.filter(matches).persist()
        n_match = matched.count()
        if n_match == 0:
            matched.unpersist()
            return 0
        self._publish(table, df.filter(~matches), touched=matched)
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
    ) -> int:
        """MERGE (last-write-wins by key): rows in ``df`` replace
        existing rows with the same key tuple; unmatched rows append.
        Returns the number of rows replaced. The ReplacingMergeTree
        analog for this store — the reference's target engine models
        upsert exactly this way (insert + replace-on-merge by ORDER BY
        key), this does it in one versioned rewrite with an atomic
        pointer flip. Idempotent per ``batch_id`` via the same commit
        log as ``write`` (a replayed merge is a no-op; the creating
        merge records the same tag).

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
        with self._writer(table):
            tag = f"merge-{batch_id}"
            if self.table_exists(table):
                meta = self._load_meta(table)
                if batch_id is not None and tag in meta["committed_batches"]:
                    return 0
            else:
                # creating merge: same within-batch key dedupe, and the
                # merge tag goes into the fresh commit log so a replay of
                # THIS batch is a no-op (not a second full merge)
                others0 = [c for c in df.columns if c not in keys]
                first = (
                    df.groupBy(*keys)
                    .agg(F.max(F.struct(*others0)).alias("__row"))
                    .select(*keys, "__row.*")
                )
                self.write(
                    first,
                    table,
                    partition_by=partition_by,
                    sort_by=sort_by,
                )
                if batch_id is not None:
                    meta = self._load_meta(table)
                    meta["committed_batches"].append(tag)
                    self._save_meta(table, meta)
                return 0
            existing = self.read(table)
            incoming = _align(df, existing.schema)
            # dedupe incoming on the key: keep the greatest row (total
            # order over all columns -> deterministic under replay)
            others = [c for c in incoming.columns if c not in keys]
            incoming = (
                incoming.groupBy(*keys)
                .agg(F.max(F.struct(*others)).alias("__row"))
                .select(*keys, "__row.*")
                .persist()  # consumed by 4 downstream plans (review r5)
            )
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
                survivors.unionByName(incoming),
                touched=incoming.unionByName(matched),
            )
            incoming.unpersist()
            matched.unpersist()
            if batch_id is not None:
                meta["committed_batches"].append(tag)
                meta["committed_batches"] = meta["committed_batches"][
                    -_MAX_TRACKED_BATCHES:
                ]
                self._save_meta(table, meta)
            return int(n_replaced)

    def _save_schema(self, table: str, schema: T.StructType) -> None:
        p = self.table_path(table)
        p.mkdir(parents=True, exist_ok=True)
        (p / _SCHEMA_FILE).write_text(json.dumps(schema.jsonValue()))

    def _rewrite(self, table: str, old: T.StructType, new: T.StructType) -> None:
        data_dir = self.data_dir(table)
        if not data_dir.exists() or not any(data_dir.rglob("*.parquet")):
            return
        old_df = self.spark.read.schema(old).parquet(str(data_dir))
        self._publish(table, _align(old_df, new))


def swap_dirs(tmp: Path, live: Path) -> None:
    """Replace ``live`` with ``tmp`` without a window where the data is
    gone-for-good: the old dir is renamed aside (one atomic rename)
    before the new one takes its place, and only then deleted. A crash
    between the renames leaves a ``.old-*`` sibling holding the full
    previous contents — recoverable by hand — instead of the
    rmtree-then-rename shape whose mid-crash state loses the table
    outright (ADVICE r1)."""
    old = live.with_name(f".old-{uuid.uuid4().hex[:8]}")
    live.rename(old)
    try:
        tmp.rename(live)
    except OSError:
        old.rename(live)  # roll back; tmp is left for inspection
        raise
    shutil.rmtree(old)


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
