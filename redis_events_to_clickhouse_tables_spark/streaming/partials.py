"""Parquet-backed store of mergeable per-batch partials.

The shared delta-partial discipline behind every Layer-B streaming
monitor (rollup, histogram, HLL and count-min sketches, quality,
Page-Hinkley, PSI, text drift, mixture, OHLC, retention, SCD2): each
micro-batch reduces to a small mergeable partial frame, partials
merge-on-read with one bounded aggregate, and a periodic compaction
folds them so reads stay O(recent batches). A monitor is a subclass
that declares its partial ``schema``, ``reduce`` and ``merge`` and adds
only its readouts; ``stream.start_batch_stream`` feeds it
``process_batch``.

Durability contract (the part the first two consumers, rollup and
count-min, used to get wrong — review finding r5):

- **Replay idempotence across compaction.** Layout is
  ``root/b<ID>/`` per-batch partials plus at most one live
  ``root/cpt-<watermark>-<uuid>/`` compacted run, where the watermark
  is the highest batch id folded in. A replayed batch with
  ``id <= watermark`` is SKIPPED (its contribution already lives in
  the compacted run), so a crash between a partial write and the
  stream's offset commit can no longer double-count after an
  intervening ``compact()``.
- **Crash-safe compaction.** The merged run is written outside the
  root and enters it with ONE atomic rename; folded ``b*`` dirs and
  superseded ``cpt-*`` runs are deleted only afterwards, and the
  read path ignores them regardless (batch dirs at or below the
  newest watermark, older compacted runs), so a crash at any point
  leaves reads correct. Orphaned temp dirs are swept at init.
- Ad-hoc partials (``batch_id=None``) are replayable under the fixed
  ``adhoc`` tag but are treated as batch id -1: folded by the next
  compaction and skipped thereafter.
"""

from __future__ import annotations

import os
import re
import shutil
import uuid
from collections.abc import Callable
from pathlib import Path

from pyspark.sql import DataFrame, SparkSession

_CPT_RE = re.compile(r"^cpt-(-?\d+)-[0-9a-f]+$")
_BATCH_RE = re.compile(r"^b(-?\d+)$")


class PartialStore:
    """Mergeable-partial parquet store with crash-safe compaction.

    ``reduce`` turns one micro-batch into its partial frame (rows of
    ``schema``). ``merge`` folds a frame of partial rows into the same
    shape (the monoid sum, e.g. groupBy keys + integer sums); it must
    be idempotent on already-merged frames. Subclasses define all three
    as class attributes; a bare store takes ``schema`` and ``merge`` as
    arguments and is fed with ``write``.
    """

    schema: str

    def __init__(
        self,
        spark: SparkSession,
        root: str | os.PathLike,
        schema: str | None = None,
        merge: Callable[[DataFrame], DataFrame] | None = None,
    ):
        self.spark = spark
        self.root = Path(root)
        if schema is not None:
            self.schema = schema
        if merge is not None:
            self.merge = merge
        self.root.mkdir(parents=True, exist_ok=True)
        # sweep compaction temps orphaned by a pre-rename crash
        for orphan in self.root.parent.glob(self.root.name + ".cpt-tmp-*"):
            shutil.rmtree(orphan, ignore_errors=True)

    # -- layout ---------------------------------------------------------

    def _live_compacted(self) -> tuple[Path | None, int]:
        """(newest compacted run, its watermark); (None, -2) if none.
        Newest = highest (watermark, name) — deterministic even if a
        crashed+retried compact left two runs at one watermark (their
        contents are identical by construction)."""
        best: tuple[int, str] | None = None
        for d in self.root.iterdir():
            m = _CPT_RE.match(d.name)
            if m:
                key = (int(m.group(1)), d.name)
                if best is None or key > best:
                    best = key
        if best is None:
            return None, -2
        return self.root / best[1], best[0]

    def _batch_dirs(self) -> list[tuple[int, Path]]:
        out = []
        for d in self.root.iterdir():
            m = _BATCH_RE.match(d.name)
            if m:
                out.append((int(m.group(1)), d))
            elif d.name == "adhoc":
                out.append((-1, d))
        return out

    def _live_dirs(self) -> list[Path]:
        cpt, watermark = self._live_compacted()
        dirs = [p for bid, p in self._batch_dirs() if bid > watermark]
        if cpt is not None:
            dirs.append(cpt)
        return dirs

    # -- API ------------------------------------------------------------

    def reduce(self, batch: DataFrame) -> DataFrame:
        raise NotImplementedError

    def merge(self, partials: DataFrame) -> DataFrame:
        raise NotImplementedError

    def process_batch(self, batch: DataFrame, batch_id: int | None = None) -> None:
        """Reduce one micro-batch and persist its partial (see ``write``)."""
        self.write(self.reduce(batch), batch_id)

    def merged(self) -> DataFrame:
        """Every live partial folded by ``merge`` (merge-on-read)."""
        return self.merge(self.read())

    def write(self, partial: DataFrame, batch_id: int | None) -> None:
        """Persist one batch's partial. Overwrites its own directory on
        replay; skips entirely if the batch is already folded into the
        live compacted run."""
        bid = -1 if batch_id is None else batch_id
        _, watermark = self._live_compacted()
        if bid <= watermark:
            return  # replay of a batch compaction already folded
        tag = "adhoc" if batch_id is None else f"b{batch_id}"
        partial.write.mode("overwrite").parquet(str(self.root / tag))

    def read(self) -> DataFrame:
        """Every live partial row, unmerged (``merged`` folds them)."""
        dirs = [str(p) for p in self._live_dirs() if any(p.rglob("*.parquet"))]
        if not dirs:
            return self.spark.createDataFrame([], self.schema)
        return (
            self.spark.read.schema(self.schema)
            .option("recursiveFileLookup", "true")
            .parquet(*dirs)
        )

    def compact(self) -> None:
        """Fold all live partials into one compacted run."""
        _, old_watermark = self._live_compacted()
        bids = [bid for bid, _ in self._batch_dirs()]
        watermark = max([old_watermark, *bids], default=old_watermark)
        merged = self.merge(self.read())
        tmp = self.root.with_name(
            self.root.name + f".cpt-tmp-{uuid.uuid4().hex[:8]}"
        )
        merged.write.mode("overwrite").parquet(str(tmp))
        final = self.root / f"cpt-{watermark}-{uuid.uuid4().hex[:8]}"
        tmp.rename(final)  # one atomic rename makes the run live
        # best-effort cleanup; reads are already correct without it
        for bid, p in self._batch_dirs():
            if bid <= watermark:
                shutil.rmtree(p, ignore_errors=True)
        for d in list(self.root.iterdir()):
            if _CPT_RE.match(d.name) and d != final:
                shutil.rmtree(d, ignore_errors=True)
