"""The one marker-commit protocol for batch-partitioned state tables.

A state table keeps one Hive partition directory per micro-batch
(``table_dir/b=<batch>``). Three owners use it: the rollup table
(streaming/rollup.py), the corpus fingerprint index
(streaming/ingest_dedup.py) and the incremental IVF index
(streaming/ann_index.py). The recipe is Structured Streaming's
exactly-once sink: an idempotent write keyed on the batch id, plus an
atomic commit. ``MarkerCommit`` holds every crash-safety step; an
owner supplies only its merge, as a ``fold`` callback:

- ``write(batch_id, fn)`` — the batch write. Refuses a batch id at or
  below the watermark (readers would ignore its partition; this also
  refuses a bootstrap seed write once any fold has committed),
  heartbeats the writer lease, then calls ``fn(path)``, which
  overwrites ``b=<batch_id>`` — a replayed batch overwrites its own
  earlier attempt;
- ``live(df)`` — the one read rule over ``spark.read.parquet(table_dir)``:
  with a committed marker, the active slot plus every batch above the
  watermark; before the first commit, every batch plus the bootstrap
  seed, never a fold slot (a fold that crashed before its commit is
  invisible);
- ``compact(spark, fold, force)`` — folds every live batch except the
  newest, plus the active slot (or, before the first commit, the
  seed), by calling ``fold(sources_df, target_path, upto)`` on the
  INACTIVE slot; then commits by an atomic rename of
  ``_watermark.json`` (watermark + active slot) and removes the dead
  directories best-effort.

Why it is crash-safe:

- a fold never overwrites the slot readers are using; a crash before
  the rename leaves the old marker and the old, complete state; a
  crash after it leaves only stale directories, removed by the NEXT
  compact (cleanup removes everything at or below the watermark);
- the NEWEST live batch is never folded: under a serial streaming
  writer only the latest batch can be replayed after a restart, so
  keeping it out of the fold makes replay and compaction commute;
- writers re-read the marker per batch, so a compaction by another
  process is seen at once;
- CONCURRENCY GUARD: writers heartbeat an advisory ``_writer.lease``
  file (pid + mtime) during every batch write; ``compact`` refuses
  while a DIFFERENT process's lease is fresh. Same-pid compaction
  stays allowed — the supported "compact between triggers in the
  streaming process" pattern.

Slot ids and the seed id are negative, so they can never be real batch
ids. Both metadata files start with ``_`` so Spark's partition
discovery ignores them.
"""

from __future__ import annotations

import contextlib
import json
import logging
import os
import shutil
import threading
import time
from collections.abc import Callable
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.utils import AnalysisException

logger = logging.getLogger(__name__)

_MARKER = "_watermark.json"
_LEASE = "_writer.lease"
DEFAULT_LEASE_TTL = 120.0  # seconds a silent writer is presumed alive


def batch_dirs(table_dir: str) -> list[int]:
    """Sorted ids of the ``b=<int>`` directories under ``table_dir``
    (any sign); [] when the directory does not exist."""
    try:
        names = os.listdir(table_dir)
    except OSError:
        return []
    ids = []
    for n in names:
        if n.startswith("b="):
            try:
                ids.append(int(n[2:]))
            except ValueError:
                continue
    return sorted(ids)


def touch_writer_lease(table_dir: str) -> None:
    """Heartbeat the advisory writer lease (one small local write, no
    Spark job)."""
    os.makedirs(table_dir, exist_ok=True)
    path = os.path.join(table_dir, _LEASE)
    tmp = path + f".tmp{os.getpid()}"
    with open(tmp, "w") as f:
        f.write(str(os.getpid()))
    os.replace(tmp, path)  # atomic; mtime = now


@contextlib.contextmanager
def lease_heartbeat(
    table_dir: str, interval: float = DEFAULT_LEASE_TTL / 4
):
    """Keep the writer lease fresh for the duration of a batch write.

    A lease touched only at batch START goes stale mid-write whenever
    one Spark write runs longer than the TTL, and a foreign `cli
    compact` would then pass assert_no_live_writer while the write is
    in flight. A daemon timer thread re-touches the lease every TTL/4
    until the write completes; the touch is a local rename, so the
    guard holds for writes of any duration at no cost."""
    touch_writer_lease(table_dir)
    stop = threading.Event()

    def _beat() -> None:
        while not stop.wait(interval):
            try:
                touch_writer_lease(table_dir)
            except OSError as e:  # pragma: no cover - advisory only
                logger.warning("lease heartbeat failed for %s: %s",
                               table_dir, e)

    t = threading.Thread(target=_beat, daemon=True)
    t.start()
    try:
        yield
    finally:
        stop.set()
        t.join(timeout=interval + 1.0)


def assert_no_live_writer(
    table_dir: str, ttl: float = DEFAULT_LEASE_TTL
) -> None:
    """Raise RuntimeError if another process's writer lease is fresh.

    The guard is advisory (a writer that never heartbeats is not
    detected) but closes the operational hazard: `cli compact` run
    against a live stream could fold a half-written batch partition
    and commit a watermark covering it, after which the stream's
    replay of that batch is refused and the data is permanently
    undercounted."""
    path = os.path.join(table_dir, _LEASE)
    try:
        st = os.stat(path)
        with open(path) as f:
            pid = int(f.read().strip() or "0")
    except (OSError, ValueError):
        return
    age = time.time() - st.st_mtime
    if pid != os.getpid() and age < ttl:
        raise RuntimeError(
            f"refusing to compact {table_dir}: writer lease held by pid "
            f"{pid}, heartbeat {age:.0f}s ago (< ttl {ttl:.0f}s). Stop the "
            "stream (or wait for the lease to expire) before compacting."
        )


class MarkerCommit:
    """Marker, slots, writes, reads and folds of one batch-partitioned
    state table. ``slots`` are the two fold targets; ``seed`` is the
    bootstrap partition an owner may write before any batch (None when
    the owner has none). The owner's merge is the ``fold`` callback of
    ``compact``; everything crash-safety-critical is here."""

    def __init__(
        self,
        table_dir: str,
        slots: tuple[int, int] = (-1, -2),
        seed: Optional[int] = None,
    ):
        if slots[0] >= 0 or slots[1] >= 0 or slots[0] == slots[1]:
            raise ValueError(f"seed slots must be distinct negatives: {slots}")
        self.table_dir = table_dir
        self.slots = slots
        self.seed = seed

    def path(self, batch_id: int) -> str:
        return f"{self.table_dir}/b={batch_id}"

    def marker(self) -> tuple[Optional[int], Optional[int]]:
        """(watermark, active slot) — re-read every call; a plain local
        file read, no Spark job. (None, None) before the first fold."""
        try:
            with open(os.path.join(self.table_dir, _MARKER)) as f:
                m = json.load(f)
            return int(m["wm"]), int(m["slot"])
        except (OSError, ValueError, KeyError):
            return None, None

    def write_marker(self, wm: int, slot: int) -> None:
        path = os.path.join(self.table_dir, _MARKER)
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            json.dump({"wm": wm, "slot": slot}, f)
        os.rename(tmp, path)  # the atomic commit point

    def disk_batch_ids(self) -> list[int]:
        """Sorted non-negative batch ids present on disk."""
        return [b for b in batch_dirs(self.table_dir) if b >= 0]

    # --------------------------------------------------------- reads

    def live(self, df: DataFrame, exclude: Optional[int] = None) -> DataFrame:
        """Keep the committed partitions of ``df`` (a read of the table
        root with its ``b`` partition column). ``exclude`` drops one
        batch: a reader scoring batch N must not see a crashed earlier
        attempt of N."""
        b = F.col("b")
        wm, slot = self.marker()
        if wm is None:
            cond = b >= 0
            if self.seed is not None:
                cond = cond | (b == self.seed)
        else:
            cond = (b == slot) | ((b >= 0) & (b > wm))
        if exclude is not None:
            cond = cond & (b != exclude)
        return df.where(cond)

    # -------------------------------------------------------- writes

    def write(self, batch_id: int, fn: Callable[[str], object]):
        """Write batch ``batch_id`` (or the seed) under the writer
        lease: ``fn(path)`` overwrites ``b=<batch_id>``; returns what
        ``fn`` returns. Refuses a batch id at or below the watermark
        (its partition would be silently ignored by readers)."""
        wm, _slot = self.marker()
        if wm is not None and batch_id <= wm:
            if batch_id < 0:
                raise ValueError(
                    f"{self.table_dir} already has a compaction watermark; "
                    f"a seed partition b={batch_id} would be invisible to "
                    "marker-filtered readers. Seed a fresh directory."
                )
            raise ValueError(
                f"batch id {batch_id} is at/below the compaction "
                f"watermark {wm} of {self.table_dir}; readers would "
                "ignore its partition. Use a fresh state dir (or larger "
                "batch ids) after compacting a table fed by one-shot "
                "invokes."
            )
        with lease_heartbeat(self.table_dir):
            return fn(self.path(batch_id))

    # ---------------------------------------------------- compaction

    def compact(
        self,
        spark: SparkSession,
        fold: Callable[[DataFrame, str, int], None],
        force: bool = False,
    ) -> int:
        """Fold every committed live batch except the newest into the
        inactive slot, commit, clean up. ``fold(sources, target,
        upto)`` gets the source rows (``b`` dropped) and must overwrite
        ``target``; ``upto`` is the watermark being committed. Returns
        the number of batch partitions folded (0 with fewer than two
        live batches). Refuses while another process's writer lease is
        fresh unless ``force``."""
        if not force:
            assert_no_live_writer(self.table_dir)
        wm, slot = self.marker()
        live = [b for b in self.disk_batch_ids() if wm is None or b > wm]
        if len(live) < 2:
            return 0
        fold_ids, upto = live[:-1], live[-2]
        try:
            df = spark.read.option("basePath", self.table_dir).parquet(
                self.table_dir
            )
        except AnalysisException:  # pragma: no cover - dirs vanished
            return 0
        base = slot if slot is not None else self.seed
        sources = fold_ids + ([base] if base is not None else [])
        target = self.slots[1] if slot == self.slots[0] else self.slots[0]
        # reads the OLD slot and writes the OTHER one — no
        # self-referential overwrite; a crash during this write leaves
        # the marker (and readers) on the old, complete state
        fold(df.where(F.col("b").isin(sources)).drop("b"),
             self.path(target), upto)
        self.write_marker(upto, target)  # COMMIT
        self.cleanup(upto, slot)
        return len(fold_ids)

    def cleanup(self, upto: int, old_slot: Optional[int]) -> None:
        """Best-effort removal of everything a committed marker makes
        dead: batch partitions at/below the watermark (including
        leftovers of a previously crashed cleanup), the old slot and
        the seed (the first fold absorbed it). A crash here is repaired
        by the next compact."""
        stale = [b for b in self.disk_batch_ids() if b <= upto]
        stale += [b for b in (old_slot, self.seed) if b is not None]
        for b in stale:
            d = os.path.join(self.table_dir, f"b={b}")
            if not os.path.isdir(d):
                continue
            try:
                shutil.rmtree(d)
            except OSError as e:  # pragma: no cover - best-effort
                logger.warning("compact: could not remove %s: %s", d, e)
