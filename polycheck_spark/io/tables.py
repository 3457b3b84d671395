"""Snapshot / checkpoint / lineage layer (Iceberg-semantics fallback).

No Iceberg runtime jar exists in this environment (SURVEY.md §7), so the
engine provides the Iceberg properties the north rule actually uses —
snapshot checkpointing, partition-granular resume, per-partition lineage and
row-count/latency metrics — as a thin manifest layer over partitioned parquet:

    out_dir/
      _staged_<name>/              (a job's write-once staged input)
      bucket=K/ *.parquet          (one directory per work bucket)
      _lineage/stage_<name>.json   (staging marker: the job's exact parameters)
      _lineage/bucket_K.json       (atomic marker: rows, timings, status)
      _snapshots/snapshot_N.json   (append-only snapshot log)

Markers and manifests are written tmp + fsync + os.replace (atomic on
POSIX, :func:`_write_json_atomic`), so a killed job never leaves a
half-claimed bucket: on restart, buckets without a marker re-run and buckets
with one are skipped — output is deterministic per bucket, making the whole
job idempotent. If a real Iceberg catalog is present, the same driver
loop binds to Iceberg snapshots instead.

:meth:`CheckpointedWriter.stage` is the one staging path: every job scans its
source once through it, and it alone decides when staged data and bucket
lineage are stale.  :meth:`CheckpointedWriter.read_bucket` is the
partition-pruned read of one staged bucket.
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, functions as F

from polycheck_spark.session import local_frame


def _write_json_atomic(path: str, obj) -> None:
    """Put ``obj`` at ``path`` as JSON all at once: a tmp file, flushed and
    fsync'd, then ``os.replace`` — a crash leaves the old file or the new
    one, never a torn or empty one."""
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
        f.flush()
        os.fsync(f.fileno())
    os.replace(tmp, path)


def _parquet_row_count(path: str) -> int:
    """Row count from parquet footers — no data scan."""
    import pyarrow.parquet as pq
    total = 0
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            total += pq.ParquetFile(os.path.join(path, name)).metadata.num_rows
    return total


class CheckpointedWriter:
    def __init__(self, out_dir: str):
        self.out_dir = out_dir
        self.lineage_dir = os.path.join(out_dir, "_lineage")
        self.snapshot_dir = os.path.join(out_dir, "_snapshots")
        os.makedirs(self.lineage_dir, exist_ok=True)
        os.makedirs(self.snapshot_dir, exist_ok=True)

    # -- lineage markers ----------------------------------------------------

    def _marker_path(self, bucket: int) -> str:
        return os.path.join(self.lineage_dir, f"bucket_{bucket}.json")

    def completed_buckets(self) -> set[int]:
        out = set()
        for name in os.listdir(self.lineage_dir):
            if name.startswith("bucket_") and name.endswith(".json"):
                out.add(int(name[len("bucket_"):-len(".json")]))
        return out

    def _write_marker(self, bucket: int, record: dict) -> None:
        _write_json_atomic(self._marker_path(bucket), record)  # atomic claim

    # -- one-time staging ----------------------------------------------------

    def _stage_marker_path(self, name: str) -> str:
        return os.path.join(self.lineage_dir, f"stage_{name}.json")

    def stage(self, name: str, params: dict, write: Callable[[str], None],
              downstream: tuple[CheckpointedWriter, ...] = ()) -> str:
        """Run the write-once staging step ``name`` unless it already ran
        with exactly ``params``; returns its path, ``<out_dir>/_staged_<name>``.

        A resume must never reuse data or lineage of a differently
        parameterized run, and a crash at any point must read as "never
        staged".  Hence, in this order:

        1. the marker is compared with ``params`` (after a JSON round trip,
           so tuples equal lists); equal means staged and current, and
           nothing else happens.  A missing, empty or corrupt marker (power
           loss) never compares equal, so the job re-stages;
        2. the marker is tombstoned BEFORE the staged data is overwritten;
        3. every bucket marker and directory is removed, and so are the
           stage markers and lineage of each ``downstream`` writer (jobs that
           consume this stage's output).  Bucket markers are
           parameter-insensitive, so ``params`` must hold every parameter
           that shapes any bucket's output, not just the staging inputs;
        4. ``write(path)`` materializes the staged data;
        5. an fsync'd marker recording ``params`` is atomically put in place.
        """
        path = os.path.join(self.out_dir, f"_staged_{name}")
        params = json.loads(json.dumps(params))
        marker = self._stage_marker_path(name)
        try:
            with open(marker) as f:
                if json.load(f) == params:
                    return path
        except (FileNotFoundError, json.JSONDecodeError):
            pass
        self._invalidate(name)
        for w in downstream:
            w._invalidate()
        write(path)
        _write_json_atomic(marker, params)
        return path

    @staticmethod
    def read_bucket(spark: SparkSession, path: str, col: str,
                    k: int) -> DataFrame:
        """Bucket ``k`` of a table staged ``partitionBy(col)``: the equality
        on the partition column becomes a ``PartitionFilters`` scan of that
        one directory, so a bucket never rescans the others."""
        return spark.read.parquet(path).filter(F.col(col) == k).drop(col)

    def _invalidate(self, stage: str | None = None) -> None:
        """Tombstone stage marker ``stage`` (every stage marker if None),
        then every bucket marker, then every bucket directory."""
        for marker in glob.glob(self._stage_marker_path(stage or "*")):
            os.remove(marker)
        for b in self.completed_buckets():
            os.remove(self._marker_path(b))
        import shutil
        for name in os.listdir(self.out_dir):
            if name.startswith("bucket="):
                shutil.rmtree(os.path.join(self.out_dir, name), ignore_errors=True)

    # -- the resumable run loop ----------------------------------------------

    def run(self, buckets: list[int],
            build_bucket: Callable[[int], DataFrame],
            fail_on: Callable[[int], bool] | None = None) -> dict:
        """Process every bucket not yet marked complete.

        ``build_bucket(k)`` must be deterministic (same rows for the same k on
        any rerun/partitioning) — that is what makes resume exactly-once.
        ``fail_on`` is a test hook injecting a crash before bucket k commits.
        """
        done = self.completed_buckets()
        processed, skipped = [], []
        for k in buckets:
            if k in done:
                skipped.append(k)
                continue
            t0 = time.time()
            df = build_bucket(k)
            path = os.path.join(self.out_dir, f"bucket={k}")
            df.write.mode("overwrite").parquet(path)
            rows = _parquet_row_count(path)  # footer metadata only, no rescan
            if fail_on is not None and fail_on(k):
                raise RuntimeError(f"injected failure before committing bucket {k}")
            self._write_marker(k, {
                "bucket": k, "rows": rows, "status": "complete",
                "t_start": t0, "t_end": time.time(),
                "latency_sec": time.time() - t0,
            })
            processed.append(k)
        return {"processed": processed, "skipped": skipped}

    # -- snapshots -------------------------------------------------------------

    def next_snapshot_id(self) -> int:
        ids = [int(n[len("snapshot_"):-len(".json")])
               for n in os.listdir(self.snapshot_dir)
               if n.startswith("snapshot_")]
        return (max(ids) + 1) if ids else 0

    def commit_snapshot(self) -> dict:
        """Append a snapshot manifest covering all completed buckets."""
        return self._commit({})

    def _commit(self, extra: dict) -> dict:
        sid = self.next_snapshot_id()
        lineage = self.lineage()
        manifest = {
            "snapshot_id": sid,
            "parent_id": sid - 1 if sid > 0 else None,
            "committed_at": time.time(),
            "buckets": sorted(r["bucket"] for r in lineage),
            "row_counts": {str(r["bucket"]): r["rows"] for r in lineage},
            "total_rows": sum(r["rows"] for r in lineage),
            **extra,
        }
        _write_json_atomic(os.path.join(self.snapshot_dir, f"snapshot_{sid}.json"),
                           manifest)
        return manifest

    def lineage(self) -> list[dict]:
        out = []
        for b in sorted(self.completed_buckets()):
            with open(self._marker_path(b)) as f:
                out.append(json.load(f))
        return out

    def lineage_df(self, spark: SparkSession) -> DataFrame:
        rows = [(r["bucket"], r["rows"], r["t_start"], r["t_end"],
                 r["latency_sec"], r["status"]) for r in self.lineage()]
        return local_frame(
            spark, rows, "bucket int, rows long, t_start double, t_end double, "
                         "latency_sec double, status string")

    def _bucket_paths(self, buckets, what: str) -> list[str]:
        """The ``bucket=K/`` directories of ``buckets`` (``what`` names the
        table in the error when there are none)."""
        paths = [os.path.join(self.out_dir, f"bucket={b}") for b in buckets]
        if not paths:
            raise ValueError(f"{what} has no buckets")
        return paths

    def read_output(self, spark: SparkSession) -> DataFrame:
        """The committed buckets: exactly the directories the lineage
        markers name.  A ``bucket=K/`` that a crashed :meth:`run` wrote but
        never committed is not read."""
        return spark.read.parquet(*self._bucket_paths(
            sorted(self.completed_buckets()), f"the output under {self.out_dir}"))

    # -- time travel -----------------------------------------------------------

    def snapshot(self, snapshot_id: int) -> dict | None:
        """The manifest of one committed snapshot, or None."""
        try:
            with open(os.path.join(self.snapshot_dir,
                                   f"snapshot_{snapshot_id}.json")) as f:
                return json.load(f)
        except (FileNotFoundError, json.JSONDecodeError):
            return None

    def read_snapshot(self, spark: SparkSession, snapshot_id: int) -> DataFrame:
        """Read the table AS OF a snapshot (Iceberg time travel): only the
        bucket directories that snapshot's manifest lists.  Buckets are
        write-once (a marker commits them; only a parameter-change
        :meth:`stage` ever tombstones), so earlier snapshots remain
        readable as later ones append buckets — the same immutability
        contract Iceberg manifests rely on."""
        manifest = self.snapshot(snapshot_id)
        if manifest is None:
            raise ValueError(f"no snapshot {snapshot_id} under {self.snapshot_dir}")
        return spark.read.parquet(*self._bucket_paths(
            manifest["buckets"], f"snapshot {snapshot_id}"))

    def validate_snapshot(self, snapshot_id: int) -> dict:
        """Cross-check a snapshot's recorded per-bucket row counts against
        the parquet footers on disk (metadata-only — no data scan).  Returns
        {bucket: (recorded, actual)} for mismatches; {} means intact."""
        manifest = self.snapshot(snapshot_id)
        if manifest is None:
            raise ValueError(f"no snapshot {snapshot_id}")
        bad = {}
        for b in manifest["buckets"]:
            recorded = manifest["row_counts"][str(b)]
            actual = _parquet_row_count(os.path.join(self.out_dir, f"bucket={b}"))
            if recorded != actual:
                bad[b] = (recorded, actual)
        return bad

    # -- rollback / schema evolution / expiry -----------------------------------

    def rollback_to(self, snapshot_id: int) -> dict:
        """Roll the table back to a committed snapshot (Iceberg
        ``rollback_to_snapshot`` semantics): buckets not in that snapshot
        are tombstoned — lineage marker removed FIRST (so a crash
        mid-rollback reads as "bucket never completed" and a resumed job
        recomputes it), then the bucket directory — and a NEW snapshot is
        committed whose content equals the target.  History is preserved:
        the rolled-back snapshots' manifests remain readable; only their
        orphaned data is gone.  Returns the new snapshot manifest (with a
        ``rollback_of`` field naming the target)."""
        import shutil
        target = self.snapshot(snapshot_id)
        if target is None:
            raise ValueError(f"no snapshot {snapshot_id} under {self.snapshot_dir}")
        keep = set(target["buckets"])
        for b in sorted(self.completed_buckets() - keep):
            os.remove(self._marker_path(b))      # marker first: atomic unclaim
            shutil.rmtree(os.path.join(self.out_dir, f"bucket={b}"),
                          ignore_errors=True)
        return self._commit({"rollback_of": snapshot_id})

    def read_snapshot_evolved(self, spark: SparkSession,
                              snapshot_id: int) -> DataFrame:
        """Time travel with ADD-COLUMN schema evolution (the Iceberg
        property that later writers may carry extra columns without
        rewriting committed data): reads the snapshot's buckets with
        parquet schema merging, so rows from pre-evolution buckets surface
        the added columns as NULL while an old snapshot read through
        :meth:`read_snapshot` still sees exactly its original schema.
        Column REMOVAL/RENAME is intentionally not supported — as in
        Iceberg, that is a metadata operation this parquet fallback cannot
        express safely, and the method makes no attempt to hide it."""
        manifest = self.snapshot(snapshot_id)
        if manifest is None:
            raise ValueError(f"no snapshot {snapshot_id} under {self.snapshot_dir}")
        return spark.read.option("mergeSchema", "true").parquet(
            *self._bucket_paths(manifest["buckets"], f"snapshot {snapshot_id}"))

    def expire_snapshots(self, keep_last: int = 1) -> list[int]:
        """Expire old snapshot manifests (Iceberg ``expire_snapshots``):
        keep the newest ``keep_last`` manifests, delete the rest, then
        garbage-collect any bucket directory no surviving manifest
        references AND no live lineage marker claims (such orphans only
        exist after a rollback).  Returns the expired snapshot ids.
        Time travel to an expired snapshot becomes impossible — exactly
        the trade Iceberg's maintenance operation makes."""
        import shutil
        if keep_last < 1:
            raise ValueError("keep_last must be >= 1")
        ids = sorted(
            int(n[len("snapshot_"):-len(".json")])
            for n in os.listdir(self.snapshot_dir)
            if n.startswith("snapshot_") and n.endswith(".json"))
        expired = ids[:-keep_last]
        for sid in expired:
            os.remove(os.path.join(self.snapshot_dir, f"snapshot_{sid}.json"))
        referenced: set[int] = set()
        for sid in ids[-keep_last:]:
            m = self.snapshot(sid)
            if m:
                referenced.update(m["buckets"])
        live = self.completed_buckets()
        for name in os.listdir(self.out_dir):
            if not name.startswith("bucket="):
                continue
            b = int(name[len("bucket="):])
            if b not in referenced and b not in live:
                shutil.rmtree(os.path.join(self.out_dir, name),
                              ignore_errors=True)
        return expired
