"""Per-partition lineage + metrics checkpointing → resumable jobs.

north_rule: "resumable from checkpoint with per-partition lineage + metrics".
The reference's version is skip-if-output-file-exists
(ref: main/leaflet/write_daily_average.py:289-311,446-518 — existence checks
per (variable, date, time-delta) before doing work). Done properly for a
distributed engine:

- work is split into logical partitions (here: deterministic key ranges /
  warc-day buckets — NOT Spark task partitions, which are physical),
- each completed partition writes its output under `out/part_key=.../`,
  then COMMITS to a versioned manifest (Iceberg-snapshot-style: new
  `_manifest/v{N}.json` listing every live partition, then an atomic
  os.replace of `_manifest/current.json` — the catalog pointer swap).
  Readers resolve partitions THROUGH the current snapshot, so data from a
  crashed half-written partition is invisible until its commit lands:
  snapshot isolation, no orphan-data window for readers. Re-running
  overwrites the orphan directory idempotently before committing it.
- resume = anti-join pending partitions against the current snapshot
  (the reference's existence predicate, as a real anti-join),
- each partition's manifest entry doubles as its metrics record (input
  fingerprint, row count, wall time) for the bench harness.

On real Iceberg the snapshot swap is a catalog CAS (optimistic
concurrency, multi-writer); this single-driver stand-in asserts the
expected parent version at swap time to surface lost-update races.
"""

from __future__ import annotations

import json
import os
import shutil
import time
from collections.abc import Callable

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession


class Manifest:
    """Versioned snapshot with MANIFEST-LIST INDIRECTION (round 3 — the
    Iceberg shape: snapshot → manifest files → partition entries), so a
    commit is O(P / n_buckets + n_buckets), NOT O(total partitions).

    Layout: partition keys hash into `n_buckets` fixed buckets; each bucket
    is one immutable manifest file `m{version}_b{bucket}.json` holding that
    bucket's {part_key: entry} map. A snapshot `v{N}.json` is the manifest
    LIST — {bucket: filename} — plus version metadata; `current.json` is
    the atomically swapped pointer copy. A commit rewrites exactly ONE
    bucket manifest (~P/n_buckets entries) and one snapshot file
    (n_buckets names): with n_buckets ≈ √P both terms stay small and flat
    (tested flat at 10⁴ partitions, tests/test_lineage_skew.py).

    Write order: bucket manifest first, then snapshot file, then pointer
    swap — a crash between any two leaves current.json at the previous
    snapshot (immutable files are never mutated), so readers never see a
    partial commit. Every v{N}.json on disk resolves through its own
    manifest list: time travel works. On real Iceberg the pointer swap is
    a catalog CAS; this single-driver stand-in asserts the expected parent
    version (version-file collision guard) to surface lost-update races."""

    def __init__(self, root: str, n_buckets: int = 128):
        self.dir = os.path.join(root, "_manifest")
        os.makedirs(self.dir, exist_ok=True)
        self.current_path = os.path.join(self.dir, "current.json")
        self.n_buckets = n_buckets
        self.last_commit_bytes = 0  # commit-cost telemetry (tested flat)
        self.collisions = 0  # CAS losses observed (multi-writer telemetry)
        # per-WRITER-INSTANCE manifest-name uniquifier: pid alone collides
        # for two Manifest instances (or threads) in one process — each
        # instance gets a random token, and the counter is an atomic
        # itertools.count so a shared instance is thread-safe too
        import itertools as _it
        import uuid as _uuid

        self._token = f"{os.getpid()}_{_uuid.uuid4().hex[:8]}"
        self._seq = _it.count(1)

    def _bucket(self, part_key: str) -> int:
        import hashlib as _h

        return int.from_bytes(
            _h.sha1(part_key.encode()).digest()[:4], "big"
        ) % self.n_buckets

    def _read(self, name: str) -> dict:
        with open(os.path.join(self.dir, name)) as fh:
            return json.load(fh)

    def current_snapshot(self) -> dict:
        if not os.path.exists(self.current_path):
            return {"version": 0, "manifests": {}}
        with open(self.current_path) as fh:
            snap = json.load(fh)
        if "manifests" not in snap:
            # pre-round-3 format: the snapshot carried the full partition
            # map inline. Surface it as legacy state; the next commit
            # migrates it into bucket manifests (one-time O(P)).
            snap = {
                "version": snap["version"],
                "manifests": {},
                "_legacy_partitions": snap.get("partitions", {}),
            }
        return snap

    def resolve(self, snap: dict) -> dict[str, dict]:
        """Full partition map of a snapshot (reads every listed manifest —
        the read path is O(P), as any full-catalog scan must be)."""
        parts: dict[str, dict] = dict(snap.get("_legacy_partitions", {}))
        for name in snap.get("manifests", {}).values():
            parts.update(self._read(name))
        return parts

    def current(self) -> dict:
        snap = self.current_snapshot()
        return {"version": snap["version"], "partitions": self.resolve(snap)}

    def commit(self, part_key: str, entry: dict, max_retries: int = 0) -> dict:
        """Publish a new snapshot with `part_key` → entry added/replaced.
        Cost: one bucket manifest + one snapshot file.

        MULTI-WRITER SAFE (round 4): the version file is claimed with an
        atomic exclusive create (O_EXCL) — the same optimistic-concurrency
        CAS shape an Iceberg catalog swap has. A writer that loses the
        race gets a version collision; with max_retries > 0 it re-reads
        the winner's snapshot and retries on top of it (no lost update —
        both writers' partitions land; raced in
        tests/test_manifest_race.py). Manifest files carry a per-writer
        suffix so two racers can never clobber each other's immutable
        files. Known single-host stand-in limit: a writer that dies
        between claiming v{N} and finishing its 1-line write can wedge
        the version (a real catalog's CAS is transactional); retries
        surface that as RuntimeError rather than corrupting state."""
        # exponential backoff with full jitter (ADVICE r4: a fixed 2 ms
        # sleep gave max_retries=64 only ~130 ms of contention budget);
        # capped at 100 ms so 64 retries tolerate multi-second contention
        import random

        for attempt in range(max_retries + 1):
            try:
                return self._commit_once(part_key, entry)
            except FileExistsError:
                self.collisions += 1
                time.sleep(random.uniform(0, min(0.1, 0.002 * 2**attempt)))
        raise RuntimeError(
            f"manifest version collision persisted after {max_retries} retries"
        )

    def _commit_once(self, part_key: str, entry: dict) -> dict:
        snap = self.current_snapshot()
        version = snap["version"] + 1
        vpath = os.path.join(self.dir, f"v{version}.json")
        uniq = f"{self._token}_{next(self._seq)}"
        manifests = dict(snap["manifests"])
        mbytes = 0
        written: list[str] = []  # this attempt's manifest files, for
        # unlink-on-CAS-loss (ADVICE r4: losing racers orphaned them)
        legacy = snap.get("_legacy_partitions")
        if legacy:
            # one-time migration of a pre-round-3 inline snapshot: spread
            # the legacy map across bucket manifests now, so this and all
            # later commits run at the O(P/buckets) cost
            by_bucket: dict[int, dict] = {}
            for k, e in legacy.items():
                by_bucket.setdefault(self._bucket(k), {})[k] = e
            for bb, bmap in by_bucket.items():
                mn = f"m{version}_b{bb}_{uniq}.json"
                with open(os.path.join(self.dir, mn), "w") as fh:
                    mbytes += fh.write(json.dumps(bmap))
                manifests[str(bb)] = mn
                written.append(mn)
        b = self._bucket(part_key)
        bucket_map = (
            self._read(manifests[str(b)]) if str(b) in manifests else {}
        )
        bucket_map[part_key] = entry
        mname = f"m{version}_b{b}_{uniq}.json"
        with open(os.path.join(self.dir, mname), "w") as fh:
            mbytes += fh.write(json.dumps(bucket_map))
        manifests[str(b)] = mname
        written.append(mname)
        new = {
            "version": version,
            "parent_version": snap["version"],
            "manifests": manifests,
        }
        # the CAS: exclusive create of the version file. Losing racer
        # raises FileExistsError before any shared state moved.
        try:
            with open(vpath, "x") as fh:
                vbytes = fh.write(json.dumps(new))
        except FileExistsError:
            # lost the race: this attempt's manifests are unreachable from
            # any snapshot — remove them instead of orphaning them forever
            for mn in written:
                try:
                    os.unlink(os.path.join(self.dir, mn))
                except OSError:
                    pass
            raise
        tmp = os.path.join(self.dir, f".current.{uniq}.tmp")
        with open(tmp, "w") as fh:
            json.dump(new, fh)
        os.replace(tmp, self.current_path)  # atomic snapshot swap
        self.last_commit_bytes = mbytes + vbytes
        return new

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """Iceberg expire_snapshots analog: delete snapshot files older
        than the last `keep_last` versions plus every manifest file no
        retained snapshot references. Time travel shrinks to the retained
        window; `current.json` and its manifests are always kept. Returns
        number of files removed."""
        cur = self.current_snapshot()["version"]
        keep_versions = set(range(max(1, cur - keep_last + 1), cur + 1))
        live: set[str] = set()
        for v in keep_versions:
            vpath = os.path.join(self.dir, f"v{v}.json")
            if os.path.exists(vpath):
                live.update(self._read(f"v{v}.json")["manifests"].values())
        live.update(self.current_snapshot()["manifests"].values())
        removed = 0
        for f in os.listdir(self.dir):
            if f.startswith("v") and f.endswith(".json"):
                try:
                    v = int(f[1:-5])
                except ValueError:
                    continue
                if v not in keep_versions:
                    os.unlink(os.path.join(self.dir, f))
                    removed += 1
            elif f.startswith("m") and f.endswith(".json") and f not in live:
                os.unlink(os.path.join(self.dir, f))
                removed += 1
        return removed


def parquet_rows(path: str) -> int:
    """Row count of a written parquet directory from its files' footers —
    metadata only, no Spark job."""
    return sum(
        pq.read_metadata(os.path.join(path, f)).num_rows
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )


def write_table(table: pa.Table, path: str) -> None:
    """Overwrite the parquet directory `path` with `table` as one file,
    written by pyarrow on the driver. The file is written under a dot name
    (hidden from Spark's reader), the directory's other entries are
    removed, and then the file is renamed into place."""
    os.makedirs(path, exist_ok=True)
    tmp = os.path.join(path, ".part-00000.parquet.tmp")
    pq.write_table(table, tmp)
    for f in os.listdir(path):
        old = os.path.join(path, f)
        if old == tmp:
            continue
        if os.path.isdir(old):
            shutil.rmtree(old)
        else:
            os.unlink(old)
    os.replace(tmp, os.path.join(path, "part-00000.parquet"))


def run_partitioned(
    spark: SparkSession,
    out_root: str,
    part_keys: list[str],
    build_partition: Callable[[SparkSession, str], DataFrame | pa.Table],
    fingerprint: Callable[[str], str] = lambda k: k,
    size_of: Callable[[str], float] | None = None,
) -> dict:
    """Run build_partition for every part_key not yet committed with its
    current fingerprint.

    Idempotent + resumable: killing the job mid-run and re-invoking
    completes only the missing partitions; output equals a single run
    (tested in tests/test_lineage_skew.py). Returns summary metrics.

    A partition's payload is written to `part_key=K/`, replacing what was
    there. A DataFrame goes through Spark's parquet writer. A pyarrow
    Table, already collected on the driver, is written there by pyarrow
    (`write_table`), which starts no Spark job.

    size_of: optional estimated input size per key — pending partitions
    run LARGEST-FIRST (the reference schedules its downloads biggest-first,
    SURVEY O3; longest-job-first minimizes makespan when the tail job
    would otherwise straggle).

    The summary's `lineage` maps each committed part_key to its manifest
    entry: input_fingerprint, n_rows, wall_sec and path."""
    manifest = Manifest(out_root)
    done = manifest.current()["partitions"]
    ran, skipped = [], []
    if size_of is not None:
        part_keys = sorted(part_keys, key=size_of, reverse=True)
    for key in part_keys:
        if key in done and done[key]["input_fingerprint"] == fingerprint(key):
            skipped.append(key)
            continue
        t0 = time.time()
        payload = build_partition(spark, key)
        path = os.path.join(out_root, f"part_key={key}")
        if isinstance(payload, pa.Table):
            write_table(payload, path)
            n = payload.num_rows
        else:
            payload.write.mode("overwrite").parquet(path)
            n = parquet_rows(path)
        wall = time.time() - t0
        manifest.commit(  # snapshot publish — makes the partition visible
            key,
            {
                "input_fingerprint": fingerprint(key),
                "n_rows": n,
                "wall_sec": round(wall, 3),
                "path": f"part_key={key}",
            },
            max_retries=64,  # optimistic-concurrency loop (multi-writer)
        )
        ran.append(key)
    return {
        "ran": ran,
        "skipped": skipped,
        "lineage": manifest.current()["partitions"],
        "commit_collisions": manifest.collisions,
    }


def read_output(spark: SparkSession, out_root: str) -> DataFrame:
    """Read through the current manifest snapshot: only committed
    partitions are visible (orphan directories from a crash are not).
    Falls back to the directory glob for pre-manifest outputs."""
    snap = Manifest(out_root).current()
    if snap["partitions"]:
        paths = [
            os.path.join(out_root, e["path"]) for e in snap["partitions"].values()
        ]
        return spark.read.option("basePath", out_root).parquet(*paths)
    return spark.read.option("basePath", out_root).parquet(
        os.path.join(out_root, "part_key=*")
    )
