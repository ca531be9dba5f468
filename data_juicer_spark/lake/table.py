"""SnapshotTable — an Iceberg-style keyed lake table on plain parquet.

Why not real Iceberg: no iceberg-spark-runtime jar ships in this
environment, so this module implements the same commit protocol shape
(immutable data files + snapshot metadata + one atomic pointer swap) in
~200 lines. The API is deliberately MERGE-INTO-shaped so a real Iceberg
catalog can be swapped in behind it (`spark.sql("MERGE INTO ...")`) when
the runtime jar is present — see `merge.py`.

Layout:
    <root>/metadata/snap-<id>.json       immutable snapshot manifests
    <root>/metadata/current              pointer file (atomic os.replace)
    <root>/data/snap-<id>/__bucket__=K/  parquet files for buckets
                                         REWRITTEN by that snapshot
    <root>/data/delta-<id>/              one MOR delta: a few flat parquet
                                         files whose rows carry their
                                         __bucket__ and __kept__ (upsert
                                         vs equality-delete) as columns

Scale design — bucket-level copy-on-write:
  Rows are hash-bucketed on the upsert key (pmod(xxhash64(repo,path), B)).
  A MERGE only rewrites buckets that contain changed keys; untouched
  buckets are carried forward BY REFERENCE in the new manifest. At
  10^10 events over ~10^8 keys, a micro-batch touches a small fraction
  of buckets, so merge cost is O(changed data), not O(table size) —
  the same file-pruning effect Iceberg gets from partition + bloom
  pruning on the merge join.

Exactly-once:
  Each snapshot manifest records the epoch that produced it. Committing
  epoch E when current epoch >= E is a no-op (idempotent re-delivery);
  the pointer swap is a single atomic rename, so a crash before the
  swap leaves the previous snapshot intact (data files are orphaned,
  never half-visible).

Schema evolution:
  Manifests carry the table schema. New columns in an incoming batch
  widen the schema (add-only, like the reference's dynamic column adds,
  dj_dataset.py:473-486); carried-forward buckets are read with
  mergeSchema + null-fill, so old files never need rewriting.
"""

from __future__ import annotations

import json
import os
import time
import uuid
from typing import List, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.observation import Observation


class ConcurrentCommitError(RuntimeError):
    """Another writer advanced the table pointer between this commit's
    snapshot read and its pointer swap (optimistic concurrency loss)."""


class SnapshotTable:
    """strategy:
      - 'cow' (copy-on-write): each MERGE rewrites the buckets containing
        changed keys. Reads are plain scans. Best for read-heavy tables.
      - 'mor' (merge-on-read): each MERGE only WRITES the batch (upsert
        rows + equality-delete keys, tagged by __kept__) as one delta
        directory — O(batch) per epoch regardless of table size, with
        about one file per write task. Reads resolve base+deltas with
        one per-key max_by; `compact_every` deltas trigger a compaction
        back into the base. Best for the ingest-heavy CDC path (this
        repo's north metric).
    Both share the same manifest/commit protocol and epoch fence.
    """

    def __init__(self, spark: SparkSession, root: str,
                 key_cols: List[str], num_buckets: int = 64,
                 strategy: str = "cow", compact_every: int = 8):
        if strategy not in ("cow", "mor"):
            raise ValueError(f"unknown strategy {strategy!r}")
        self.spark = spark
        self.root = root.rstrip("/")
        self.key_cols = list(key_cols)
        self.num_buckets = num_buckets
        self.strategy = strategy
        self.compact_every = compact_every
        os.makedirs(f"{self.root}/metadata", exist_ok=True)
        os.makedirs(f"{self.root}/data", exist_ok=True)

    # -- metadata ----------------------------------------------------------

    def _pointer(self) -> str:
        return f"{self.root}/metadata/current"

    def current_snapshot(self) -> Optional[dict]:
        try:
            with open(self._pointer()) as f:
                snap_id = f.read().strip()
        except FileNotFoundError:
            return None
        with open(f"{self.root}/metadata/snap-{snap_id}.json") as f:
            return json.load(f)

    def current_epoch(self) -> int:
        snap = self.current_snapshot()
        return snap["epoch"] if snap else -1

    def snapshot_history(self) -> List[dict]:
        """Current-first parent chain; stops gracefully at expired
        (deleted) ancestors."""
        out = []
        snap = self.current_snapshot()
        while snap is not None:
            out.append(snap)
            parent = snap.get("parent")
            if parent is None:
                break
            try:
                with open(f"{self.root}/metadata/snap-{parent}.json") as f:
                    snap = json.load(f)
            except FileNotFoundError:
                break  # ancestor expired by expire_snapshots()
        return out

    def snapshot_at_epoch(self, epoch: int) -> Optional[dict]:
        """Latest retained snapshot whose epoch <= the requested epoch
        (time travel). None if the epoch predates the table's FIRST
        commit (table didn't exist yet); raises if that history was
        expired (reading it would silently return wrong data)."""
        hist = self.snapshot_history()
        for snap in hist:
            if snap["epoch"] <= epoch:
                return snap
        if hist and hist[-1].get("parent") is not None:
            raise ValueError(
                f"snapshot history at epoch {epoch} has been expired "
                f"(oldest retained epoch: {hist[-1]['epoch']})")
        return None

    def _acquire_lock(self, timeout: float = 30.0,
                      stale_after: float = 60.0) -> str:
        """O_EXCL lockfile acquisition with owner token. The token (a
        uuid) is written INTO the lockfile so a holder can detect that a
        reaper stole its lock: any critical decision re-verifies
        ownership via _owns_lock. Locks older than `stale_after` are
        reaped (crashed holder); the O_EXCL retry loop arbitrates racing
        reapers."""
        lock = f"{self._pointer()}.lock"
        token = uuid.uuid4().hex
        deadline = time.time() + timeout
        while True:
            try:
                fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
                os.write(fd, token.encode())
                os.fsync(fd)
                os.close(fd)
                return token
            except FileExistsError:
                try:
                    if time.time() - os.path.getmtime(lock) > stale_after:
                        os.remove(lock)
                        continue
                except FileNotFoundError:
                    continue
                if time.time() > deadline:
                    raise TimeoutError(f"commit lock stuck: {lock}")
                time.sleep(0.05)

    def _owns_lock(self, token: str) -> bool:
        try:
            with open(f"{self._pointer()}.lock") as f:
                return f.read().strip() == token
        except FileNotFoundError:
            return False

    def _release_lock(self, token: str) -> None:
        # only remove the lock if it is still OURS — a reaped-and-retaken
        # lock belongs to someone else now
        if self._owns_lock(token):
            try:
                os.remove(f"{self._pointer()}.lock")
            except FileNotFoundError:
                pass

    def _commit(self, manifest: dict) -> dict:
        """Optimistic-concurrency commit (Iceberg's protocol shape):
        write the immutable manifest, then swap the pointer UNDER a
        compare-and-set — the swap only goes through if the live pointer
        still equals this manifest's parent. A racing writer that lost
        gets ConcurrentCommitError (retry against the new current) instead
        of silently orphaning the winner's snapshot. The critical section
        is an owner-token lockfile around write-check-replace; the replace
        itself stays a single atomic rename, so a crash anywhere leaves
        the previous snapshot intact.

        Two race hardenings:
        - the manifest file is written INSIDE the critical section, so a
          concurrent expire_snapshots (which takes the same lock) can
          never observe a not-yet-committed manifest and delete it
          between its write and the pointer swap;
        - ownership is re-verified immediately before os.replace — a
          holder paused past the stale horizon (GC pause, NFS stall)
          whose lock was reaped loses with ConcurrentCommitError instead
          of silently orphaning the thief's commit."""
        snap_id = manifest["snapshot_id"]
        path = f"{self.root}/metadata/snap-{snap_id}.json"
        token = self._acquire_lock()
        try:
            try:
                with open(self._pointer()) as f:
                    live = f.read().strip()
            except FileNotFoundError:
                live = None
            if live != manifest.get("parent"):
                raise ConcurrentCommitError(
                    f"snapshot {snap_id} expected parent "
                    f"{manifest.get('parent')!r} but current is {live!r} — "
                    f"another writer committed first; re-read and retry")
            with open(path, "w") as f:
                json.dump(manifest, f, indent=1)
            tmp = f"{self._pointer()}.tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(snap_id)
            if not self._owns_lock(token):
                os.remove(path)  # we were reaped — do not race the thief
                os.remove(tmp)
                raise ConcurrentCommitError(
                    f"commit lock for snapshot {snap_id} was reaped while "
                    f"paused (held past the stale horizon) — another writer "
                    f"may hold it now; re-read and retry")
            os.replace(tmp, self._pointer())  # atomic pointer swap
        finally:
            self._release_lock(token)
        return manifest

    # -- read --------------------------------------------------------------

    def _bucket_expr(self):
        return F.pmod(
            F.xxhash64(*[F.col(c) for c in self.key_cols]), F.lit(self.num_buckets)
        ).cast("int")

    def _read_dirs(self, dirs: List[str], schema: T.StructType) -> DataFrame:
        """Scan parquet dirs against the MANIFEST schema: the reader
        null-fills columns missing from older files natively (schema
        evolution without file rewrites), and skipping schema inference/
        mergeSchema avoids a footer pass over every file — the manifest,
        not the files, is the source of truth for the table schema."""
        if not dirs:
            return self.spark.createDataFrame([], schema)
        return self.spark.read.schema(schema).parquet(*dirs) \
            .select([f.name for f in schema.fields])

    @staticmethod
    def _delta_buckets(snap: dict) -> set:
        return {b for d in snap.get("deltas", []) for b in d["buckets"]}

    def read(self, buckets: Optional[List[int]] = None,
             snapshot: Optional[dict] = None,
             at_epoch: Optional[int] = None) -> Optional[DataFrame]:
        """Table state. `buckets` prunes to listed buckets only (the
        merge path reads just the changed buckets). Time travel: pass a
        manifest via `snapshot` or an epoch via `at_epoch` (reads the
        latest snapshot committed at or before that epoch — manifests
        and data files are immutable, so historical reads are free).

        MOR resolution is bucket-pruned: buckets untouched by any delta
        are plain scans; only delta-touched buckets pay the per-key
        last-writer aggregation."""
        if snapshot is not None and at_epoch is not None:
            raise ValueError("pass snapshot OR at_epoch, not both")
        if at_epoch is not None:
            snapshot = self.snapshot_at_epoch(at_epoch)
            if snapshot is None:
                return None  # table did not exist yet at that epoch
            snap = snapshot
        else:
            snap = snapshot if snapshot is not None else self.current_snapshot()
        if snap is None:
            return None
        schema = T.StructType.fromJson(snap["schema"])
        want = None if buckets is None else set(buckets)
        delta_bs = self._delta_buckets(snap)
        if want is not None:
            delta_bs &= want

        base_clean = [
            d for b, d in snap["buckets"].items()
            if (want is None or int(b) in want) and int(b) not in delta_bs
        ]
        clean_df = self._read_dirs(base_clean, schema)
        if not delta_bs:
            return clean_df
        resolved = self._resolve_deltas(snap, schema, want, delta_bs)
        return clean_df.unionByName(resolved)

    def _resolve_deltas(self, snap: dict, schema: T.StructType,
                        want: Optional[set], delta_bs: set,
                        cluster_by_bucket: bool = False) -> DataFrame:
        """Last-writer-wins resolution of the delta-touched buckets
        `delta_bs` as ONE map-side-combinable max_by aggregation: base
        rows rank 0; in delta i, equality-delete rows (__kept__ false)
        rank 2i and upserts rank 2i+1, so a later delta always wins and,
        within one delta, an upsert beats a delete of the same key. Per
        key the max-rank entry wins and delete winners drop. A key has
        at most one row per (delta, side) and one in the base, so ranks
        are unique per key and max_by has no ties.

        `want` prunes each delta's scan with a pushed `__bucket__ IN`
        filter (delta files are not laid out by bucket).

        cluster_by_bucket=True (the compaction path) additionally keys
        the one exchange on the storage bucket instead of the raw key:
        the output is then already partitioned the way the bucketed
        rewrite must be laid out, so the follow-up write needs NO second
        exchange of the payload (2 full-payload shuffles -> 1)."""
        base_dirty = [d for b, d in snap["buckets"].items() if int(b) in delta_bs]
        parts = [
            self._read_dirs(base_dirty, schema)
            .withColumn("__kept__", F.lit(True))
            .withColumn("__rank__", F.lit(0))
        ]
        delta_schema = T.StructType(schema.fields + [
            T.StructField("__kept__", T.BooleanType()),
            T.StructField("__bucket__", T.IntegerType())])
        for i, delta in enumerate(snap.get("deltas", []), start=1):
            if delta_bs.isdisjoint(delta["buckets"]):
                continue
            rows = self._read_dirs([delta["dir"]], delta_schema)
            if want is not None:
                rows = rows.where(F.col("__bucket__").isin(sorted(want)))
            parts.append(
                rows.drop("__bucket__").withColumn(
                    "__rank__", F.lit(2 * i) + F.col("__kept__").cast("int")))
        merged = parts[0]
        for p in parts[1:]:
            merged = merged.unionByName(p)
        payload = [f.name for f in schema.fields if f.name not in self.key_cols]
        group_cols = list(self.key_cols)
        if cluster_by_bucket:
            merged = self._by_bucket(merged)
            # grouping on (__bucket__, key) is satisfied by the bucket
            # hash partitioning above, so NO further exchange is planned
            group_cols = ["__bucket__"] + group_cols
        latest = merged.groupBy(*group_cols).agg(
            F.max_by(F.struct(F.col("__kept__"), *[F.col(c) for c in payload]),
                     F.col("__rank__")).alias("__last__")
        ).where(F.col("__last__.__kept__"))
        out_cols = [F.col(f.name) if f.name in self.key_cols
                    else F.col(f"__last__.{f.name}").alias(f.name)
                    for f in schema.fields]
        if cluster_by_bucket:
            out_cols.append(F.col("__bucket__"))
        return latest.select(out_cols)

    # -- write / merge -----------------------------------------------------

    def _by_bucket(self, df: DataFrame) -> DataFrame:
        """df plus its __bucket__ column, hash-exchanged on it. The
        exchange has no explicit partition count, so AQE coalesces it to
        the data's size: the write tasks follow the batch, not
        num_buckets, and each bucket still lands in exactly one task."""
        return df.withColumn("__bucket__", self._bucket_expr()) \
            .repartition("__bucket__")

    def _write_buckets(self, df: DataFrame, snap_id: str,
                       pre_bucketed: bool = False) -> str:
        """Write df partitioned into one __bucket__=K dir per bucket;
        returns the data dir. Each bucket sits in one exchange partition
        (see _by_bucket), so each bucket dir gets one file.
        pre_bucketed=True: df already carries __bucket__ AND is
        hash-partitioned by it (the compaction path), so the write adds
        no exchange at all."""
        out = f"{self.root}/data/snap-{snap_id}"
        if not pre_bucketed:
            df = self._by_bucket(df)
        df.write.partitionBy("__bucket__").mode("overwrite").parquet(out)
        return out

    def _bucket_dirs(self, data_dir: str) -> dict:
        return {
            int(name.split("=")[1]): f"{data_dir}/{name}"
            for name in os.listdir(data_dir)
            if name.startswith("__bucket__=")
        }

    def init(self, df: DataFrame, epoch: int = -1) -> dict:
        """Create the first snapshot from a full dataframe."""
        snap_id = self._new_snap_id()
        data_dir = self._write_buckets(df, snap_id)
        manifest = {
            "snapshot_id": snap_id,
            "parent": None,
            "epoch": epoch,
            "schema": df.drop("__bucket__").schema.jsonValue(),
            "buckets": {str(b): d for b, d in self._bucket_dirs(data_dir).items()},
            "deltas": [],
            "committed_at": time.time(),
            "operation": "init",
        }
        return self._commit(manifest)

    def _new_snap_id(self) -> str:
        return f"{int(time.time() * 1000)}-{uuid.uuid4().hex[:8]}"

    @staticmethod
    def _evolved_schema(cur: dict, upserts: Optional[DataFrame]) -> dict:
        """add-only schema evolution: old fields + any new upsert fields."""
        old_schema = T.StructType.fromJson(cur["schema"])
        names = {f.name for f in old_schema.fields}
        evolved = list(old_schema.fields)
        if upserts is not None:
            for f in upserts.schema.fields:
                if f.name not in names:
                    evolved.append(f)
        return T.StructType(evolved).jsonValue()

    def merge(self, upserts: Optional[DataFrame], delete_keys: Optional[DataFrame],
              epoch: int) -> dict:
        """MERGE INTO: upsert rows keyed on key_cols, delete listed keys.
        A key present in both `upserts` and `delete_keys` is upserted:
        the batch's upsert wins over its delete, on both strategies.

        Idempotent epoch fence: if current epoch >= epoch, returns the
        current manifest unchanged (exactly-once under re-delivery).
        """
        cur = self.current_snapshot()
        if cur is not None and cur["epoch"] >= epoch:
            return cur  # fenced: this epoch (or later) already committed
        if upserts is None and delete_keys is None:
            raise ValueError("merge needs upserts, delete_keys or both")

        if cur is None:
            if upserts is None:
                raise ValueError("cannot merge deletes into an empty table")
            return self.init(upserts, epoch=epoch)

        if self.strategy == "mor":
            return self._merge_mor(cur, upserts, delete_keys, epoch)
        return self._merge_cow(cur, upserts, delete_keys, epoch)

    def _merge_cow(self, cur: dict, upserts: Optional[DataFrame],
                   delete_keys: Optional[DataFrame], epoch: int) -> dict:
        """Copy-on-write: rewrite only buckets containing changed keys;
        the rest are carried forward by reference."""
        if cur.get("deltas"):
            # leftover MOR deltas (strategy switch): fold them in first
            cur = self._compact(cur, epoch=cur["epoch"])
        # 1. changed buckets = buckets of any upserted or deleted key
        change_keys = None
        if upserts is not None:
            change_keys = upserts.select(*self.key_cols)
        if delete_keys is not None:
            dk = delete_keys.select(*self.key_cols)
            change_keys = dk if change_keys is None else change_keys.unionByName(dk)
        changed_buckets = sorted(
            r[0]
            for r in change_keys.select(self._bucket_expr().alias("b"))
            .distinct()
            .collect()
        )
        if not changed_buckets:
            return cur

        # 2. rewrite only those buckets: existing rows minus changed keys,
        #    plus upserts (join is bucket-pruned on the read side)
        old = self.read(buckets=changed_buckets)
        all_keys = change_keys.distinct()
        survivors = old.join(all_keys, on=self.key_cols, how="left_anti")
        new_rows = survivors
        if upserts is not None:
            new_rows = survivors.unionByName(upserts, allowMissingColumns=True)
            # schema evolution: null-fill columns the other side lacks
        snap_id = self._new_snap_id()
        data_dir = self._write_buckets(new_rows, snap_id)
        new_dirs = self._bucket_dirs(data_dir)

        # 3. manifest: carried-forward buckets by reference + rewritten ones
        buckets = dict(cur["buckets"])
        for b in changed_buckets:
            buckets.pop(str(b), None)
        for b, d in new_dirs.items():
            buckets[str(b)] = d

        manifest = {
            "snapshot_id": snap_id,
            "parent": cur["snapshot_id"],
            "epoch": epoch,
            "schema": self._evolved_schema(cur, upserts),
            "buckets": buckets,
            "deltas": [],
            "committed_at": time.time(),
            "operation": "merge",
            "rewritten_buckets": changed_buckets,
        }
        return self._commit(manifest)

    # -- merge-on-read -------------------------------------------------------

    def merge_combined(self, flagged: DataFrame, kept_col: str, epoch: int) -> dict:
        """MOR fast path for the CDC replayer: ONE shuffle + ONE write
        job lands the whole micro-batch. `flagged` carries every
        compacted row; rows with kept_col=true become the delta's
        upserts, the rest become equality-deletes. Epoch-fenced like
        merge()."""
        cur = self.current_snapshot()
        if cur is not None and cur["epoch"] >= epoch:
            return cur
        flagged = flagged.drop("op", "__keep__")
        if cur is None:
            return self.init(flagged.where(F.col(kept_col)).drop(kept_col),
                             epoch=epoch)
        return self._merge_delta(
            cur, flagged.withColumnRenamed(kept_col, "__kept__"), epoch)

    def _merge_delta(self, cur: dict, flagged: DataFrame, epoch: int) -> dict:
        """Write `flagged` (table columns + boolean __kept__) as one flat
        delta directory and commit it. __bucket__ and __kept__ stay
        ordinary columns, so the write makes about one file per task
        whatever num_buckets is; the touched-bucket list for the
        manifest rides the same write job as an Observation."""
        snap_id = self._new_snap_id()
        out_dir = f"{self.root}/data/delta-{snap_id}"
        seen = Observation(f"delta-{snap_id}")
        (
            self._by_bucket(flagged)
            .observe(seen, F.collect_set("__bucket__").alias("buckets"))
            .write.mode("overwrite").parquet(out_dir)
        )
        delta = {"id": snap_id, "dir": out_dir,
                 "buckets": sorted(seen.get["buckets"]),
                 # perfbench/layers.py lists a delta's files from this
                 # map; the whole delta is one dir
                 "upsert_buckets": {"*": out_dir}}
        manifest = {
            "snapshot_id": snap_id,
            "parent": cur["snapshot_id"],
            "epoch": epoch,
            "schema": self._evolved_schema(cur, flagged.drop("__kept__")),
            "buckets": dict(cur["buckets"]),
            "deltas": list(cur.get("deltas", [])) + [delta],
            "committed_at": time.time(),
            "operation": "merge-mor",
        }
        committed = self._commit(manifest)
        return self._maybe_compact(committed, epoch)

    def _maybe_compact(self, committed: dict, epoch: int) -> dict:
        """Opportunistic post-commit compaction. The merge itself is
        already durable — if a concurrent writer wins the compaction's
        CAS, that is NOT a batch failure (a retry would just hit the
        epoch fence), so the race is swallowed and the committed
        manifest returned; the next writer's threshold check compacts."""
        if len(committed.get("deltas", [])) < self.compact_every:
            return committed
        try:
            return self._compact(committed, epoch=epoch)
        except ConcurrentCommitError:
            return committed

    def _merge_mor(self, cur: dict, upserts: Optional[DataFrame],
                   delete_keys: Optional[DataFrame], epoch: int) -> dict:
        """Write-only merge: the batch lands as one delta (upsert rows
        and equality-delete keys in one flagged frame). No read, no
        join — O(batch) per epoch. Every `compact_every` deltas, fold
        them into the base (bucket-pruned rewrite)."""
        sides = []
        if upserts is not None:
            sides.append(upserts.withColumn("__kept__", F.lit(True)))
        if delete_keys is not None:
            sides.append(delete_keys.select(*self.key_cols).distinct()
                         .withColumn("__kept__", F.lit(False)))
        flagged = sides[0]
        for side in sides[1:]:
            flagged = flagged.unionByName(side, allowMissingColumns=True)
        return self._merge_delta(cur, flagged, epoch)

    # -- CDC-out: changelog between epochs ----------------------------------

    def read_changes(self, from_epoch: int, to_epoch: Optional[int] = None
                     ) -> Optional[DataFrame]:
        """Changelog between two committed epochs: one row per key whose
        state differs, with `_change_type` ∈ insert/update/delete and the
        NEW row values (nulls for deletes) — the shape of Delta CDF /
        Iceberg changelog reads, so a downstream pipeline can chain off
        this table as its own CDC source.

        Implementation: snapshot diff (full outer join of the two
        retained states on the key, value comparison via a row hash).
        Correct for COW and MOR alike, after compaction, and across any
        epoch span; cost is O(state at the two epochs) — one hash
        shuffle per side onto the shared key. (When only the MOR deltas
        for the span are needed, the per-epoch lineage in CdcReplayer
        already exposes them O(batch) — this reader is the general
        any-span path.)"""
        new_snap = (self.current_snapshot() if to_epoch is None
                    else self.snapshot_at_epoch(to_epoch))
        if new_snap is None:
            return None
        new_df = self.read(snapshot=new_snap)
        old_df = self.read(at_epoch=from_epoch)
        schema = T.StructType.fromJson(new_snap["schema"])
        value_cols = [f.name for f in schema.fields
                      if f.name not in self.key_cols]
        if old_df is None:
            return new_df.select(
                *self.key_cols, *value_cols,
                F.lit("insert").alias("_change_type"))

        def hashed(df, side):
            cols = [c for c in df.columns if c not in self.key_cols]
            row_hash = F.sha2(F.to_json(F.struct(*[
                F.col(c) for c in sorted(cols)])), 256)
            return df.select(
                *self.key_cols,
                *[F.col(c).alias(f"{side}_{c}") for c in value_cols
                  if c in df.columns],
                row_hash.alias(f"{side}_hash"),
            )

        j = hashed(old_df, "o").join(hashed(new_df, "n"),
                                     on=self.key_cols, how="full_outer")
        new_vals = [F.col(f"n_{c}").alias(c) for c in value_cols
                    if f"n_{c}" in j.columns]
        return (
            j.withColumn(
                "_change_type",
                F.when(F.col("o_hash").isNull(), "insert")
                .when(F.col("n_hash").isNull(), "delete")
                .otherwise("update"))
            .where((F.col("o_hash").isNull()) | (F.col("n_hash").isNull())
                   | (F.col("o_hash") != F.col("n_hash")))
            .select(*self.key_cols, *new_vals, "_change_type")
        )

    # -- maintenance: snapshot expiry ---------------------------------------

    def expire_snapshots(self, keep_last: int = 5,
                         data_grace_seconds: float = 300.0) -> dict:
        """Drop all but the most recent `keep_last` snapshots: delete
        their manifests and any data directory no retained manifest
        references. Reachability is per delta dir and per base bucket
        dir (bucket dirs are shared across snapshots by carry-forward).
        Time travel past the horizon then raises instead of answering
        wrong. Returns {'manifests': n, 'data_dirs': n}.

        Concurrency: runs UNDER the commit lock, and _commit writes its
        manifest inside the same lock — so an in-flight writer's
        manifest can never be observed (and deleted) between its write
        and the pointer swap. Data directories are written by Spark jobs
        OUTSIDE the lock, so unreferenced dirs younger than
        `data_grace_seconds` are skipped: they may belong to a commit in
        flight. Pass 0 only when no writer can be live (tests,
        single-process maintenance windows)."""
        import shutil

        token = self._acquire_lock()
        try:
            hist = self.snapshot_history()
            keep = hist[:max(keep_last, 1)]
            keep_ids = {s["snapshot_id"] for s in keep}
            referenced = set()
            for s in keep:
                referenced.update(
                    os.path.normpath(d) for d in s["buckets"].values())
                referenced.update(
                    os.path.normpath(d["dir"]) for d in s.get("deltas", []))
            n_manifests = n_dirs = 0
            meta = f"{self.root}/metadata"
            for name in os.listdir(meta):
                if name.startswith("snap-") and name.endswith(".json") \
                        and name[5:-5] not in keep_ids:
                    os.remove(os.path.join(meta, name))
                    n_manifests += 1
            now = time.time()
            data = f"{self.root}/data"
            for top in os.listdir(data):
                top_path = os.path.join(data, top)
                if not os.path.isdir(top_path):
                    continue
                # a delta is one dir; base data is shared per bucket dir
                subs = [top_path] if top.startswith("delta-") else [
                    os.path.join(top_path, n) for n in os.listdir(top_path)
                    if n.startswith("__bucket__=")]
                for sub in subs:
                    if os.path.normpath(sub) in referenced:
                        continue
                    try:
                        if now - os.path.getmtime(sub) < data_grace_seconds:
                            continue  # possibly an in-flight commit's data
                    except OSError:
                        continue
                    shutil.rmtree(sub, ignore_errors=True)
                    n_dirs += 1
            return {"manifests": n_manifests, "data_dirs": n_dirs}
        finally:
            self._release_lock(token)

    def _compact(self, cur: dict, epoch: int) -> dict:
        """Fold deltas into the base: resolve only delta-touched buckets,
        rewrite them, carry the rest forward by reference."""
        dirty = sorted(self._delta_buckets(cur))
        if not dirty:
            manifest = dict(cur, deltas=[], operation="compact",
                            snapshot_id=self._new_snap_id(),
                            parent=cur["snapshot_id"], epoch=epoch,
                            committed_at=time.time())
            return self._commit(manifest)
        # resolve clustered by the storage bucket: the one exchange both
        # feeds the last-writer agg AND lays rows out for the bucketed
        # write below (pre_bucketed → the write adds no second shuffle)
        schema = T.StructType.fromJson(cur["schema"])
        resolved = self._resolve_deltas(cur, schema, None, set(dirty),
                                        cluster_by_bucket=True)
        snap_id = self._new_snap_id()
        data_dir = self._write_buckets(resolved, snap_id, pre_bucketed=True)
        buckets = dict(cur["buckets"])
        for b in dirty:
            buckets.pop(str(b), None)
        for b, d in self._bucket_dirs(data_dir).items():
            buckets[str(b)] = d
        manifest = {
            "snapshot_id": snap_id,
            "parent": cur["snapshot_id"],
            "epoch": epoch,
            "schema": cur["schema"],
            "buckets": buckets,
            "deltas": [],
            "committed_at": time.time(),
            "operation": "compact",
            "rewritten_buckets": dirty,
        }
        return self._commit(manifest)
