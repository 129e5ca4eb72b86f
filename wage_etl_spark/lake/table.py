"""LakeTable — a minimal Iceberg-style snapshot table format on parquet.

No Iceberg runtime jar ships in this sandbox, so the engine carries its own
snapshot layer implementing the same contract the north rule needs from
Iceberg: atomic snapshot commits, copy-on-write MERGE with partition (bucket)
pruning, schema evolution on write, snapshot properties (WAP-style epoch
tags), rollback, and time travel. On a production cluster this class is a
drop-in seam: every upsert goes through the one LWW kernel
(``operators.merge``) and lands via ``overwrite_with_files``; it and
``append``/``read`` can be re-pointed at ``spark.sql("MERGE INTO ...")`` over
a real Iceberg catalog without touching the operators.

Physical layout::

    <root>/
      _meta/
        snap-00000001.json   # full snapshot: schema, bucket spec, file list
        version-hint.text    # latest committed version (atomic rename)
      data/
        <commit-uuid>/_b=<bucket>/part-*.parquet

Commit protocol (single-writer optimistic): a writer computes version =
latest + 1 and creates ``snap-{v}.json`` with O_EXCL — a concurrent committer
loses and raises ``SnapshotConflict``. The hint file is then replaced via
``os.replace`` (atomic on POSIX). Readers only ever see fully-committed
snapshots; a crash mid-write leaves orphan data files that ``expire_snapshots``
garbage-collects, never a torn table (same guarantee as Iceberg's metadata
pointer swap).

Bucketing: rows are hash-bucketed by key columns, ``pmod(xxhash64(*keys), N)``.
All versions of one key live in exactly one bucket, so MERGE rewrites only the
buckets the source touches — at 10^10-event scale with N=4096 buckets an epoch
that touches 1% of keys rewrites ~1% of the table, not all of it.

Reference parity: the atomic snapshot commit plays the role of the reference's
per-connection transaction (``/root/reference/src/load/db.py:15-33`` — commit
on success, rollback = no snapshot produced); the bucket layout plays the role
of its natural-key unique index (``sql/migrations/V009...:4-5``).
"""

from __future__ import annotations

import json
import os
import time
import uuid
from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

HINT_FILE = "version-hint.text"


class SnapshotConflict(RuntimeError):
    """Another writer committed the same version first."""


@dataclass
class Snapshot:
    version: int
    schema_json: str
    key_cols: list[str]
    num_buckets: int
    files: dict[str, list[str]]  # bucket id (str) -> relative file paths
    operation: str
    properties: dict[str, str]
    parent: int | None
    timestamp_ms: int
    renames: dict[str, str]  # physical column name -> current logical name

    def to_json(self) -> str:
        return json.dumps(
            {
                "version": self.version,
                "schema": json.loads(self.schema_json),
                "key_cols": self.key_cols,
                "num_buckets": self.num_buckets,
                "files": self.files,
                "operation": self.operation,
                "properties": self.properties,
                "parent": self.parent,
                "timestamp_ms": self.timestamp_ms,
                "renames": self.renames,
            },
            indent=1,
        )

    @staticmethod
    def from_json(text: str) -> "Snapshot":
        d = json.loads(text)
        return Snapshot(
            version=d["version"],
            schema_json=json.dumps(d["schema"]),
            key_cols=d["key_cols"],
            num_buckets=d["num_buckets"],
            files={str(k): v for k, v in d["files"].items()},
            operation=d["operation"],
            properties=d.get("properties", {}),
            parent=d.get("parent"),
            timestamp_ms=d.get("timestamp_ms", 0),
            renames=d.get("renames", {}),
        )

    @property
    def schema(self) -> StructType:
        return StructType.fromJson(json.loads(self.schema_json))

    def all_files(self) -> list[str]:
        return [f for fs in self.files.values() for f in fs]


def _safe_widen(a, b):
    """The wider of two types when the pair is a safe promotion (int family,
    float family, decimal precision at equal scale); None otherwise."""
    from pyspark.sql.types import (
        ByteType, DecimalType, DoubleType, FloatType, IntegerType, LongType, ShortType,
    )

    def rank(t, family):
        for i, cls in enumerate(family):
            if isinstance(t, cls):
                return i
        return None

    for family in ([ByteType, ShortType, IntegerType, LongType], [FloatType, DoubleType]):
        ra, rb = rank(a, family), rank(b, family)
        if ra is not None and rb is not None:
            return a if ra >= rb else b
    if isinstance(a, DecimalType) and isinstance(b, DecimalType) and a.scale == b.scale:
        return a if a.precision >= b.precision else b
    return None


def bucket_expr(key_cols: list[str], num_buckets: int):
    """Stable hash bucket of the natural key — xxhash64 is version-stable in
    Spark, so bucket assignment survives re-runs and engine upgrades."""
    return F.pmod(F.xxhash64(*[F.col(c) for c in key_cols]), F.lit(num_buckets)).cast("int")


def bucket_files(path: str) -> dict[str, list[str]]:
    """Bucket id -> the parquet files of a ``partitionBy("_b")`` write."""
    out: dict[str, list[str]] = {}
    for bdir in sorted(os.listdir(path)) if os.path.isdir(path) else []:
        if bdir.startswith("_b="):
            d = os.path.join(path, bdir)
            out[str(int(bdir[3:]))] = [
                os.path.join(d, f) for f in sorted(os.listdir(d)) if f.endswith(".parquet")
            ]
    return out


def align_columns(schema: StructType, present) -> list[Column]:
    """``schema``'s columns in its order: a name in ``present`` cast to its
    evolved type (type-widened columns read narrow from old files; a no-op
    when the types match), any other name a typed null."""
    return [
        (
            F.col(f.name).cast(f.dataType) if f.name in present
            else F.lit(None).cast(f.dataType)
        ).alias(f.name)
        for f in schema.fields
    ]


def to_physical(df: DataFrame, renames: dict[str, str]) -> DataFrame:
    """``df`` with renamed columns mapped back to the physical names the
    table's files carry (``renames``: physical name -> logical name)."""
    if not renames:
        return df  # no new DataFrame to analyze
    return df.withColumnsRenamed({new: old for old, new in renames.items()})


class LakeTable:
    def __init__(self, spark: SparkSession, root: str):
        self.spark = spark
        self.root = os.path.abspath(root)
        self.meta_dir = os.path.join(self.root, "_meta")
        self.data_dir = os.path.join(self.root, "data")

    # ------------------------------------------------------------------ DDL

    @staticmethod
    def create(
        spark: SparkSession,
        root: str,
        schema: StructType,
        key_cols: list[str],
        num_buckets: int = 32,
        properties: dict[str, str] | None = None,
    ) -> "LakeTable":
        t = LakeTable(spark, root)
        os.makedirs(t.meta_dir, exist_ok=True)
        os.makedirs(t.data_dir, exist_ok=True)
        snap = Snapshot(
            version=1,
            schema_json=schema.json(),
            key_cols=list(key_cols),
            num_buckets=num_buckets,
            files={},
            operation="create",
            properties=properties or {},
            parent=None,
            timestamp_ms=int(time.time() * 1000),
            renames={},
        )
        t._write_snapshot(snap)
        return t

    def exists(self) -> bool:
        return os.path.exists(os.path.join(self.meta_dir, HINT_FILE))

    # ------------------------------------------------------------- snapshots

    def current_version(self) -> int:
        with open(os.path.join(self.meta_dir, HINT_FILE)) as f:
            return int(f.read().strip())

    def snapshot(self, version: int | None = None) -> Snapshot:
        v = self.current_version() if version is None else version
        with open(os.path.join(self.meta_dir, f"snap-{v:08d}.json")) as f:
            return Snapshot.from_json(f.read())

    def history(self) -> list[Snapshot]:
        out = []
        for name in sorted(os.listdir(self.meta_dir)):
            if name.startswith("snap-") and name.endswith(".json"):
                with open(os.path.join(self.meta_dir, name)) as f:
                    out.append(Snapshot.from_json(f.read()))
        return out

    def _next_version(self) -> int:
        vs = [
            int(n[5:13])
            for n in os.listdir(self.meta_dir)
            if n.startswith("snap-") and n.endswith(".json")
        ]
        return (max(vs) + 1) if vs else 1

    def _write_snapshot(self, snap: Snapshot) -> None:
        """Crash-atomic commit: the snapshot JSON is fully written + fsynced
        to a temp file, then hard-linked to its final name. link(2) fails
        with EEXIST if another writer committed the version first (same
        conflict detection as O_EXCL), and a crash at any point leaves either
        no snap file or a complete one — never a truncated JSON that would
        wedge history()/resume."""
        path = os.path.join(self.meta_dir, f"snap-{snap.version:08d}.json")
        tmp_snap = os.path.join(self.meta_dir, f".snap-{uuid.uuid4().hex}.tmp")
        with open(tmp_snap, "w") as f:
            f.write(snap.to_json())
            f.flush()
            os.fsync(f.fileno())
        try:
            os.link(tmp_snap, path)
        except FileExistsError as e:
            raise SnapshotConflict(f"version {snap.version} already committed") from e
        finally:
            os.unlink(tmp_snap)
        tmp = os.path.join(self.meta_dir, f".hint-{uuid.uuid4().hex}.tmp")
        with open(tmp, "w") as f:
            f.write(str(snap.version))
            f.flush()
            os.fsync(f.fileno())
        os.replace(tmp, os.path.join(self.meta_dir, HINT_FILE))

    def _commit(
        self,
        files: dict[str, list[str]],
        schema: StructType,
        operation: str,
        properties: dict[str, str],
        renames: dict[str, str] | None = None,
        parent: Snapshot | None = None,
        key_cols: list[str] | None = None,
        num_buckets: int | None = None,
    ) -> Snapshot:
        parent = parent or self.snapshot()
        snap = Snapshot(
            version=self._next_version(),
            schema_json=schema.json(),
            key_cols=key_cols if key_cols is not None else parent.key_cols,
            num_buckets=num_buckets if num_buckets is not None else parent.num_buckets,
            files=files,
            operation=operation,
            properties=properties,
            parent=parent.version,
            timestamp_ms=int(time.time() * 1000),
            renames=renames if renames is not None else parent.renames,
        )
        self._write_snapshot(snap)
        return snap

    # ------------------------------------------------------------------ read

    def read(self, version: int | None = None, buckets: set[int] | None = None) -> DataFrame:
        """The table at ``version`` (default: current). ``buckets``: read
        only those bucket ids' files (file-level pruning); None reads all."""
        snap = self.snapshot(version)
        files = [
            os.path.join(self.root, f)
            for b, fs in snap.files.items()
            if buckets is None or int(b) in buckets
            for f in fs
        ]
        if not files:
            # an empty LocalRelation: its size is known (0 bytes; an empty
            # Python-rows createDataFrame reports Long.MaxValue), so writes
            # size their shuffle from the estimate, and the optimizer drops
            # it from a union (null-literal columns would be constant-folded
            # into the kernel's bucket-slot expressions instead)
            js = self.spark._jsparkSession
            return DataFrame(
                js.createDataFrame(
                    self.spark._jvm.java.util.ArrayList(), js.parseDataType(snap.schema.json())
                ),
                self.spark,
            )
        df = self.spark.read.schema(self._physical_schema(snap)).parquet(*files)
        return df.withColumnsRenamed(snap.renames)

    def _physical_schema(self, snap: Snapshot) -> StructType:
        """Schema with logical renames undone — matches what is in the files."""
        inverse = {v: k for k, v in snap.renames.items()}
        fields = []
        for f in snap.schema.fields:
            fields.append(type(f)(inverse.get(f.name, f.name), f.dataType, True))
        return StructType(fields)

    # ----------------------------------------------------------------- write

    def _write_files(self, df: DataFrame, snap: Snapshot) -> dict[str, list[str]]:
        """Write df bucketed by key into a fresh commit dir; returns the
        bucket -> relative-path map. One parquet file per bucket: the
        repartition below is the only shuffle, every bucket lies in one of
        its reducers, and downstream MERGE reads are pruned per bucket."""
        from wage_etl_spark.plans.partitioning import repartition_exact, shuffle_width

        out_path = os.path.join(self.data_dir, uuid.uuid4().hex)
        bucketed = to_physical(
            df.withColumn("_b", bucket_expr(snap.key_cols, snap.num_buckets)), snap.renames
        )
        # collision-free bucket->reducer assignment, bucket b on reducer
        # b mod R (partitioning.py)
        reducers = shuffle_width(bucketed, snap.num_buckets)
        physical = repartition_exact(bucketed, F.col("_b") % reducers, reducers).drop("_pt")
        physical.write.partitionBy("_b").mode("append").parquet(out_path)
        return {
            b: [os.path.relpath(p, self.root) for p in fs]
            for b, fs in bucket_files(out_path).items()
        }

    def _merged_schema(self, df: DataFrame) -> tuple[StructType, DataFrame, bool]:
        """Schema-evolution-on-write: union of current schema and df's schema
        — the Iceberg ``mergeSchema`` analog. New columns are appended
        (nullable); type changes on existing columns are resolved by SAFE
        WIDENING (byte<short<int<long, float<double, decimal precision at
        equal scale — Iceberg's promotion rules). A wider incoming type
        widens the table schema (old narrow files stay: Spark's parquet
        reader up-casts at scan time, SPARK-40876); a narrower incoming type
        is cast up to the table type. Anything else raises.

        Reference analog: migration V008 both adds a NOT NULL column and
        widens county_fips CHAR(3)->CHAR(5)
        (/root/reference/sql/migrations/V008__ALTER_county_fips_and_add_year.sql:1-19)."""
        cur = self.snapshot().schema
        key_cols = set(self.snapshot().key_cols)
        df_types = {f.name: f.dataType for f in df.schema.fields}
        fields = []
        evolved = False
        for f in cur.fields:
            t = f.dataType
            if f.name in df_types and df_types[f.name] != t:
                w = _safe_widen(t, df_types[f.name])
                if w is None:
                    raise ValueError(
                        f"unsafe type change for column '{f.name}': "
                        f"{t.simpleString()} -> {df_types[f.name].simpleString()}"
                    )
                if f.name in key_cols and w != t:
                    # key columns feed xxhash64 bucketing; a type change would
                    # silently re-map buckets and break bucket purity
                    raise ValueError(
                        f"cannot widen key column '{f.name}' "
                        f"({t.simpleString()} -> {w.simpleString()}): bucket "
                        "hashes are type-sensitive"
                    )
                if w != t:
                    evolved = True
                t = w
            fields.append(type(f)(f.name, t, True))
        cur_names = {f.name for f in cur.fields}
        new_fields = [f for f in df.schema.fields if f.name not in cur_names]
        evolved = evolved or len(new_fields) > 0
        schema = StructType(fields + [type(f)(f.name, f.dataType, True) for f in new_fields])
        return schema, df.select(*align_columns(schema, df.columns)), evolved

    def append(self, df: DataFrame, properties: dict[str, str] | None = None) -> Snapshot:
        snap = self.snapshot()
        schema, aligned, _ = self._merged_schema(df)
        new_files = self._write_files(aligned, snap)
        merged = {b: list(fs) for b, fs in snap.files.items()}
        for b, fs in new_files.items():
            merged.setdefault(b, []).extend(fs)
        return self._commit(merged, schema, "append", properties or {}, parent=snap)

    def overwrite(self, df: DataFrame, properties: dict[str, str] | None = None) -> Snapshot:
        snap = self.snapshot()
        schema, aligned, _ = self._merged_schema(df)
        new_files = self._write_files(aligned, snap)
        return self._commit(new_files, schema, "overwrite", properties or {}, parent=snap)

    # ------------------------------------------------------------- utilities

    def rename_column(self, old: str, new: str, properties: dict[str, str] | None = None) -> Snapshot:
        """Metadata-only column rename (Iceberg ALTER TABLE ... RENAME COLUMN
        analog): no data files are rewritten; reads remap on the fly. A key
        column rename updates key_cols too, so merge bucketing keeps
        resolving (bucket assignment is unchanged — the physical column, and
        hence xxhash64 input, is the same)."""
        snap = self.snapshot()
        fields = []
        for f in snap.schema.fields:
            fields.append(type(f)(new if f.name == old else f.name, f.dataType, f.nullable))
        renames = dict(snap.renames)
        # chase chains: physical name is the original file column name
        physical = next((p for p, cur in renames.items() if cur == old), old)
        renames[physical] = new
        key_cols = [new if k == old else k for k in snap.key_cols]
        return self._commit(
            snap.files, StructType(fields), "rename", properties or {},
            renames=renames, parent=snap, key_cols=key_cols,
        )

    def rebucket(
        self, new_num_buckets: int, properties: dict[str, str] | None = None
    ) -> Snapshot:
        """Bucket-spec evolution (the Iceberg partition-spec-evolution
        analog): rewrite the table into a different hash-bucket count — the
        scale lever when a table outgrows its layout (e.g. 32 buckets at
        bootstrap -> 4096 as a replay approaches 10^10 keys, keeping
        per-bucket file sizes bounded). ONE repartition job over the current
        state; the bucket count is PER SNAPSHOT, so time travel to older
        versions still reads the old layout, and every downstream consumer
        (merge pruning, fused apply) picks the new spec up from the latest
        snapshot automatically."""
        if new_num_buckets < 1:
            raise ValueError("num_buckets must be >= 1")
        snap = self.snapshot()
        if new_num_buckets == snap.num_buckets:
            return snap
        import dataclasses as _dc

        target_spec = _dc.replace(snap, num_buckets=new_num_buckets)
        files = self._write_files(self.read(), target_spec)
        return self._commit(
            files, snap.schema, "rebucket", properties or {},
            parent=snap, num_buckets=new_num_buckets,
        )

    def rollback_to(self, version: int, properties: dict[str, str] | None = None) -> Snapshot:
        """New snapshot pointing at an old snapshot's files (Iceberg
        rollback semantics — history is preserved, the table state rewinds).

        The FULL spec of the target version is restored — files, schema,
        renames, key_cols, AND num_buckets. The bucket count is per-snapshot
        (rebucket()), so a rollback across a rebucket boundary must revert to
        the layout the restored files were written under; inheriting the
        current snapshot's count would make merge_apply compute bucket_expr
        with the wrong modulus and splice the wrong buckets."""
        target = self.snapshot(version)
        cur = self.snapshot()
        return self._commit(
            target.files,
            target.schema,
            "rollback",
            {**(properties or {}), "rolled_back_to": str(version)},
            renames=target.renames,
            parent=cur,
            key_cols=target.key_cols,
            num_buckets=target.num_buckets,
        )

    def latest_version_where(self, pred) -> int | None:
        """Newest snapshot version whose properties satisfy ``pred`` —
        used by resume logic to find epoch-tagged snapshots (WAP analog).
        Walks BACKWARD from the current snapshot via parent pointers, so the
        cost is O(snapshots rolled past), not O(all history) — at 10^5
        committed epochs a resume after a crash parses one or two snapshot
        files, not the whole _meta directory."""
        snap = self.snapshot()
        while True:
            if pred(snap.properties):
                return snap.version
            if snap.parent is None:
                return None
            try:
                snap = self.snapshot(snap.parent)
            except FileNotFoundError:
                return None  # chain crosses an expired snapshot

    def expire_snapshots(self, keep_last: int = 10) -> int:
        """GC data files unreachable from the newest ``keep_last`` snapshots.
        Returns number of deleted files. (Iceberg expire_snapshots analog.)"""
        hist = self.history()
        keep = hist[-keep_last:]
        live = {f for s in keep for f in s.all_files()}
        deleted = 0
        for dirpath, _dirs, fnames in os.walk(self.data_dir):
            for fn in fnames:
                full = os.path.join(dirpath, fn)
                rel = os.path.relpath(full, self.root)
                if fn.endswith(".parquet") and rel not in live:
                    os.remove(full)
                    deleted += 1
        for s in hist[:-keep_last]:
            p = os.path.join(self.meta_dir, f"snap-{s.version:08d}.json")
            if os.path.exists(p) and s.version != self.current_version():
                os.remove(p)
        # GC temp files of crashed commit attempts (age-gated: a live
        # writer's temp exists only for the microseconds before link(2))
        now = time.time()
        for name in os.listdir(self.meta_dir):
            if name.startswith((".snap-", ".hint-")) and name.endswith(".tmp"):
                p = os.path.join(self.meta_dir, name)
                if now - os.path.getmtime(p) > 60:
                    os.remove(p)
        return deleted

    def truncate(self, properties: dict[str, str] | None = None) -> Snapshot:
        """Empty the table (reference TRUNCATE ... CASCADE, staging.py:176-185)
        — a metadata-only commit; old files remain for time travel until
        expire_snapshots."""
        snap = self.snapshot()
        return self._commit({}, snap.schema, "truncate", properties or {}, parent=snap)

    def _move_in(self, commit_dir: str, bucket: str, abs_paths: list[str]) -> list[str]:
        """Move written files into ``data/<commit_dir>/_b=<bucket>/``;
        returns their table-relative paths."""
        rel_dir = os.path.join("data", commit_dir, f"_b={bucket}")
        os.makedirs(os.path.join(self.root, rel_dir), exist_ok=True)
        rels = [os.path.join(rel_dir, f"part-{i:05d}.parquet") for i in range(len(abs_paths))]
        for p, rel in zip(abs_paths, rels):
            os.rename(p, os.path.join(self.root, rel))
        return rels

    def adopt_files(
        self,
        abs_paths: list[str],
        bucket: str = "0",
        properties: dict[str, str] | None = None,
    ) -> Snapshot:
        """Append already-written parquet files by MOVING them into the table
        (zero rewrite — the Iceberg add_files analog). The files may carry a
        superset of the table schema; reads project the table schema only.
        Used for audit-style tables (DLQ) fed by a multi-output job."""
        snap = self.snapshot()
        merged = {b: list(fs) for b, fs in snap.files.items()}
        merged.setdefault(bucket, []).extend(self._move_in(uuid.uuid4().hex, bucket, abs_paths))
        return self._commit(merged, snap.schema, "append", properties or {}, parent=snap)

    def overwrite_with_files(
        self,
        files_by_bucket: dict[str, list[str]],
        schema: StructType | None = None,
        properties: dict[str, str] | None = None,
        touched: set[int] | None = None,
    ) -> Snapshot:
        """Replace table state with already-written bucket-pure parquet
        files by moving them in (zero rewrite — the fused-apply sink).
        ``files_by_bucket`` maps bucket id -> absolute paths of that bucket's
        files. ``touched=None`` replaces the ENTIRE table: buckets absent
        from the map become empty. Otherwise only the ``touched`` buckets are
        replaced (a touched bucket absent from the map becomes empty) and
        every other bucket's file list carries over unchanged. Files may
        carry a superset of ``schema`` (reads project the table schema) and
        must use the physical names of renamed columns (``to_physical``).
        Old files stay on disk (copy-on-write), so rollback and time travel
        keep working.

        Raises before committing if a written bucket lies outside
        ``touched``: its files would silently replace a bucket whose rows
        were never read (e.g. a source that gave different rows on a second
        read)."""
        snap = self.snapshot()
        if touched is not None:
            stray = sorted({int(b) for b in files_by_bucket} - set(touched))
            if stray:
                raise ValueError(
                    f"overwrite_with_files: buckets {stray} were written but are "
                    f"outside the touched set {sorted(touched)}"
                )
        commit_dir = uuid.uuid4().hex
        new_files: dict[str, list[str]] = {
            b: list(fs) for b, fs in snap.files.items()
            if touched is not None and int(b) not in touched
        }
        for b, paths in files_by_bucket.items():
            new_files[str(int(b))] = self._move_in(commit_dir, str(int(b)), paths)
        return self._commit(
            new_files, schema if schema is not None else snap.schema,
            "merge", properties or {}, parent=snap,
        )

    def append_local(self, rows: list[dict], properties: dict[str, str] | None = None) -> Snapshot:
        """Append a SMALL batch of rows driver-side via pyarrow — no Spark
        job. Used for the checkpoint manifest (a few rows per epoch); data
        tables always go through the Spark write path."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        snap = self.snapshot()
        commit_dir = uuid.uuid4().hex
        rel_dir = os.path.join("data", commit_dir, "_b=0")
        os.makedirs(os.path.join(self.root, rel_dir), exist_ok=True)
        rel_file = os.path.join(rel_dir, "part-00000.parquet")

        def _pa_type(spark_type: str):
            return {
                "long": pa.int64(), "integer": pa.int32(), "string": pa.string(),
                "timestamp": pa.timestamp("us"), "double": pa.float64(),
                "boolean": pa.bool_(),
            }[spark_type]

        fields = [(f.name, _pa_type(f.dataType.typeName())) for f in snap.schema.fields]
        arrays = {
            name: pa.array([r.get(name) for r in rows], type=t) for name, t in fields
        }
        pq.write_table(
            pa.table(arrays, schema=pa.schema(fields)),
            os.path.join(self.root, rel_file),
        )
        merged = {b: list(fs) for b, fs in snap.files.items()}
        merged.setdefault("0", []).append(rel_file)
        return self._commit(merged, snap.schema, "append", properties or {}, parent=snap)

    def file_row_counts(self, files: dict[str, list[str]]) -> dict[str, int]:
        """Rows per bucket from parquet footers — driver-side metadata read,
        no Spark job (used for lineage/metrics so counting never re-scans)."""
        import pyarrow.parquet as pq

        out: dict[str, int] = {}
        for b, fs in files.items():
            out[b] = sum(
                pq.ParquetFile(os.path.join(self.root, f)).metadata.num_rows for f in fs
            )
        return out
