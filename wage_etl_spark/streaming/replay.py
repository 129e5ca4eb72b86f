"""Epoch-replay orchestrator: exactly-once CDC apply with resume.

The top-level `replay()` is the analog of the reference's per-state pipeline
(/root/reference/main.py:32-135): for each commit epoch it validates, routes
rejects to the DLQ, LWW-dedups, MERGE-applies into the target LakeTable, and
finalizes the checkpoint manifest — in that order, because the manifest append
is the commit point.

Exactly-once protocol (SURVEY.md §7.2 step 6):
  - every snapshot a given epoch produces (DLQ append, target merge, manifest
    append) is tagged with properties={"epoch": e} (WAP-style).
  - resume: last committed epoch L = newest manifest summary row. Any DLQ /
    target snapshots tagged with epoch > L are orphans of a crashed epoch:
    roll both tables back to their newest snapshot with epoch <= L, then
    re-run from L+1. Re-running an epoch is deterministic (same winners, same
    bytes) so the observable final state equals an uninterrupted run.
"""

from __future__ import annotations

import datetime as _dt
import logging
import os
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    LongType, StringType, StructField, StructType, TimestampType,
)

from wage_etl_spark.lake.manifest import (
    commit_epoch, create_manifest, epoch_status,
    last_committed_epoch, next_run_id,
)
from wage_etl_spark.lake.table import LakeTable, align_columns
from wage_etl_spark.operators.dedup_lww import dedup_lww
from wage_etl_spark.operators.merge import LWWKernel
# not called here: perfbench/layers.py:install wraps this module-level name
from wage_etl_spark.operators.merge import merge_apply  # noqa: F401
from wage_etl_spark.plans.partitioning import salt_ways

log = logging.getLogger("wage_etl_spark.replay")

KEY_COLS = ["repo", "path"]
ORDERING_COLS = ["commit", "event_seq"]

TARGET_SCHEMA = StructType(
    [
        StructField("repo", StringType()),
        StructField("path", StringType()),
        StructField("commit", StringType()),
        StructField("event_seq", LongType()),
        StructField("lang", StringType()),
        StructField("content", StringType()),
        StructField("content_sha256", StringType()),
        StructField("epoch", LongType()),
        StructField("run_id", LongType()),
        StructField("load_timestamp", TimestampType()),
    ]
)

DLQ_SCHEMA = StructType(
    [
        StructField("run_id", LongType()),
        StructField("raw_data", StringType()),
        StructField("rejection_reason", StringType()),
        StructField("reject_timestamp", TimestampType()),
        StructField("epoch", LongType()),
    ]
)


@dataclass
class ReplayConfig:
    warehouse: str
    num_buckets: int = 32
    max_epochs: int | None = None
    # keep delete tombstones in the target (required when epochs/micro-
    # batches may arrive out of version order — a late lower-version event
    # must not resurrect a deleted key); readers filter is_deleted
    keep_tombstones: bool = False
    # every strategy runs the same single-shuffle LWW plan (apply_epoch):
    # target rows ∪ the epoch's tagged events, one bucket repartition, one
    # write feeding both the DLQ and the target. The value picks its shape:
    # "auto": pruned to the buckets the epoch touches — one slim per-bucket
    #   count of the events, then the write over events ∪ the touched
    #   buckets' target rows; every untouched bucket's files carry over. The
    #   default, for sparse and live-tail epochs.
    # "shuffle": "auto" plus a hash-aggregate (argmax, dedup_lww) pre-
    #   collapse of the valid events before the sort — duplicates of a hot
    #   key shrink map-side instead of all reaching one sort. For hot-key
    #   skew.
    # "fused": unpruned — no count job, every epoch rewrites the whole
    #   table. For dense epochs that touch every bucket anyway.
    dedup_strategy: str = "auto"
    # auto bucket-spec evolution: after an epoch commits, if the largest
    # rewritten bucket exceeds this row count, the target is rebucketed to
    # 4x its current bucket count (LakeTable.rebucket) before the next
    # epoch — the layout grows with the table instead of being fixed at
    # bootstrap (also after each start_stream micro-batch). None disables.
    # Crash-safe: the rebucket snapshot carries the already-committed
    # epoch's tag, so rollback never drops it, and replay() and
    # start_stream() additionally check the CURRENT snapshot's per-bucket
    # row counts at start-of-run (parquet footers, no Spark job), so a crash
    # between the manifest commit and the rebucket re-triggers it on resume
    # even if later epochs never rewrite the oversized bucket.
    rebucket_above_rows: int | None = None
    # catch-up coalescing: every apply is a range of epochs since..epoch (a
    # single epoch is the range of one); when the replay is more than one
    # epoch behind, up to this many consecutive pending epochs go into ONE
    # apply (the plan dedup_strategy selects). Must be >= 1. Sound because
    # the apply is monotone max-version LWW — iterating it over epochs a..b
    # equals one global argmax over state ∪ all of a..b's events, and so do
    # the pruning and the pre-collapse — so the range produces the
    # byte-identical final state; per-epoch events_in/quarantined metrics
    # are still recorded (source footers or the count job, plus a
    # column-only read of the apply's DLQ output). The whole range commits
    # atomically (one manifest append), so the durability/resume
    # granularity while catching up is the range, not the epoch — live
    # tailing (never behind) is unaffected. This is the scale answer to the
    # fixed ~0.5-1 s/job floor: a 10^4-epoch backlog is 10^4/k jobs, not
    # 10^4.
    catch_up_epochs: int = 1
    # apply_epoch's plan cache, (key, pieces); it lives on the config so a
    # config reused across replay() calls builds the plan once
    _plan: tuple | None = field(default=None, init=False, repr=False, compare=False)

    def __post_init__(self):
        if self.dedup_strategy not in ("auto", "fused", "shuffle"):
            raise ValueError(
                f"unknown dedup_strategy {self.dedup_strategy!r} (auto, fused or shuffle)"
            )
        if self.catch_up_epochs < 1:
            raise ValueError(f"catch_up_epochs must be >= 1, got {self.catch_up_epochs!r}")


def open_tables(spark: SparkSession, cfg: ReplayConfig) -> tuple[LakeTable, LakeTable, LakeTable]:
    target = LakeTable(spark, os.path.join(cfg.warehouse, "repo_code"))
    dlq = LakeTable(spark, os.path.join(cfg.warehouse, "dlq"))
    manifest = LakeTable(spark, os.path.join(cfg.warehouse, "manifest"))
    if not target.exists():
        target = LakeTable.create(
            spark, target.root, TARGET_SCHEMA, key_cols=KEY_COLS, num_buckets=cfg.num_buckets
        )
    if not dlq.exists():
        dlq = LakeTable.create(spark, dlq.root, DLQ_SCHEMA, key_cols=["epoch"], num_buckets=1)
    if not manifest.exists():
        manifest = create_manifest(spark, manifest.root)
    return target, dlq, manifest


def _rollback_orphans(table: LakeTable, last_epoch: int) -> None:
    """Drop snapshots from crashed (uncommitted) epochs."""
    cur = table.snapshot()
    cur_epoch = int(cur.properties.get("epoch", -1))
    if cur_epoch <= last_epoch:
        return
    good = table.latest_version_where(
        lambda p: int(p.get("epoch", -1)) <= last_epoch
    )
    if good is not None and good != cur.version:
        log.warning("rolling back %s to v%s (orphan epoch %s)", table.root, good, cur_epoch)
        table.rollback_to(good, properties={"epoch": str(last_epoch)})


def maybe_rebucket(cfg: ReplayConfig, target: LakeTable, max_rows: int, epoch: int) -> int | None:
    """Rebucket the target to 4x its buckets when a bucket has more than
    ``cfg.rebucket_above_rows`` rows; the snapshot carries the committed
    ``epoch``'s tag. Returns the new bucket count, or None."""
    if not cfg.rebucket_above_rows or max_rows <= cfg.rebucket_above_rows:
        return None
    nb = target.snapshot().num_buckets * 4
    log.info(
        "epoch %s: a bucket has over %s rows — rebucketing to %s",
        epoch, cfg.rebucket_above_rows, nb,
    )
    target.rebucket(nb, properties={"epoch": str(epoch)})
    return nb


def rebucket_at_start(cfg: ReplayConfig, target: LakeTable, last: int) -> None:
    """Start-of-run check, after the orphan rollback: the per-apply trigger
    only sees the buckets the apply just rewrote, so a crash between the
    manifest commit and the rebucket — or an oversized UNTOUCHED bucket —
    would otherwise never re-trigger. One driver-side footer read over the
    current snapshot (no Spark job) closes both gaps."""
    if cfg.rebucket_above_rows and target.snapshot().files:
        counts = target.file_row_counts(target.snapshot().files)
        maybe_rebucket(cfg, target, max(counts.values(), default=0), last)


def _check_no_renames(target: LakeTable) -> None:
    """Epochs carry the original column names; a renamed target would fail
    mid-epoch, after the DLQ had committed. Refuse before writing anything."""
    renames = target.snapshot().renames
    if renames:
        raise ValueError(
            f"cannot apply epochs to {target.root}: it has renamed columns "
            f"{renames} and change events carry the original names"
        )


def _plan_pieces(
    cfg: ReplayConfig,
    target: LakeTable,
    events: DataFrame,
    snap,
    mult: int,
) -> dict:
    """Build every epoch-invariant plan piece of ``apply_epoch`` ONCE.

    Column / WindowSpec construction is Py4J-chatty: profiling showed
    ~0.4-0.5 s PER EPOCH of pure driver-side expression building (40+
    cast/alias columns x several selects), a fixed floor that dominates
    small epochs. Everything here depends only on (events schema, table
    schema, bucket spec, tombstone mode, salt ways) — the cache key in
    ``apply_epoch`` — so a 16-epoch replay builds it once. The shuffle's
    reducer count is not a piece: the kernel sizes it per apply. Column
    objects are unresolved expression trees bound to names, not to a
    DataFrame, so reuse across epochs is sound."""
    from wage_etl_spark.operators.validate import REASON_MAX_LEN, violation_rules

    P: dict = {}
    has_content = "content" in events.columns
    P["violations"] = F.array_compact(
        F.array(
            *[
                F.when(~passes, F.lit(reason))
                for reason, passes in violation_rules(has_content=has_content)
            ]
        )
    )
    is_bad = F.size("_violations") > 0
    # quarantined rows get a unique synthetic key: they never collapse
    qid = F.when(is_bad, F.monotonically_increasing_id()).alias("_qid")
    P["qid"] = qid

    payload_cols = [c for c in events.columns if c != "epoch"]
    stage_payload_cols = [c for c in payload_cols if c != "op"]
    raw_json = F.to_json(
        F.struct(*[F.col(c) for c in events.columns]), {"ignoreNullFields": "false"}
    )
    probe = events.select(*stage_payload_cols).selectExpr(
        "*",
        "cast(null as string) content_sha256",
        "cast(null as long) epoch",
        "cast(null as long) run_id",
        "cast(null as timestamp) load_timestamp",
    )
    align_schema, _, _ = target._merged_schema(probe)

    DLQ_EXTRAS = ["raw_data", "rejection_reason", "reject_timestamp"]

    # events side: both routes
    ev_head = [
        F.when(is_bad, F.lit("dlq")).otherwise(F.lit("stage")).alias("_route"),
        *[F.col(c) for c in stage_payload_cols],
        F.sha2(F.col("content"), 256).alias("content_sha256"),
    ]
    ev_tail = [
        F.current_timestamp().alias("load_timestamp"),
        F.when(is_bad, raw_json).alias("raw_data"),
        F.substring(F.concat_ws(";", "_violations"), 1, REASON_MAX_LEN).alias(
            "rejection_reason"
        ),
        F.current_timestamp().alias("reject_timestamp"),
        qid,
        F.lit(1).alias("_is_source"),
        (F.col("op") if "op" in events.columns else F.lit("U")).alias("_op"),
    ]

    # per-event epoch attribution: when the events carry an epoch column
    # (replay sources; always equal to the applied epoch in single-epoch
    # mode) the output rows keep THEIR event's epoch — required for chunked
    # catch-up, a no-op otherwise. Streaming micro-batches drop the column
    # and fall back to the literal batch id.
    has_epoch_col = "epoch" in events.columns

    def ev_cols(epoch: int, run_id: int) -> list:
        epoch_col = F.col("epoch") if has_epoch_col else F.lit(epoch)
        return [
            *ev_head,
            epoch_col.cast("long").alias("epoch"),
            F.lit(run_id).cast("long").alias("run_id"),
            *ev_tail,
        ]

    P["ev_cols"] = ev_cols

    # align events side to the evolved schema column order
    ev_names = {"_route", *stage_payload_cols, "content_sha256", "epoch", "run_id",
                "load_timestamp", *DLQ_EXTRAS, "_qid", "_is_source", "_op"}
    P["ev_align_cols"] = [
        "_route", *align_columns(align_schema, ev_names), *DLQ_EXTRAS, "_qid", "_is_source", "_op",
    ]
    # THE shuffle: the LWW kernel merge_apply runs too; winners are grouped
    # by (key, _qid), so quarantined rows all survive, and the target side
    # re-enters with null DLQ columns
    P["kernel"] = LWWKernel(snap, align_schema, ORDERING_COLS, mult, cfg.keep_tombstones)
    return P


def apply_epoch(
    spark: SparkSession,
    cfg: ReplayConfig,
    target: LakeTable,
    dlq: LakeTable,
    manifest: LakeTable,
    events: DataFrame,
    epoch: int,
    run_id: int,
    events_in: dict[int, int] | None = None,
    since: int | None = None,
) -> dict:
    """Validate -> route (DLQ | LWW winners) -> MERGE -> manifest for the
    epochs ``since..epoch`` (``since`` defaults to ``epoch``: a single epoch
    is the range of one), in ONE write job.

    ``events`` are the range's events, each row keeping its own ``epoch``
    (a micro-batch without the column is all ``epoch``). ``events_in``:
    caller-known rows per epoch (e.g. from the epoch source's parquet
    footers); otherwise they are counted.

    Runs the LWW kernel (``operators.merge.LWWKernel``) over the tagged
    events, quarantined rows riding the ``dlq`` route under a unique
    synthetic key: the DLQ adopts its files, the target splices in the
    stage files. Old files stay on disk, so rollback and resume follow the
    snapshot/manifest exactly-once protocol.

    ``cfg.dedup_strategy`` picks the plan's shape:

    - ``auto``: pruned to the touched buckets; the kernel's count, grouped
      by (bucket, epoch), also gives ``events_in`` when the caller does not
      know it.
    - ``shuffle``: ``auto`` plus an argmax pre-collapse (``dedup_lww``) of
      the narrow tagged events before any derived column is built; the
      bucket count still reads the raw events.
    - ``fused``: unpruned — rewrites the whole table and skips the bucket
      count; unknown ``events_in`` is a plain count of ``events``.

    Counters come from the count or the caller and from a column-only
    pyarrow read of the ``epoch`` column of this apply's DLQ files — no
    ``Observation`` (``Observation.get`` deadlocks inside a ``foreachBatch``
    micro-batch), and the committed DLQ (which grows with every epoch) is
    never read back.

    A range runs the SAME plan over all of its events at once. Equivalence:
    this apply is monotone max-version LWW, so iterating it per epoch and
    running it once over the union both yield the per-key global argmax —
    identical final bytes. The manifest records one summary row per epoch
    in ONE atomic append (``commit_epoch``)."""
    import shutil
    import time as _time
    import uuid as _uuid

    import pyarrow.compute as _pc
    import pyarrow.parquet as _pq

    epochs = list(range(epoch if since is None else since, epoch + 1))
    _check_no_renames(target)
    start_ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    _t0 = _time.monotonic()
    _phase = {}

    def _mark(name):
        nonlocal _t0
        _phase[name] = round(_time.monotonic() - _t0, 3)
        _t0 = _time.monotonic()

    snap = target.snapshot()

    mult = salt_ways(spark, snap.num_buckets)

    # Plan-piece cache (see _plan_pieces): every expression below depends
    # only on this key, so a multi-epoch replay pays the Py4J-heavy Column
    # construction once, not per epoch. Schema evolution (a later epoch
    # adding columns, or the first commit widening the target) changes the
    # key and rebuilds.
    cache_key = (
        tuple((f.name, str(f.dataType)) for f in events.schema.fields),
        tuple((f.name, str(f.dataType)) for f in snap.schema.fields),
        tuple(snap.key_cols),
        snap.num_buckets,
        bool(cfg.keep_tombstones),
        mult,
    )
    if cfg._plan is None or cfg._plan[0] != cache_key:
        cfg._plan = (cache_key, _plan_pieces(cfg, target, events, snap, mult))
    P = cfg._plan[1]
    kernel = P["kernel"]

    tagged = events.withColumn("_violations", P["violations"])

    def ev_side_of(df: DataFrame) -> DataFrame:
        """Both routes, aligned to the evolved schema column order."""
        return df.select(*P["ev_cols"](epoch, run_id)).select(*P["ev_align_cols"])

    ev_side = ev_side_of(tagged)
    touched = None
    if cfg.dedup_strategy != "fused":
        per_bucket = kernel.bucket_counts(ev_side, "epoch")
        touched = {b for b, _ in per_bucket}
        if events_in is None:
            events_in = {}
            for (_, e), n in per_bucket.items():
                events_in[e] = events_in.get(e, 0) + n
    elif events_in is None:
        if "epoch" in events.columns:
            events_in = {int(e): int(n) for e, n in events.groupBy("epoch").count().collect()}
        else:
            events_in = {epoch: events.count()}
    if cfg.dedup_strategy == "shuffle":
        # argmax pre-collapse on the narrow tagged events, before sha256 /
        # to_json run: quarantined rows get a unique _qid and pass through
        keyed = tagged.select("*", P["qid"])
        ev_side = ev_side_of(dedup_lww(keyed, [*snap.key_cols, "_qid"], ORDERING_COLS))
    epoch_tmp = os.path.join(cfg.warehouse, "_epoch_tmp", _uuid.uuid4().hex)
    try:
        _mark("plan")
        files, reducers = kernel.write(target, ev_side, touched, epoch_tmp)
        _mark("write")

        dlq_files = [p for fs in files.get("dlq", {}).values() for p in fs]
        # per-epoch quarantine counts: a column-only read of this apply's
        # DLQ output (8 B x quarantined rows, never the payload)
        quarantined: dict[int, int] = {}
        for p in dlq_files:
            col = _pq.ParquetFile(p).read(columns=["epoch"]).column("epoch")
            for item in _pc.value_counts(col):
                e = int(item["values"].as_py())
                quarantined[e] = quarantined.get(e, 0) + int(item["counts"].as_py())
        if dlq_files:
            dlq.adopt_files(dlq_files, properties={"epoch": str(epoch)})
        else:
            dlq._commit(
                dlq.snapshot().files, dlq.snapshot().schema, "append-noop",
                {"epoch": str(epoch)},
            )
        _mark("dlq")

        new_snap, bucket_counts = kernel.splice(target, files, {"epoch": str(epoch)}, touched)
        rows_written = sum(bucket_counts.values())
        _mark("adopt")
    finally:
        shutil.rmtree(epoch_tmp, ignore_errors=True)

    end_ts = _dt.datetime.now(_dt.timezone.utc).replace(tzinfo=None)
    per_epoch = []
    for e in epochs:
        ein, q = int(events_in.get(e, 0)), int(quarantined.get(e, 0))
        per_epoch.append(
            dict(
                epoch=e, status=epoch_status(ein, ein - q, q), events_in=ein,
                rows_merged=rows_written if e == epoch else None,
                rows_loaded=ein - q, rows_quarantined=q,
            )
        )
    commit_epoch(
        manifest, per_epoch=per_epoch, run_id=run_id,
        snapshot_id=new_snap.version, start_ts=start_ts, end_ts=end_ts,
        partition_counts={int(b): c for b, c in bucket_counts.items()},
    )
    _mark("manifest")
    log.debug("epochs %s..%s phases: %s reducers: %s", epochs[0], epoch, _phase, reducers)
    n_in = sum(m["events_in"] for m in per_epoch)
    n_quarantined = sum(m["rows_quarantined"] for m in per_epoch)
    return {
        "epoch": epoch, "epochs": epochs, "per_epoch": per_epoch,
        "status": per_epoch[-1]["status"], "events_in": n_in,
        "valid": n_in - n_quarantined, "quarantined": n_quarantined,
        "rows_written": rows_written, "snapshot": new_snap.version,
        "max_bucket_rows": max(bucket_counts.values(), default=0),
        "phases": _phase, "reducers": reducers,
    }


def replay(spark: SparkSession, cfg: ReplayConfig, source) -> list[dict]:
    """Replay all epochs from the source, resuming after the last committed
    epoch, up to ``cfg.catch_up_epochs`` of them per ``apply_epoch``.
    ``source`` is a sources.events.EpochSource (or anything with
    ``max_epoch()``, ``epochs(a, b)`` and ``epoch_rows(e)``, the last
    returning None when it does not know the count)."""
    import time as _time

    target, dlq, manifest = open_tables(spark, cfg)
    _check_no_renames(target)
    last = last_committed_epoch(manifest)
    _rollback_orphans(target, last)
    _rollback_orphans(dlq, last)
    run_id = next_run_id(manifest)

    rebucket_at_start(cfg, target, last)

    results = []
    stop = source.max_epoch()
    if cfg.max_epochs is not None:
        stop = min(stop, last + cfg.max_epochs)
    for a in range(last + 1, stop + 1, cfg.catch_up_epochs):
        _t0 = _time.monotonic()
        b = min(a + cfg.catch_up_epochs - 1, stop)
        known = {e: source.epoch_rows(e) for e in range(a, b + 1)}
        res = apply_epoch(
            spark, cfg, target, dlq, manifest, source.epochs(a, b), b, run_id,
            events_in=None if None in known.values() else known, since=a,
        )
        res["epoch_wall_s"] = round(_time.monotonic() - _t0, 3)
        log.info("epochs %s..%s: %s", a, b, res)
        results.append(res)
        nb = maybe_rebucket(cfg, target, res["max_bucket_rows"], b)
        if nb:
            res["rebucketed_to"] = nb
    return results


def reference_state(events: DataFrame) -> DataFrame:
    """Independent Spark-side reference replay for large-scale verification:
    global LWW via the *window* implementation (a different code path from
    the bucket-local sort + lag apply the engine uses), valid events only,
    final op D means the key is absent. Returns (repo, path, content_sha256).

    Semantics note: global LWW equals epoch-by-epoch replay whenever versions
    are non-decreasing across epochs or tombstones are kept — both hold for
    the bench stream (one epoch) and the keep_tombstones mode."""
    from wage_etl_spark.operators.dedup_lww import dedup_lww_window
    from wage_etl_spark.operators.validate import tag_events

    valid = tag_events(events).filter(F.size("_violations") == 0).drop("_violations")
    winners = dedup_lww_window(valid, KEY_COLS, ORDERING_COLS)
    return winners.filter(F.col("op") != "D").select(
        *KEY_COLS, F.sha2(F.col("content"), 256).alias("content_sha256")
    )


def verify_state(
    spark: SparkSession,
    target: LakeTable,
    oracle,
    max_diff: int = 1000,
) -> dict:
    """Per-row sha256(content) equality vs an oracle replay (BASELINE.json
    invariant). ``oracle`` is either a DataFrame (repo, path, content_sha256)
    — the scale path, e.g. ``reference_state(events)`` — or a small dict
    mapping (repo, path) -> sha256 hex (test convenience; materialized into a
    DataFrame).

    The comparison is DISTRIBUTED: a null-safe full-outer join on the key,
    one aggregate for the counts, and a bounded ``limit(max_diff)`` collect
    of the differing keys only. The driver never holds the table — at the
    10^10-key design scale the old collect-both-sides approach is a driver
    OOM; this plan shuffles (key, 32-byte sha) pairs only."""
    df = target.read()
    if "is_deleted" in df.columns:
        df = df.filter(~F.coalesce(F.col("is_deleted"), F.lit(False)))
    eng = df.select(
        *KEY_COLS, F.col("content_sha256").alias("_e_sha"), F.lit(True).alias("_in_e")
    )
    if isinstance(oracle, DataFrame):
        odf = oracle.select(
            *KEY_COLS, F.col("content_sha256").alias("_o_sha"), F.lit(True).alias("_in_o")
        )
    else:
        odf = spark.createDataFrame(
            [(k[0], k[1], v) for k, v in oracle.items()],
            "repo string, path string, _o_sha string",
        ).withColumn("_in_o", F.lit(True))

    # eqNullSafe per key column (a plain equality join would report a
    # null-keyed row as one missing + one extra instead of matched); the
    # key columns are coalesced back to single output columns afterwards
    eng = eng.alias("e")
    odf = odf.alias("o")
    cond = None
    for k in KEY_COLS:
        c = F.col(f"e.{k}").eqNullSafe(F.col(f"o.{k}"))
        cond = c if cond is None else (cond & c)
    joined = eng.join(odf, cond, "full_outer").select(
        *[F.coalesce(F.col(f"e.{k}"), F.col(f"o.{k}")).alias(k) for k in KEY_COLS],
        "_e_sha", "_in_e", "_o_sha", "_in_o",
    )
    is_missing = F.col("_in_e").isNull()
    is_extra = F.col("_in_o").isNull()
    is_mismatch = (
        F.col("_in_e").isNotNull()
        & F.col("_in_o").isNotNull()
        & ~F.col("_e_sha").eqNullSafe(F.col("_o_sha"))
    )
    joined = joined.persist()
    try:
        agg = joined.agg(
            F.count("_in_e").alias("engine_rows"),
            F.count("_in_o").alias("oracle_rows"),
            F.sum(is_missing.cast("long")).alias("n_missing"),
            F.sum(is_extra.cast("long")).alias("n_extra"),
            F.sum(is_mismatch.cast("long")).alias("n_mismatched"),
        ).collect()[0]
        n_missing = int(agg["n_missing"] or 0)
        n_extra = int(agg["n_extra"] or 0)
        n_mismatched = int(agg["n_mismatched"] or 0)
        engine_rows = int(agg["engine_rows"] or 0)
        oracle_rows = int(agg["oracle_rows"] or 0)
        missing: dict = {}
        extra: dict = {}
        mismatched: dict = {}
        if n_missing or n_extra or n_mismatched:
            diffs = (
                joined.filter(is_missing | is_extra | is_mismatch)
                .select(*KEY_COLS, "_e_sha", "_o_sha", "_in_e", "_in_o")
                .limit(max_diff)
                .collect()
            )
            for r in diffs:
                key = tuple(r[k] for k in KEY_COLS)
                if r["_in_e"] is None:
                    missing[key] = r["_o_sha"]
                elif r["_in_o"] is None:
                    extra[key] = r["_e_sha"]
                else:
                    mismatched[key] = (r["_o_sha"], r["_e_sha"])
    finally:
        joined.unpersist()
    return {
        # engine_rows == oracle_rows also guards duplicate engine keys (a
        # dup with an equal sha matches row-by-row but inflates the count)
        "equal": not (n_missing or n_extra or n_mismatched) and engine_rows == oracle_rows,
        "engine_rows": engine_rows,
        "oracle_rows": oracle_rows,
        "n_missing": n_missing,
        "n_extra": n_extra,
        "n_mismatched": n_mismatched,
        "missing": missing,
        "extra": extra,
        "mismatched": mismatched,
    }
