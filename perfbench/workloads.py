"""The benchmark's workloads. Each one generates its inputs from the seed,
sets up its starting state once, measures for ``run.seconds``, and checks the
engine's output after the measured window. Then ``query_pass`` runs the
workload's share of the query subset once and checks its rows. See README.md
for why each workload exists.
"""

from __future__ import annotations

import contextlib
import datetime as dt
import glob
import importlib
import os
import random
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field

from pyspark.sql import functions as F

from wage_etl_spark.lake.table import LakeTable
from wage_etl_spark.sources.events import EpochSource
from wage_etl_spark.sources.synth import synthesize_events

# by module object: the package re-exports a function named ``replay``, and
# the traced run patches names on these modules
R = importlib.import_module("wage_etl_spark.streaming.replay")
S = importlib.import_module("wage_etl_spark.streaming.structured")

# bench.py's stream profile: content capped so the engine, not byte copying,
# is what gets measured
CONTENT_MAX = 256
# synthesize_events puts 5 consecutive steps in one commit
COMMIT_STEPS = 5
# the query subset: one query per module that only queries reach, plus the
# two carried-over ROADMAP items (embedding_cosine_dups_scaled,
# dedup_clusters). All 35 queries take ~40 s per warm pass at sf0.001 on a
# 4-core host, more than a run can spend. Each write-path workload runs one half
# after its measured window, so every query is checked and timed on a listed
# workload while a run pays for half of them.
CDC_QUERIES = (
    "cdc_lww_state",                 # operators.dedup_lww
    "cdc_validate_split",            # validation rules, read-only
    "header_normalize",              # functions.cleaning
    "dedup_clusters",                # operators.dedupe
)
CONTENT_QUERIES = (
    "text_quality",                  # functions.text
    "html_extract_lifecycle",        # sources.html_table + operators.reshape
    "multimodal_features",           # sources.multimodal
    "embedding_cosine_dups_scaled",  # operators.similarity
)
SUITE = CDC_QUERIES + CONTENT_QUERIES
STREAM_MAX_FILES_PER_TRIGGER = 8


@dataclass(frozen=True)
class Scale:
    # sparse_tail: a 10^5-key table, then tiny epochs of a few commits
    sparse_keys: int = 100_000
    sparse_boot_events: int = 200_000
    sparse_epoch_commits: int = 3
    sparse_tail_epochs: int = 20
    # stream_tail: one file of this many events released every interval
    stream_keys: int = 5_000
    stream_file_events: int = 500
    stream_interval_s: float = 0.5
    stream_warmup_s: float = 3.0
    stream_buckets: int = 16
    # dense_replay: equal epochs that each touch every bucket
    dense_keys: int = 6_400
    dense_epoch_events: int = 20_000
    dense_epochs: int = 24
    dense_buckets: int = 16
    dense_epochs_per_call: int = 4
    drain_timeout_s: float = 60.0


FULL = Scale()
TINY = Scale(
    sparse_keys=2_000, sparse_boot_events=4_000, sparse_tail_epochs=6,
    stream_keys=500, stream_file_events=200, stream_warmup_s=1.0,
    dense_keys=400, dense_epoch_events=1_000, dense_epochs=6, dense_epochs_per_call=2,
)


@dataclass
class Run:
    spark: object
    tmp: str
    data_dir: str
    seed: int
    seconds: float
    scale: Scale
    tracer: object | None = None
    rss: object = None  # callable -> peak RSS in MB

    def path(self, *parts: str) -> str:
        return os.path.join(self.tmp, *parts)

    def span(self, name: str, **attrs):
        if self.tracer is None:
            return contextlib.nullcontext({})
        return self.tracer.span(name, **attrs)


@dataclass
class Outcome:
    """What a workload measured. ``op_s`` holds one latency per operation
    (epoch gap, file freshness, or the suite time); ``gen_s`` is the time
    spent generating inputs, which set-up time leaves out."""

    op_s: list = field(default_factory=list)
    gen_s: float = 0.0
    query_s: float = 0.0
    attempted: int = 0
    failed: int = 0
    window: dict = field(default_factory=dict)
    facts: dict = field(default_factory=dict)
    peak_rss_mb: float = 0.0

    def fail(self, msg: str) -> None:
        self.failed += 1
        log(msg)

    def begin(self, run: Run) -> None:
        self.window["m0"] = time.monotonic()
        self.window["t0"] = time.time()
        self.window["j0"] = _next_job_id(run.spark)

    def end(self, run: Run) -> None:
        self.window["t1"] = time.time()
        self.window["j1"] = _next_job_id(run.spark)
        self.peak_rss_mb = run.rss()


_T0 = time.monotonic()


def log(msg: str) -> None:
    print(f"[perfbench {time.monotonic() - _T0:6.1f}s] {msg}", file=sys.stderr, flush=True)


def _next_job_id(spark) -> int:
    return int(spark.sparkContext._jsc.sc().dagScheduler().nextJobId())


def _events(spark, n_events: int, n_keys: int, seed: int, n_epochs: int = 1):
    ev = synthesize_events(
        spark, n_events=n_events, n_keys=n_keys, n_epochs=n_epochs, seed=seed,
        invalid_frac=0.02,
    )
    return ev.withColumn("content", F.substring("content", 1, CONTENT_MAX))


def _ts(d: dt.datetime) -> float:
    """Manifest timestamps are naive UTC."""
    return d.replace(tzinfo=dt.timezone.utc).timestamp()


def commit_times(warehouse: str, spark) -> dict[int, float]:
    """Epoch -> commit time (the summary row's ``end_ts``), read from the
    manifest's files without a Spark job."""
    import pyarrow.parquet as pq

    m = LakeTable(spark, os.path.join(warehouse, "manifest"))
    out: dict[int, float] = {}
    for rel in m.snapshot().all_files():
        t = pq.read_table(os.path.join(m.root, rel), columns=["epoch", "partition_id", "end_ts"])
        for e, pid, ts in zip(*(t.column(c).to_pylist() for c in ("epoch", "partition_id", "end_ts"))):
            if pid is None:
                out[int(e)] = _ts(ts)
    return out


def table_growth(table: LakeTable, since_version: int) -> tuple[int, int]:
    """(bytes of data files added after ``since_version``, files live now)."""
    hist = {s.version: s for s in table.history()}
    added = 0
    for v in sorted(hist):
        if v <= since_version:
            continue
        parent = hist.get(hist[v].parent)
        before = set(parent.all_files()) if parent else set()
        for rel in set(hist[v].all_files()) - before:
            added += os.path.getsize(os.path.join(table.root, rel))
    return added, len(table.snapshot().all_files())


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, fs in os.walk(path)
        for f in fs
        if f.endswith(".parquet")
    )


# ---------------------------------------------------------------- replays


def _replay_workload(run: Run, name: str, ev, cfg_kwargs: dict, epochs_per_call: int,
                     n_tail: int, queries) -> Outcome:
    """Shared shape of ``sparse_tail`` and ``dense_replay``: epoch 0 is the
    bootstrap and epoch 1 a warm-up; then ``replay()`` is called for
    ``epochs_per_call`` epochs at a time, each call resuming from the
    manifest, until ``run.seconds`` have passed; then the query pass over
    ``queries``. ``n_tail`` counts the epochs after 0."""
    spark = run.spark
    out = Outcome()
    events_dir = run.path(f"{name}_events")
    log(f"{name}: generating inputs")
    t = time.monotonic()
    ev.write.partitionBy("epoch").parquet(events_dir)
    out.gen_s = time.monotonic() - t
    log(f"{name}: generated inputs in {out.gen_s:.1f}s (not a metric)")
    src = EpochSource.from_parquet(spark, events_dir)

    # the bootstrap runs the measured config, so it also warms the measured
    # code paths before the clock starts
    wh = run.path(f"{name}_wh")
    t = time.monotonic()
    R.replay(spark, R.ReplayConfig(warehouse=wh, max_epochs=1, **cfg_kwargs), src)
    log(f"{name}: bootstrap {time.monotonic() - t:.2f}s")
    # epoch 1, untimed: the first small epoch after the bootstrap still runs
    # colder code than the ones after it
    t = time.monotonic()
    R.replay(spark, R.ReplayConfig(warehouse=wh, max_epochs=1, **cfg_kwargs), src)
    log(f"{name}: setup done, warm-up epoch {time.monotonic() - t:.2f}s")

    target = LakeTable(spark, os.path.join(wh, "repo_code"))
    v0 = target.current_version()
    cfg = R.ReplayConfig(warehouse=wh, max_epochs=epochs_per_call, **cfg_kwargs)
    calls: list[float] = []
    out.begin(run)
    deadline = time.monotonic() + run.seconds
    applied = 0
    while time.monotonic() < deadline and applied < n_tail - 1:
        calls.append(time.time())
        try:
            applied += len(R.replay(spark, cfg, src))
        except Exception:
            out.attempted += 1
            out.fail(f"{name}: replay raised\n{traceback.format_exc()}")
            break
    out.end(run)

    log(f"{name}: window done")
    commits = commit_times(wh, spark)
    done = [e for e in range(2, n_tail + 1) if e in commits]
    out.attempted += len(done)
    if done != list(range(2, applied + 2)):
        out.fail(f"{name}: committed epochs {done} != applied 2..{applied + 1}")
    prev = calls[0] if calls else 0.0
    for e in done:
        out.op_s.append(commits[e] - prev)
        prev = commits[e]

    last = max(commits)
    report = R.verify_state(spark, target, R.reference_state(src._df.filter(F.col("epoch") <= last)))
    if not report["equal"]:
        out.fail(
            f"{name}: state differs from reference: missing={report['n_missing']} "
            f"extra={report['n_extra']} mismatched={report['n_mismatched']}"
        )
    log(f"{name}: verified")
    added, live = table_growth(target, v0)
    in_bytes = sum(dir_bytes(os.path.join(events_dir, f"epoch={e}")) for e in done)
    out.facts.update(bytes_added=added, files_live=live, input_bytes=in_bytes, ops=len(done))
    query_pass(run, queries, out)
    return out


def sparse_tail(run: Run) -> Outcome:
    """Tiny epochs of ``sparse_epoch_commits`` commits over a table of
    ``sparse_keys`` keys, with the engine's default ReplayConfig. Every
    epoch has the same number of events, so the seed changes which keys
    (and so which buckets) an epoch touches, not how many events it holds."""
    sc = run.scale
    steps = COMMIT_STEPS * sc.sparse_epoch_commits
    ev = _events(run.spark, sc.sparse_boot_events + steps * sc.sparse_tail_epochs,
                 sc.sparse_keys, run.seed)
    tail = F.floor((F.col("event_seq") - sc.sparse_boot_events) / steps) + 1
    ev = ev.withColumn(
        "epoch", F.when(F.col("event_seq") < sc.sparse_boot_events, 0).otherwise(tail).cast("long")
    )
    return _replay_workload(run, "sparse_tail", ev, {}, 1, sc.sparse_tail_epochs, CDC_QUERIES)


def dense_replay(run: Run) -> Outcome:
    """Equal epochs that each touch every bucket, applied with the fused
    strategy, ``dense_epochs_per_call`` epochs per resumed ``replay()``."""
    sc = run.scale
    ev = _events(
        run.spark, sc.dense_epoch_events * sc.dense_epochs, sc.dense_keys, run.seed,
        n_epochs=sc.dense_epochs,
    )
    cfg = {"num_buckets": sc.dense_buckets, "dedup_strategy": "fused"}
    return _replay_workload(
        run, "dense_replay", ev, cfg, sc.dense_epochs_per_call, sc.dense_epochs - 1, CDC_QUERIES
    )


# ---------------------------------------------------------------- stream


def _wait(pred, timeout_s: float, what: str, poll_s: float = 0.02) -> None:
    deadline = time.monotonic() + timeout_s
    while not pred():
        if time.monotonic() > deadline:
            raise TimeoutError(f"timed out after {timeout_s}s waiting for {what}")
        time.sleep(poll_s)


def _last_epoch(warehouse: str, spark) -> int:
    m = LakeTable(spark, os.path.join(warehouse, "manifest"))
    if not m.exists():
        return -1
    return int(m.snapshot().properties.get("epoch", -1))


def source_log(checkpoint: str) -> dict[str, int]:
    """File name -> micro-batch id, from the file source's metadata log.
    The log compacts every 10 batches into ``N.compact``; entries are read
    from both compacted and plain batch files."""
    import json

    out: dict[str, int] = {}
    d = os.path.join(checkpoint, "sources", "0")
    if not os.path.isdir(d):
        return out
    for name in os.listdir(d):
        if name.startswith(".") or not name.split(".")[0].isdigit():
            continue
        with open(os.path.join(d, name)) as f:
            for line in f.read().splitlines()[1:]:
                if line.strip():
                    e = json.loads(line)
                    out[os.path.basename(e["path"])] = int(e["batchId"])
    return out


def stream_tail(run: Run) -> Outcome:
    """Open loop: pre-written event files are released into the watched
    directory by one thread on a seeded schedule (one file per
    ``stream_interval_s``, each delayed by up to half an interval), while
    ``start_stream`` tails it with the default processing-time trigger. The
    first ``stream_warmup_s`` of releases warm the stream up; the files
    released after that are the measured ones."""
    spark = run.spark
    sc = run.scale
    rng = random.Random(run.seed)
    out = Outcome()
    n_warm = int(round(sc.stream_warmup_s / sc.stream_interval_s))
    n_stream = n_warm + max(2, int(round(run.seconds / sc.stream_interval_s)))
    n_total = n_stream + 1
    staged = run.path("stream_staged")
    log("stream_tail: generating inputs")
    t = time.monotonic()
    ev = _events(spark, n_total * sc.stream_file_events, sc.stream_keys, run.seed)
    ev = ev.withColumn("_f", (F.col("event_seq") / sc.stream_file_events).cast("int"))
    # one task writes every file: no shuffle for a few thousand rows
    ev.coalesce(1).write.partitionBy("_f").parquet(staged)
    files = []
    for i in range(n_total):
        (p,) = glob.glob(os.path.join(staged, f"_f={i}", "*.parquet"))
        files.append(p)
    schema = spark.read.parquet(files[0]).schema
    out.gen_s = time.monotonic() - t
    log(f"stream_tail: generated inputs in {out.gen_s:.1f}s (not a metric)")

    # setup: a fresh stream that has applied one file
    wh, ck, watch = (run.path(f"stream_{x}") for x in ("wh", "ck", "in"))
    os.makedirs(watch)
    cfg = R.ReplayConfig(
        warehouse=wh, num_buckets=sc.stream_buckets, dedup_strategy="fused",
        keep_tombstones=True,
    )
    stream = S.stream_events(spark, watch, schema, STREAM_MAX_FILES_PER_TRIGGER)
    q = S.start_stream(spark, cfg, stream, ck, trigger_once=False)
    os.rename(files[n_stream], os.path.join(watch, "setup.parquet"))
    try:
        _wait(lambda: _last_epoch(wh, spark) >= 0 or q.exception() is not None,
              sc.drain_timeout_s, "the set-up micro-batch")
    except TimeoutError:
        q.stop()
        raise
    log("stream_tail: setup done")

    names = [f"ev-{i:05d}.parquet" for i in range(n_stream)]
    released = [0.0] * n_stream
    try:
        t0 = time.time() + 0.2
        due = [t0 + i * sc.stream_interval_s + rng.uniform(0, sc.stream_interval_s / 2)
               for i in range(n_stream)]

        def release() -> None:
            for i, d in enumerate(due):
                delay = d - time.time()
                if delay > 0:
                    time.sleep(delay)
                os.utime(files[i])
                os.rename(files[i], os.path.join(watch, names[i]))
                released[i] = time.time()

        releaser = threading.Thread(target=release, name="perfbench-release")
        releaser.start()
        time.sleep(max(0.0, due[n_warm] - time.time()))
        out.begin(run)
        releaser.join()
        release_end = time.time()

        def drained() -> bool:
            if q.exception() is not None:
                return True
            mapping = source_log(ck)
            last = _last_epoch(wh, spark)
            return all(n in mapping and mapping[n] <= last for n in names)

        try:
            _wait(drained, sc.drain_timeout_s, "the stream to apply every file", 0.05)
        except TimeoutError as e:
            out.fail(f"stream_tail: {e}")
        out.end(run)
        progress = list(q.recentProgress)
        if q.exception() is not None:
            out.fail(f"stream_tail: stream failed: {q.exception()}")
    finally:
        q.stop()
    log("stream_tail: window done")

    mapping = source_log(ck)
    commits = commit_times(wh, spark)
    commit_of = [commits.get(mapping.get(n, -1)) for n in names]
    if None in commit_of:
        out.fail(f"stream_tail: {commit_of.count(None)} released files never committed")
    timed = range(n_warm, n_stream)
    batches = sorted({mapping[names[i]] for i in timed if names[i] in mapping})
    out.attempted += max(1, len(batches))
    out.op_s = [commit_of[i] - due[i] for i in timed if commit_of[i] is not None]

    target = LakeTable(spark, os.path.join(wh, "repo_code"))
    report = R.verify_state(spark, target, R.reference_state(spark.read.parquet(watch)))
    if not report["equal"]:
        out.fail(
            f"stream_tail: state differs from reference: missing={report['n_missing']} "
            f"extra={report['n_extra']} mismatched={report['n_mismatched']}"
        )
    log("stream_tail: verified")

    late = [r - d for r, d in zip(released, due)]
    committed_at = sorted(c for c in commit_of if c is not None)

    def backlog(at: float) -> int:
        return sum(1 for r in released if r <= at) - sum(1 for c in committed_at if c <= at)

    # gap: a data batch's end to the next data batch's start, counted only
    # while a released file was waiting for it
    runs = sorted(
        (_iso(p["timestamp"]), _iso(p["timestamp"]) + p["durationMs"]["triggerExecution"] / 1000.0)
        for p in progress
        if p["numInputRows"] > 0 and _iso(p["timestamp"]) >= out.window["t0"]
    )
    gaps = [
        b0 - a1 for (_, a1), (b0, _) in zip(runs, runs[1:])
        if any(r <= a1 and c is not None and c > a1 for r, c in zip(released, commit_of))
    ]
    added, live = table_growth(target, 1)
    out.facts.update(
        ops=len(batches),
        bytes_added=added, files_live=live,
        input_bytes=dir_bytes(watch),
        batch_s=[b - a for a, b in runs], gap_s=gaps,
        files_per_batch=[sum(1 for i in timed if mapping.get(names[i]) == b) for b in batches],
        backlog_max=max((backlog(released[i]) for i in timed), default=0),
        backlog_end=backlog(release_end),
        release_late_s_max=max(late),
        generator_behind=int(max(late) > sc.stream_interval_s),
    )
    if out.facts["generator_behind"]:
        log(f"stream_tail: release thread fell behind by {max(late):.3f}s "
            f"(> one {sc.stream_interval_s}s interval)")
    query_pass(run, CONTENT_QUERIES, out)
    return out


def _iso(s: str) -> float:
    return dt.datetime.fromisoformat(s.replace("Z", "+00:00")).timestamp()


# ---------------------------------------------------------------- queries


def _queries():
    import __spark_entry__ as entry

    return entry.queries()


def query_pass(run: Run, names, out: Outcome) -> None:
    """Run ``names`` once each, collecting their rows; ``out.query_s`` is the
    pass's wall time. The rows are then compared with the DuckDB oracle
    digests in golden.json, outside the timed part."""
    import golden
    from wage_etl_spark.operators.caching import release_operator_caches

    qs = _queries()
    results, times = {}, {}
    out.facts["query_j0"] = _next_job_id(run.spark)
    for name in names:
        out.attempted += 1
        try:
            t0 = time.perf_counter()
            with run.span("query.build", query=name):
                df = qs[name](run.spark, run.data_dir)
            t1 = time.perf_counter()
            with run.span("query.exec", query=name):
                results[name] = (df.columns, [tuple(r) for r in df.collect()])
            times[name] = (t1 - t0, time.perf_counter() - t1)
        except Exception:
            out.fail(f"query {name} raised\n{traceback.format_exc()}")
        release_operator_caches()
    out.query_s = sum(b + e for b, e in times.values())
    out.facts["query_times"] = times
    for name, (cols, rows) in results.items():
        problem = golden.check(name, cols, rows)
        if problem:
            out.fail(f"query {name}: {problem}")
    log(f"query pass {out.query_s:.2f}s, checked {len(results)} of {len(names)}")


def query_suite(run: Run) -> Outcome:
    """Passes over every SUITE query, each written to a noop sink, on the
    bundled sf0.001 tables, after the query pass over all of them. The data
    is fixed: the seed changes nothing here."""
    from wage_etl_spark.operators.caching import release_operator_caches

    spark = run.spark
    qs = _queries()
    out = Outcome()

    def one_pass() -> float:
        t0 = time.perf_counter()
        for name in SUITE:
            qs[name](spark, run.data_dir).write.format("noop").mode("overwrite").save()
            release_operator_caches()
        return time.perf_counter() - t0

    query_pass(run, SUITE, out)
    out.begin(run)
    deadline = time.monotonic() + run.seconds
    while time.monotonic() < deadline:
        out.attempted += 1
        try:
            out.op_s.append(one_pass())
        except Exception:
            out.fail(f"query_suite: a pass raised\n{traceback.format_exc()}")
            break
    out.end(run)
    out.facts["ops"] = len(out.op_s)
    return out


WORKLOADS = {
    "sparse_tail": sparse_tail,
    "stream_tail": stream_tail,
    "query_suite": query_suite,
    "dense_replay": dense_replay,
}
