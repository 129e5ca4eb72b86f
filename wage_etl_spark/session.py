"""SparkSession factory tuned for the CDC merge-apply workload.

Scale rationale (designed for a 1000-executor cluster, tested on local[N]):

- AQE on: runtime coalescing of shuffle partitions + skew-join splitting —
  hot-repo event bursts (see sources/synth.py) produce skewed shuffle
  partitions that AQE re-splits.
- shuffle.partitions defaults to 2x cores locally; on a real cluster this is
  set per-job from input size (events_per_epoch / target_partition_rows).
- Arrow enabled: every Python-side stage is an Arrow-batched pandas UDF,
  never per-row Python (north-rule requirement; the reference's known scalar
  bottleneck was its per-row Pydantic loop, pandas_ops.py:108-121).
- Fork-free ``file:`` filesystem (local masters): without libhadoop
  (``NativeIO.isAvailable()`` false, the pip pyspark case), Hadoop's
  ``RawLocalFileSystem.setPermission`` forks ``chmod`` for every data file,
  ``.crc`` sidecar and directory a write creates, and every ``FileContext``
  rename forks ``readlink``. A JFR trace of perfbench ``stream_tail``
  (seed 1) counted 1,406 child processes, ~63 per micro-batch: 997 in
  executor write tasks, 304 in the stream's checkpoint log, 81 in
  ``FileOutputCommitter`` job setup/commit; each ``setPermission`` cost
  3.0-3.8 ms. ``jvm/NioLocalFileSystem.java`` answers both calls from
  ``java.nio.file`` (same mode bits, same symlink answers, ``.crc`` still
  written and verified); ``local_fs_jar`` builds it once per machine.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import subprocess
import tempfile
import warnings
import zipfile
from pathlib import Path

import pyspark
from pyspark.sql import SparkSession

_FS_SOURCE = Path(__file__).with_name("jvm") / "NioLocalFileSystem.java"
_FS_CLASS = "wage_etl_spark.jvm.NioLocalFileSystem"


def local_fs_jar(cache_dir: str | None = None) -> str | None:
    """Path of the compiled fork-free ``file:`` filesystem jar, built with
    the installed ``javac`` on first use. The jar lives outside the checkout
    (``cache_dir``, default ``$XDG_CACHE_HOME/wage_etl_spark`` or
    ``~/.cache/wage_etl_spark``), named by the sha256 of the source and the
    Hadoop jar it compiles against, so a later process finds it without
    ``javac``. The build writes into a private temp dir and renames the jar
    into place, so concurrent first builds cannot leave a torn jar. Returns
    None, with one warning, when there is no JDK or the build fails."""
    jars = Path(pyspark.__file__).parent / "jars"
    cache = cache_dir or os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"), "wage_etl_spark"
    )
    try:
        hadoop = sorted(p.name for p in jars.glob("hadoop-client-api-*.jar"))
        key = hashlib.sha256(_FS_SOURCE.read_bytes() + "\n".join(hadoop).encode()).hexdigest()
        jar = os.path.join(cache, f"nio-local-fs-{key[:16]}.jar")
        if os.path.isfile(jar):
            return jar
        home = os.environ.get("JAVA_HOME")
        javac = os.path.join(home, "bin", "javac") if home else None
        if not (javac and os.access(javac, os.X_OK)):
            javac = shutil.which("javac")
        if javac is None:
            raise OSError("no javac found")
        os.makedirs(cache, exist_ok=True)
        with tempfile.TemporaryDirectory(dir=cache, prefix=".build-") as tmp:
            out = subprocess.run(
                [javac, "--release", "8", "-nowarn", "-cp", str(jars / "*"), "-d", tmp, str(_FS_SOURCE)],
                capture_output=True,
                text=True,
            )
            if out.returncode != 0:
                raise OSError(f"javac failed: {out.stderr.strip()}")
            part = os.path.join(tmp, "part.jar")
            with zipfile.ZipFile(part, "w") as z:
                for cls in sorted(Path(tmp).rglob("*.class")):
                    z.write(cls, cls.relative_to(tmp).as_posix())
            os.replace(part, jar)
        return jar
    except OSError as e:
        warnings.warn(f"stock file: filesystem, which forks chmod per written file: {e}")
        return None


def get_spark(
    app_name: str = "wage-etl-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession.

    ``master`` defaults to ``local[$SPARK_GRAFT_CPUS]`` (env, default 32).
    ``shuffle_partitions`` defaults to 2x the local core count so the LWW
    argmax aggregation and the merge join both get map-side partials without
    tiny-partition overhead. A ``local`` master gets the fork-free ``file:``
    filesystem (module docstring); its jar is prepended to any
    ``extraClassPath`` in ``extra_conf``.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    if master is None:
        master = f"local[{cpus}]"
    if shuffle_partitions is None:
        # local[N] / local[*] -> N partitions-per-core heuristic
        inner = master[master.find("[") + 1 : master.rfind("]")] if "[" in master else str(cpus)
        cores = cpus if inner == "*" else int(inner)
        shuffle_partitions = max(2 * cores, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # coalesce post-shuffle partitions by ADVISORY BYTES, not up to the
        # core count (guide §2.2: size partitions 100 MB-1 GB and let AQE
        # coalesce): with parallelismFirst (the Spark default) a KB-sized
        # shuffle still fans out to ~defaultParallelism reducers, so every
        # AQE stage of a small query pays ~64 task launches for microseconds
        # of work each. Advisory sizing is the scale policy, not a local
        # tune: big shuffles still get bytes/advisory reducers.
        .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
        # let AQE re-optimize (and coalesce) INSIDE persisted plans too: the
        # LSH/ANN operators persist small intermediates, and with this off
        # every cache-build shuffle keeps all spark.sql.shuffle.partitions
        # reducers no matter how few bytes it carries
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", str(64 * 1024 * 1024))
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # prefer shuffled-hash over sort-merge when a side's per-partition
        # build fits (optimization guide §3.1/§9): drops the two Sorts every
        # equi-join otherwise pays; join RESULTS are identical. The AQE
        # threshold additionally converts planned SMJs at runtime only when
        # every post-shuffle partition is small enough to hash-build, so the
        # choice is sized by the data, not by local-mode assumptions.
        .config("spark.sql.join.preferSortMergeJoin", "false")
        .config(
            "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
            str(128 * 1024 * 1024),
        )
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.files.maxPartitionBytes", str(128 * 1024 * 1024))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
        .config("spark.sql.session.timeZone", "UTC")
        # deterministic parquet output (no task-attempt suffixed duplicates)
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        .config("spark.ui.enabled", "false")
    )
    conf = dict(extra_conf or {})
    jar = local_fs_jar() if master.startswith("local") else None
    if jar:
        for k in ("spark.driver.extraClassPath", "spark.executor.extraClassPath"):
            conf[k] = os.pathsep.join(p for p in (jar, conf.get(k)) if p)
        conf["spark.hadoop.fs.file.impl"] = _FS_CLASS
        conf["spark.hadoop.fs.AbstractFileSystem.file.impl"] = _FS_CLASS + "$Fs"
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
