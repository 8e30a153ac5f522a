"""SparkSession factory for the engine.

Local-mode defaults match the driver environment (local[32], single JVM);
on a real cluster the same settings are sane starting points — AQE handles
runtime re-planning, Arrow accelerates the few pandas_udf kernels.

Local filesystem. Without libhadoop, Hadoop's local filesystem forks
``chmod`` for every file and directory it creates and ``readlink`` for
every ``FileContext`` rename, so each streaming micro-batch spawned
~120-370 processes to write its state, offset and commit files.
``get_spark`` swaps in ``NioLocalFileSystem``/``NioLocalFs``
(``jvm/*.java``): the same classes with those two calls done through
``java.nio`` in-process, and nothing else changed (checksums, rename
atomicity, symlink handling). It compiles them once with the ``javac``
next to the JVM Spark runs on and caches the jar per source hash and
pyspark version. The swap is active only when it is safe and possible:
a ``local[…]`` master (driver JVM = executor JVM), a call that launches
the JVM (the jar must be on its classpath), and a JDK compiler.

Python worker daemon. Under the same two conditions (a ``local[…]``
master, whose workers import this checkout, and a JVM launched by the
call) ``get_spark`` runs Python workers under ``pyworker``: the stock
``pyspark.daemon`` minus a per-task re-read of ``pyspark.zip``'s
directory (see that module). The engine's parent directory goes on the
workers' ``PYTHONPATH`` so the daemon does not depend on the JVM's
working directory. Every call logs the filesystem and the daemon in use,
and why, in one INFO line.

Generated-code cache. Whole-stage codegen compiles each operator
pipeline's Java source with Janino and keeps the class in one per-JVM
LRU of ``spark.sql.codegen.cache.maxEntries`` classes, 100 by default.
An LRU under a repeating query mix misses almost every lookup once the
loop's distinct classes exceed it, and none once they fit: one pass of
the 10 perfbench headline queries needs 151 classes, so at 100 it
recompiled 137 of them on every pass and ran them interpreted until the
JIT caught up again. ``get_spark`` sets 4096, which covers the engine's
largest loop, a full registry sweep (~3,200 classes at sf0.001;
``bench.py``'s 14 queries need 238). A retained class costs ~8 KB of
class metadata, so a full cache holds ~32 MB (SCALING.md "Generated code
that stays compiled"). The conf is static, so it binds only when this
call launches the JVM; unlike the two settings above it is not limited
to local masters, since every executor JVM keeps its own cache and
long-lived executors running a repeated mix thrash it the same way. The
INFO line gives the size bound.
"""

from __future__ import annotations

import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
import zipfile
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T


def _default_driver_mem(master: str) -> str:
    """Driver-JVM heap default: 8g, env-overridable via
    SPARK_GRAFT_DRIVER_MEM.

    HISTORY (r15→r16): r15 shipped a RAM/4 [8g,32g] local-mode default
    after one sweep-shaped measurement (a heavy gate at 49.5 s in GC
    thrash at 8g after a pandas-UDF-heavy gate). The r15 driver bench
    then regressed 33% (geomean 0.668) and the r16 A/B on a 128 GiB /
    32-core host reversed the call decisively on bench.py's own
    protocol, SAME session shape, heavy tier included (SCALING.md r16
    table): headline sf0.1 median 14.65 s at 31g vs 8.30 s at 8g;
    heavy tier sf1.0 130.9 s at 31g (txt_lm_perplexity_bands 96.1 s)
    vs 20.9 s at 8g. A huge heap makes young-gen collections sparse
    and tenuring deep, so short-lived per-query garbage from 32
    allocating threads accumulates and late-session queries degrade
    (the 31g baseline's LAST three headline queries ran 3-6× their 8g
    times); a small heap keeps collections frequent and cheap and lets
    the ContextCleaner's weak references actually get processed. A
    session that genuinely needs a bigger heap (huge collected models,
    very large broadcast builds) sets SPARK_GRAFT_DRIVER_MEM
    explicitly — that is a workload property, not a host property, so
    it must not be derived from host RAM."""
    return os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g")


_LOG = logging.getLogger(__name__)

_JVM_SRC = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
NIO_FS = "org.semanticcpp.fs.NioLocalFileSystem"
NIO_AFS = "org.semanticcpp.fs.NioLocalFs"
STOCK_FS = "org.apache.hadoop.fs.LocalFileSystem"
_FS_KEY = "spark.hadoop.fs.file.impl"
_CP_KEY = "spark.driver.extraClassPath"
PY_DAEMON = "semantic_cpp_spark.pyworker"
STOCK_DAEMON = "pyspark.daemon"
_DAEMON_KEY = "spark.python.daemon.module"
_PYPATH_KEY = "spark.executorEnv.PYTHONPATH"
_ENGINE_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
_CODEGEN_CACHE_KEY = "spark.sql.codegen.cache.maxEntries"
# Spark's default; what a JVM this call did not launch keeps.
STOCK_CODEGEN_CACHE_ENTRIES = 100
# Generated classes the JVM keeps compiled; sized in the module docstring.
CODEGEN_CACHE_ENTRIES = 4096


def _javac() -> str | None:
    """The ``javac`` beside the ``java`` Spark's launcher runs
    (``$JAVA_HOME/bin/java``, else ``java`` on PATH)."""
    if os.environ.get("JAVA_HOME"):
        bindir = os.path.join(os.environ["JAVA_HOME"], "bin")
    else:
        java = shutil.which("java")
        if java is None:
            return None
        bindir = os.path.dirname(os.path.realpath(java))
    javac = os.path.join(bindir, "javac")
    return javac if os.access(javac, os.X_OK) else None


def nio_fs_jar() -> str | None:
    """Path of the jar holding ``jvm/*.java``, compiled on first use
    against ``$SPARK_HOME/jars``; None when no JDK compiler is found.

    The jar lives in the user cache dir (not the repo, not TMPDIR, which
    callers point at per-run scratch), keyed by the sources, the pyspark
    version and the compiler, and is published with an atomic rename so
    concurrent sessions never load a half-written file."""
    import pyspark
    from pyspark.find_spark_home import _find_spark_home

    javac = _javac()
    if javac is None:
        return None
    sources = sorted(
        os.path.join(_JVM_SRC, f) for f in os.listdir(_JVM_SRC) if f.endswith(".java")
    )
    key = hashlib.sha256(f"{pyspark.__version__}\0{os.path.realpath(javac)}".encode())
    for src in sources:
        with open(src, "rb") as f:
            key.update(f.read())
    cache = os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "semantic_cpp_spark",
    )
    jar = os.path.join(cache, f"nio-localfs-{key.hexdigest()[:16]}.jar")
    if os.path.exists(jar):
        return jar
    os.makedirs(cache, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=cache) as tmp:
        classes = os.path.join(tmp, "classes")
        subprocess.run(
            [javac, "-nowarn", "-proc:none", "-d", classes,
             "-cp", os.path.join(_find_spark_home(), "jars", "*"), *sources],
            check=True, capture_output=True, text=True, timeout=300,
        )
        part = os.path.join(tmp, "part.jar")
        with zipfile.ZipFile(part, "w") as z:
            for root, _, files in os.walk(classes):
                for name in files:
                    path = os.path.join(root, name)
                    z.write(path, os.path.relpath(path, classes))
        os.replace(part, jar)
    return jar


def _unbindable(master: str, jvm_running: bool) -> str | None:
    """Why this call cannot bind engine code into the JVM it runs on
    (``non-local master`` or ``existing JVM``); None when it can."""
    if not (master == "local" or master.startswith("local[")):
        return "non-local master"
    if jvm_running:
        return "existing JVM"
    return None


def local_fs_conf(
    master: str, jvm_running: bool, jar: Callable[[], str | None]
) -> tuple[dict[str, str], str]:
    """Session conf that binds the fork-free local filesystem, and the
    reason it is or is not bound: ``active``, ``non-local master``,
    ``existing JVM``, ``javac unavailable`` or ``jar build failed``.
    ``jar`` is only called when the first two checks pass."""
    why = _unbindable(master, jvm_running)
    if why:
        return {}, why
    try:
        path = jar()
    except (OSError, subprocess.SubprocessError) as ex:
        detail = getattr(ex, "stderr", None) or ex
        _LOG.warning("get_spark: building the local filesystem jar failed: %s", detail)
        return {}, "jar build failed"
    if path is None:
        return {}, "javac unavailable"
    return {
        _CP_KEY: path,
        _FS_KEY: NIO_FS,
        "spark.hadoop.fs.AbstractFileSystem.file.impl": NIO_AFS,
    }, "active"


def python_daemon_conf(master: str, jvm_running: bool) -> dict[str, str]:
    """Session conf that runs Python workers under ``pyworker``, behind
    the same gate as ``local_fs_conf``."""
    if _unbindable(master, jvm_running):
        return {}
    return {_DAEMON_KEY: PY_DAEMON, _PYPATH_KEY: _ENGINE_ROOT}


def get_spark(
    app_name: str = "semantic_cpp_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for this engine.

    Defaults:
    - AQE on (runtime coalesce / skew-join handling — the scale path).
    - shuffle.partitions ~= cores locally; on a cluster leave to AQE.
    - Arrow on for pandas_udf kernels (FFT, gradient, multimodal).
    - UTC session timezone so timestamps hash-match the DuckDB oracle.
    - Fork-free local filesystem and the ``pyworker`` Python daemon when
      this call launches a local[…] JVM (see the module docstring);
      logged at INFO either way.
    - A generated-code cache of ``CODEGEN_CACHE_ENTRIES`` (4096) classes,
      on any master, when this call launches the JVM: it is a static conf,
      so a reused JVM keeps the size it was started with (Spark's default
      is 100). Sized to cover a full registry sweep's ~3,200 classes, at
      ~8 KB of class metadata each; see the module docstring. The INFO
      line gives the bound size.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.driver.memory", _default_driver_mem(master))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # Fixture generations have stored events.ts as either parquet
        # TIMESTAMP(NANOS) (Spark can only surface that as LongType
        # epoch-nanos) or TIMESTAMP(MICROS) (read natively as
        # TIMESTAMP_NTZ). Keep the nanos escape hatch on and dispatch on
        # the observed dtype via ts_micros()/event_time_col().
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Reference charset semantics (charsequence.h:265-495): invalid
        # bytes decode to U+FFFD, unmappable chars encode to '?'. Spark 4's
        # default is ANSI-strict (MALFORMED_CHARACTER_CODING throw) —
        # hostile-byte fuzzing exposed this (r6); REPLACE restores the
        # reference's policy. Pinned by tests/test_charsets_hypothesis.py.
        .config("spark.sql.legacy.codingErrorAction", "true")
        .config(_CODEGEN_CACHE_KEY, str(CODEGEN_CACHE_ENTRIES))
    )
    # Under spark-submit the JVM is up before Python and hands over its
    # gateway port; either way this call's classpath could not apply.
    jvm_running = (
        SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    )
    conf, fs_reason = local_fs_conf(master, jvm_running, nio_fs_jar)
    conf.update(python_daemon_conf(master, jvm_running))
    for k, v in (extra_conf or {}).items():
        if k in (_CP_KEY, _PYPATH_KEY) and k in conf:
            v = os.pathsep.join([conf[k], v])
        conf[k] = v
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    bound = spark.sparkContext.getConf()
    _LOG.info(
        "get_spark: local filesystem %s (%s), python worker daemon %s, "
        "codegen cache %s classes",
        bound.get(_FS_KEY, STOCK_FS),
        fs_reason,
        bound.get(_DAEMON_KEY, STOCK_DAEMON),
        bound.get(_CODEGEN_CACHE_KEY, str(STOCK_CODEGEN_CACHE_ENTRIES)),
    )
    # ADVICE r15: builder confs only take effect when THIS call launches
    # the JVM; getOrCreate against a pre-existing session silently keeps
    # its heap. Surface the mismatch so a heap-sensitive run (bench,
    # heavy gates) can't mis-measure silently.
    try:
        requested = _default_driver_mem(master)
        actual = spark.conf.get("spark.driver.memory", None)
        if actual is not None and actual != requested:
            import warnings

            warnings.warn(
                f"get_spark: reused existing SparkSession with "
                f"spark.driver.memory={actual} (requested {requested}); "
                "driver heap is fixed at JVM launch",
                RuntimeWarning,
                stacklevel=2,
            )
    except Exception:
        pass
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Generated classes Janino has compiled in this JVM so far (Spark's
    ``CodegenMetrics``): a codegen-cache miss adds one, a hit none."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def load_table(spark: SparkSession, sf_dir: str, name: str):
    """Load one fixture table (TESTDATA.md) as a DataFrame.

    SESSION-GLOBAL SIDE EFFECT (deliberate, ADVICE r5): this sets
    ``spark.sql.legacy.parquet.nanosAsLong=true`` and
    ``spark.sql.session.timeZone=UTC`` on the CALLER's session — not just
    for the loaded table but for everything that session runs afterwards.
    Both are engine invariants, not per-table tweaks: the driver invokes
    our queries with its own SparkSession, where (a) a TIMESTAMP(NANOS)
    events.ts is rejected by Spark's reader without the nanos conf
    (probe-verified), and (b) a non-UTC session would silently shift every
    NTZ→TIMESTAMP cast relative to the DuckDB oracle's naive epoch. Every
    query in this engine requires both settings, so the loader — the one
    choke point every registered query passes through — pins them. A
    caller embedding this engine in a session that needs a different
    timezone should run engine queries on a separate SparkSession
    (``get_spark()``), which sets the same confs at construction time.
    """
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    # Pin UTC on the caller's session too (ADVICE r4): the NTZ branch of
    # ts_micros casts TIMESTAMP_NTZ -> TIMESTAMP, which reads the wall-clock
    # in the SESSION timezone — on a non-UTC driver session every timestamp
    # would silently shift vs the DuckDB oracle's naive epoch.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    # U+FFFD replacement on invalid charset input (see get_spark) — the
    # reference's decode policy must hold on the driver's session too.
    spark.conf.set("spark.sql.legacy.codingErrorAction", "true")
    return read_parquet(spark, os.path.join(sf_dir, f"{name}.parquet"))


# Session confs that change the schema Spark infers from parquet footers.
_PARQUET_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
    "spark.sql.caseSensitive",
)
# inferred parquet schemas: (abspath, file stamps, conf values) -> StructType
_SCHEMA_MEMO: dict[tuple, T.StructType] = {}
_SCHEMA_MEMO_MAX = 256


def _file_stamps(path: str) -> tuple | None:
    """``(relative path, size, mtime_ns, inode)`` of every file at or
    under ``path``, sorted; None when something there cannot be stat'ed
    (a missing or non-local path)."""

    def stamp(p: str) -> tuple:
        st = os.stat(p)
        return (os.path.relpath(p, path), st.st_size, st.st_mtime_ns, st.st_ino)

    def fail(err: OSError):
        raise err

    try:
        if not os.path.isdir(path):
            return (stamp(path),)
        return tuple(sorted(
            stamp(os.path.join(d, f))
            for d, _, files in os.walk(path, onerror=fail)
            for f in files
        ))
    except OSError:
        return None


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    set. Inference is a Spark job (a footer read per file); the inferred
    ``StructType`` is memoized under the absolute path, every data file's
    ``(size, mtime_ns, inode)`` and the inference confs of ``spark``, and
    a hit reads with ``.schema(...)``: no job, the same schema. A path
    that cannot be stat'ed is read without the memo. The memo describes
    files, not data, so ``indexing.release_ordinal_caches`` keeps it.
    Logs one DEBUG record per call; its ``decision`` attribute says
    ``hit``, ``miss`` or ``unstamped``."""
    full = os.path.abspath(path)
    stamps = _file_stamps(full)
    key = None
    if stamps is not None:
        key = (full, stamps, tuple(spark.conf.get(k, None) for k in _PARQUET_SCHEMA_CONFS))
    schema = _SCHEMA_MEMO.get(key) if key else None
    memo = "unstamped" if key is None else ("miss" if schema is None else "hit")
    _LOG.debug("read_parquet schema memo %s: %s", memo, path,
               extra={"decision": {"memo": memo, "path": path}})
    if schema is not None:
        return spark.read.schema(schema).parquet(path)
    df = spark.read.parquet(path)
    if key is not None:
        if len(_SCHEMA_MEMO) >= _SCHEMA_MEMO_MAX:
            _SCHEMA_MEMO.pop(next(iter(_SCHEMA_MEMO)))
        _SCHEMA_MEMO[key] = df.schema
    return df


def ts_micros(df: DataFrame, col: str = "ts") -> Column:
    """Integer epoch-microseconds from a fixture timestamp column,
    dispatching on the column's observed dtype.

    Fixture generations differ: TIMESTAMP(NANOS) parquet surfaces in
    Spark as LongType epoch-nanos (via nanosAsLong), TIMESTAMP(MICROS)
    as TIMESTAMP_NTZ. Both reduce to the same int64 epoch-micros that the
    DuckDB oracle computes with ``epoch_ns(ts) // 1000``:

    - long nanos: integer ``div 1000`` (NOT float division — epoch nanos
      ~1.7e18 exceed double's 2^53 mantissa, so ``/`` corrupts the low
      microseconds);
    - timestamp / timestamp_ntz: ``unix_micros`` after a cast to
      TIMESTAMP, exact because the session timezone is pinned to UTC so
      the NTZ wall-clock IS the UTC instant (matching DuckDB's naive
      epoch).

    Integer micros (never the raw timestamp) are the engine's event-time
    currency: all window/gap/as-of arithmetic stays in int64, immune to
    calendar/timezone semantics and exact at any scale.
    """
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.expr(f"{col} div 1000")
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.unix_micros(F.col(col).cast("timestamp"))
    raise TypeError(f"unsupported fixture time dtype for {col!r}: {dt}")


def event_time_col(df: DataFrame, col: str = "ts") -> Column:
    """TIMESTAMP event-time from a fixture time column (see ts_micros for
    the dtype dispatch). Used where Spark needs a real TimestampType —
    watermarks, window()/session_window() — rather than int64 micros."""
    dt = df.schema[col].dataType
    if isinstance(dt, T.LongType):
        return F.timestamp_micros(F.expr(f"{col} div 1000"))
    if isinstance(dt, (T.TimestampType, T.TimestampNTZType)):
        return F.col(col).cast("timestamp")
    raise TypeError(f"unsupported fixture time dtype for {col!r}: {dt}")
