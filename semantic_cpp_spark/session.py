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

Class archive. A JVM loads ~19,600 classes before its first query ends,
most of them parsed and verified from the ~250 jars of
``$SPARK_HOME/jars``. When it launches a ``local[…]`` JVM (the gate of
the two settings above), ``get_spark`` binds a JDK 13+ dynamic AppCDS
archive of those classes, kept in the jar's cache dir per key
(``class_archive_key``: the JDK, the heap size, the classpath and every
Spark jar's stamp). The first launch of a key dumps it at JVM exit
(``-XX:ArchiveClassesAtExit``, ~165 MB in ~15 s while the JVM exits); a
later launch checks the dump with ``-Xshare:on`` once its writer JVM is
gone, publishes it by atomic rename, and maps it
(``-XX:SharedArchiveFile``): ~11,000 classes come from the archive, and
a perfbench ``setup_s`` falls 18–35% (SCALING.md "JVM start from a class
archive"). CDS maps an archive only for the exact classpath it was dumped
with, and it cannot share a non-empty directory on it; the launcher puts
the Spark conf dir there, so a conf dir holding only ``*.template`` files
is swapped for an empty one for the launch, and one with real files
(``spark-defaults.conf``, ``log4j2.properties``) skips the archive. The
flags go in ``spark.driver.defaultJavaOptions``, so a caller's
``extraJavaOptions`` still apply. Every CDS log line goes to a per-JVM
file in the cache instead of stdout; a JVM that cannot use its archive
runs unshared and says so only there, so the INFO line's state
(``class_archive_state``) is read from that file. The cache keeps the
``ARCHIVES_KEPT`` most recently used archives and any a live process maps.

Call-site capture. pyspark 4 wraps every classic ``Column`` and
``DataFrame`` method to record the Python file and line that called it:
a ``getActiveSession``, a conf read, ``PySparkCurrentOrigin.set`` and
``clear`` on the JVM, and a Python stack walk per call. Building one pass
of ``bench.py``'s 14 headline queries at sf0.001 sent 11,643 py4j
commands with it, and sends 5,068 without it and with footer-read
density probes (``indexing._density``). ``get_spark`` turns it off
(``spark.python.sql.dataFrameDebugging.enabled=false``) on any master.
The trade: a DataFrame error's context no longer names the Python file
and line of the failing call. Spark still names the failing function
(the fragment, e.g. ``divide``), but the call site it gives is a JVM
reflection frame. pyspark reads the conf once per process
(``pyspark.errors.utils.is_debugging_enabled``) and keeps the answer,
so it is set where the session is constructed, and the first session
that runs a Column method in a process decides it for every later one;
the INFO line says which held. A plain session built without
``get_spark`` keeps pyspark's default, as it does for the codegen cache.
"""

from __future__ import annotations

import fcntl
import glob
import hashlib
import json
import logging
import os
import re
import secrets
import shutil
import subprocess
import tempfile
import zipfile
from collections.abc import Callable
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.errors.utils import is_debugging_enabled
from pyspark.find_spark_home import _find_spark_home
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
_CALL_SITE_KEY = "spark.python.sql.dataFrameDebugging.enabled"
_JOPTS_KEY = "spark.driver.defaultJavaOptions"
# Keys whose engine value and caller value are both kept, joined by this.
_JOINED = {_CP_KEY: os.pathsep, _PYPATH_KEY: os.pathsep, _JOPTS_KEY: " "}
# Class archives kept in the cache, most recently used first (~170 MB each).
ARCHIVES_KEPT = 3
# Dumps of one key that may fail before the key stops dumping.
_DUMP_TRIES = 2


def _jdk_tool(name: str) -> str | None:
    """The JDK tool ``name`` beside the ``java`` Spark's launcher runs
    (``$JAVA_HOME/bin/java``, else ``java`` on PATH)."""
    if os.environ.get("JAVA_HOME"):
        bindir = os.path.join(os.environ["JAVA_HOME"], "bin")
    else:
        java = shutil.which("java")
        if java is None:
            return None
        bindir = os.path.dirname(os.path.realpath(java))
    tool = os.path.join(bindir, name)
    return tool if os.access(tool, os.X_OK) else None


def _cache_dir() -> str:
    return os.path.join(
        os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache"),
        "semantic_cpp_spark",
    )


def nio_fs_jar() -> str | None:
    """Path of the jar holding ``jvm/*.java``, compiled on first use
    against ``$SPARK_HOME/jars``; None when no JDK compiler is found.

    The jar lives in the user cache dir (not the repo, not TMPDIR, which
    callers point at per-run scratch), keyed by the sources, the pyspark
    version and the compiler, and is published with an atomic rename so
    concurrent sessions never load a half-written file."""
    import pyspark

    javac = _jdk_tool("javac")
    if javac is None:
        return None
    sources = sorted(
        os.path.join(_JVM_SRC, f) for f in os.listdir(_JVM_SRC) if f.endswith(".java")
    )
    key = hashlib.sha256(f"{pyspark.__version__}\0{os.path.realpath(javac)}".encode())
    for src in sources:
        with open(src, "rb") as f:
            key.update(f.read())
    cache = _cache_dir()
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


def class_archive_key(java: str, spark_home: str, conf: dict[str, str],
                      conf_dir: str) -> str | None:
    """Cache key of the class archive that a JVM launched by ``java``
    with session conf ``conf`` and Spark conf dir ``conf_dir`` can map;
    None for a JDK before 13, which has no dynamic archives, or when the
    JDK's ``release`` file or the Spark jars cannot be read.

    It covers what the JVM checks before it maps an archive (the JDK
    build, the heap size behind the compressed-oops mode, the classpath:
    ``conf``'s extra classpath, ``conf_dir`` and every jar of
    ``$SPARK_HOME/jars`` by name, size and mtime), so a changed jar or
    JDK makes a new archive instead of retrying a stale one."""
    java = os.path.realpath(java)
    jars = os.path.join(spark_home, "jars")
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), "rb") as f:
            release = f.read()
        stamps = [(n, os.stat(os.path.join(jars, n))) for n in sorted(os.listdir(jars))
                  if n.endswith(".jar")]
    except OSError:
        return None
    major = re.search(rb'^JAVA_VERSION="(\d+)', release, re.M)
    if major is None or int(major.group(1)) < 13:
        return None
    key = hashlib.sha256(release)
    for part in (java, conf.get("spark.driver.memory", ""), conf.get(_CP_KEY, ""), conf_dir):
        key.update(f"\0{part}".encode())
    for name, st in stamps:
        key.update(f"\0{name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return key.hexdigest()[:16]


def _alive(pid: int) -> bool:
    """Whether process ``pid`` runs; an exited, unreaped one does not."""
    if pid <= 0:
        return False
    if os.path.isdir("/proc/self"):
        try:
            with open(f"/proc/{pid}/stat") as f:
                return f.read().rsplit(")", 1)[1].split()[0] != "Z"
        except OSError:
            return False
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _remove(path: str) -> None:
    try:
        os.remove(path)
    except FileNotFoundError:
        pass


def _line_count(path: str) -> int:
    try:
        with open(path) as f:
            return sum(1 for _ in f)
    except FileNotFoundError:
        return 0


def _write_json(path: str, obj: dict) -> None:
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f)
    os.replace(path + ".tmp", path)


def archive_maps(java: str, classpath: str, jvm_args: list[str], archive: str) -> bool:
    """Whether ``java`` with ``jvm_args`` maps ``archive`` for
    ``classpath``. ``-Xshare:on`` makes a JVM that cannot map it fail at
    start instead of running unshared; a truncated archive crashes it,
    and the crash report goes to a temporary directory."""
    with tempfile.TemporaryDirectory() as tmp:
        try:
            r = subprocess.run(
                [java, "-Xshare:on", *jvm_args, f"-XX:SharedArchiveFile={archive}",
                 "-cp", classpath, "-version"],
                cwd=tmp, capture_output=True, timeout=120,
            )
        except (OSError, subprocess.SubprocessError):
            return False
    return r.returncode == 0


def _settle_dumps(cache: str) -> None:
    """Publish each dump whose writer JVM is gone and whose archive maps;
    delete the others and count them against their key."""
    for side in glob.glob(os.path.join(cache, "cds-*.*.json")):
        try:
            with open(side) as f:
                rec = dict(json.load(f))
        except (OSError, ValueError, TypeError):
            rec = {}
        if _alive(rec.get("pid", 0)):
            continue
        part = side[:-len(".json")] + ".part"
        key = os.path.basename(side).split(".")[0]
        done = {"java", "classpath", "jvm_args"} <= rec.keys()
        if done and os.path.exists(part) and archive_maps(
            rec["java"], rec["classpath"], rec["jvm_args"], part
        ):
            os.replace(part, os.path.join(cache, f"{key}.jsa"))
        else:
            _LOG.warning("get_spark: class archive dump %s did not complete or map; "
                         "deleted", part)
            _remove(part)
            with open(os.path.join(cache, f"{key}.failed"), "a") as f:
                f.write(os.path.basename(part) + "\n")
        _remove(side)
    for part in glob.glob(os.path.join(cache, "cds-*.part")):
        if not os.path.exists(part[:-len(".part")] + ".json"):
            _remove(part)


def _mapped_files() -> set[str] | None:
    """Files mapped by a process this user can see; None when unknown."""
    if not os.path.isdir("/proc/self"):
        return None
    mapped = set()
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            with open(f"/proc/{pid}/maps") as f:
                mapped.update(line.split(None, 5)[5].strip() for line in f if ".jsa" in line)
        except (OSError, IndexError):
            continue
    return mapped


def _prune(cache: str) -> None:
    """Keep the ``ARCHIVES_KEPT`` most recently used archives, and any
    other that a live process maps; drop the CDS logs of dead JVMs."""
    archives = sorted(glob.glob(os.path.join(cache, "cds-*.jsa")),
                      key=os.path.getmtime, reverse=True)[ARCHIVES_KEPT:]
    mapped = _mapped_files() if archives else None
    for path in archives:
        if mapped is not None and path not in mapped:
            _remove(path)
    for log in glob.glob(os.path.join(cache, "cds-logs", "*-*.log")):
        pid = log[:-len(".log")].rsplit("-", 1)[1]
        if pid.isdigit() and not _alive(int(pid)):
            _remove(log)


@contextmanager
def _locked(cache: str):
    with open(os.path.join(cache, "cds.lock"), "a") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        yield


def class_archive_conf(
    master: str, jvm_running: bool, conf: dict[str, str], java: str | None,
    spark_home: str, cache: str,
) -> tuple[dict[str, str], dict[str, str], str]:
    """Session conf that launches the JVM with a class-data-sharing
    archive, the environment it launches under, and the reason:
    ``hit`` (map the archive), ``miss`` (dump one at exit), or why there
    is none (``non-local master``, ``existing JVM``, ``conf dir has
    files``, ``no java``, ``no JDK 13+ or Spark jars``, ``cache path
    has a separator``, ``dump in flight``, ``dump failed twice``).

    ``conf`` is the session conf the JVM launches with, ``cache`` the
    directory that holds the archives. Under the cache's lock the call
    settles finished dumps (``_settle_dumps``), touches the archive it
    maps, prunes the cache (``_prune``), or claims the one dump of its
    key in a sidecar that ``get_spark`` completes with the JVM's pid and
    classpath (``_record_dump_writer``)."""
    why = _unbindable(master, jvm_running)
    if why:
        return {}, {}, why
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if any(not n.endswith(".template") for n in
           (os.listdir(conf_dir) if os.path.isdir(conf_dir) else ())):
        return {}, {}, "conf dir has files"
    if java is None:
        return {}, {}, "no java"
    empty = os.path.join(cache, "cds-conf")
    key = class_archive_key(java, spark_home, conf, empty)
    if key is None:
        return {}, {}, "no JDK 13+ or Spark jars"
    if re.search(r"[\s:'\"]", cache):
        return {}, {}, "cache path has a separator"
    token = secrets.token_hex(6)
    try:
        flag, why = _claim_archive(cache, key, token, java)
    except OSError as ex:
        _LOG.warning("get_spark: class archive cache %s unusable: %s", cache, ex)
        return {}, {}, "cache not writable"
    if flag is None:
        return {}, {}, why
    # CDS warnings go to stdout by default (hundreds at a dump): every cds
    # tag goes to a per-JVM file instead, the one record of what mapped.
    log = os.path.join(cache, "cds-logs", f"{token}-%p.log")
    opts = f"{flag} -Xlog:cds*=off -Xlog:cds=info,cds+dynamic=info:file={log}::filecount=0"
    return {_JOPTS_KEY: opts}, {"SPARK_CONF_DIR": empty}, why


def _claim_archive(cache: str, key: str, token: str, java: str) -> tuple[str | None, str]:
    """(JVM flag, reason) for a launch of ``key``: map its archive, or
    claim its one dump; no flag when a dump is in flight or failed twice."""
    os.makedirs(os.path.join(cache, "cds-conf"), exist_ok=True)
    os.makedirs(os.path.join(cache, "cds-logs"), exist_ok=True)
    archive = os.path.join(cache, f"cds-{key}.jsa")
    with _locked(cache):
        _settle_dumps(cache)
        hit = os.path.exists(archive)
        if hit:
            os.utime(archive)  # most recently used: kept by the prune
        _prune(cache)
        if hit:
            return f"-XX:SharedArchiveFile={archive}", "hit"
        if glob.glob(os.path.join(cache, f"cds-{key}.*.json")):
            return None, "dump in flight"
        if _line_count(os.path.join(cache, f"cds-{key}.failed")) >= _DUMP_TRIES:
            return None, "dump failed twice"
        part = os.path.join(cache, f"cds-{key}.{token}.part")
        _write_json(part[:-len(".part")] + ".json", {"pid": os.getpid(), "java": java})
        return f"-XX:ArchiveClassesAtExit={part}", "miss"


def merge_conf(conf: dict[str, str], extra: dict[str, str]) -> dict[str, str]:
    """``conf`` updated by ``extra``; for a key of ``_JOINED`` set in both,
    both values are kept, ``conf``'s first."""
    out = dict(conf)
    for k, v in extra.items():
        out[k] = _JOINED[k].join([out[k], v]) if k in _JOINED and k in out else v
    return out


_ARCHIVE_FLAG = re.compile(r"-XX:(ArchiveClassesAtExit|SharedArchiveFile)=(\S+)")
_CDS_LOG_FLAG = re.compile(r"-Xlog:cds=\S*?:file=([^:\s]+)")


def _record_dump_writer(spark: SparkSession, opts: str, java: str) -> None:
    """Complete the claim of a dump launch with the JVM's pid, classpath
    and heap flags: what ``_settle_dumps`` needs to check the archive."""
    flag = _ARCHIVE_FLAG.search(opts)
    if flag is None or flag.group(1) != "ArchiveClassesAtExit":
        return
    jvm = spark.sparkContext._jvm
    bean = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    _write_json(flag.group(2)[:-len(".part")] + ".json", {
        "pid": bean.getPid(),
        "java": java,
        "classpath": jvm.java.lang.System.getProperty("java.class.path"),
        "jvm_args": [a for a in bean.getInputArguments() if re.match(r"-Xm|-XX:[+-]Use", a)],
    })


def _read_cds_log(text: str, dumping: bool) -> tuple[str, str | None]:
    """(state, why) of a JVM from its CDS log: a mismatched archive is
    unmapped in the log and nowhere else."""
    failed = re.search(r"UseSharedSpaces: (.*?)(?: \(hint|$)|(Unable to use shared archive.*)",
                       text, re.M)
    if failed:
        return "unmapped", failed.group(1) or failed.group(2)
    if dumping:
        ok = re.search(r"Mapped static +region #0", text)
        return ("dumping", None) if ok else ("unmapped", "base archive not mapped")
    ok = "Mapped dynamic region #0" in text
    return ("mapped", None) if ok else ("unmapped", "archive not in the log")


def _archive_state(spark: SparkSession) -> tuple[str, str | None]:
    opts = spark.sparkContext.getConf().get(_JOPTS_KEY, "")
    flag, log = _ARCHIVE_FLAG.search(opts), _CDS_LOG_FLAG.search(opts)
    if flag is None or log is None:
        return "skipped", None
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    try:
        with open(log.group(1).replace("%p", str(pid)), errors="replace") as f:
            text = f.read()
    except OSError:
        return "unmapped", "no CDS log"
    return _read_cds_log(text, flag.group(1) == "ArchiveClassesAtExit")


def class_archive_state(spark: SparkSession) -> str:
    """``mapped``, ``dumping``, ``unmapped`` or ``skipped``: what the
    JVM under ``spark`` did with a class archive, read from its own CDS
    log. ``skipped`` when it was launched without one (a JVM that
    ``get_spark`` did not launch, or one it launched unshared)."""
    return _archive_state(spark)[0]


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
    - A class-data-sharing archive of the Spark classes when this call
      launches a local[…] JVM: the first launch of a JDK and jar set
      dumps it at JVM exit, later ones map it (see the module docstring).
      The INFO line gives ``class archive <state> (<reason>)``, the
      state read from the JVM's own CDS log.
    - No DataFrame call-site capture, on any master: error contexts lose
      the Python file and line, building a query sends about half the
      py4j commands (see the module docstring). The INFO line ends with
      ``call-site capture <on|off>``, the state this process holds.
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
        # No DataFrame call-site capture (module docstring). Set at
        # construction: pyspark caches the conf's value at its first read
        # in the process.
        .config(_CALL_SITE_KEY, "false")
    )
    # Under spark-submit the JVM is up before Python and hands over its
    # gateway port; either way this call's classpath could not apply.
    jvm_running = (
        SparkContext._gateway is not None or "PYSPARK_GATEWAY_PORT" in os.environ
    )
    conf, fs_reason = local_fs_conf(master, jvm_running, nio_fs_jar)
    conf.update(python_daemon_conf(master, jvm_running))
    extra_conf = extra_conf or {}
    java = _jdk_tool("java")
    archive, env, archive_reason = class_archive_conf(
        master, jvm_running,
        merge_conf({"spark.driver.memory": _default_driver_mem(master), **conf},
                   extra_conf),
        java, _find_spark_home(), _cache_dir(),
    )
    for k, v in merge_conf(merge_conf(conf, archive), extra_conf).items():
        builder = builder.config(k, v)
    saved = {k: os.environ.get(k) for k in env}
    os.environ.update(env)
    try:
        spark = builder.getOrCreate()
    finally:
        for k, v in saved.items():
            if v is None:
                os.environ.pop(k, None)
            else:
                os.environ[k] = v
    if archive:
        _record_dump_writer(spark, archive[_JOPTS_KEY], java)
    spark.sparkContext.setLogLevel("WARN")
    bound = spark.sparkContext.getConf()
    state, why = _archive_state(spark)
    _LOG.info(
        "get_spark: local filesystem %s (%s), python worker daemon %s, "
        "codegen cache %s classes, class archive %s (%s), call-site capture %s",
        bound.get(_FS_KEY, STOCK_FS),
        fs_reason,
        bound.get(_DAEMON_KEY, STOCK_DAEMON),
        bound.get(_CODEGEN_CACHE_KEY, str(STOCK_CODEGEN_CACHE_ENTRIES)),
        state,
        why or archive_reason,
        "on" if is_debugging_enabled() else "off",
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


# bit width of each physical integer type a signed column may be stored as
_PARQUET_INT_BITS = {"INT32": 32, "INT64": 64}


def parquet_int_stats(
    files: list[str], column: str, bits: int
) -> tuple[int | None, int | None, int] | None:
    """``(min, max, non-null count)`` of the signed integer column
    ``column`` over the local parquet ``files``, read from their footers
    alone (no Spark job; pyarrow reads a footer in ~1 ms). min and max are
    None when the count is 0. None, so the caller runs its own scan, unless
    in every file the only leaf column whose path matches ``column`` case-
    insensitively is a top-level column of exactly that name, stored as
    INT32/INT64 with no logical type or a signed INT of at most ``bits``
    bits, and every non-empty row group records min, max and a null
    count. Nothing is memoized: the footers are read again on every
    call."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    lo = hi = None
    n = 0
    try:
        for path in files:
            meta = pq.read_metadata(path)
            leaves = [i for i in range(meta.num_columns)
                      if meta.schema.column(i).path.lower() == column.lower()]
            if len(leaves) != 1:
                return None
            leaf = meta.schema.column(leaves[0])
            if leaf.path != column or leaf.name != column:  # nested or other case
                return None
            width = _PARQUET_INT_BITS.get(leaf.physical_type)
            kind = leaf.logical_type.type
            if width and kind == "INT":
                logical = json.loads(leaf.logical_type.to_json())
                width = logical["bitWidth"] if logical["isSigned"] else None
            elif kind != "NONE":
                width = None
            if width is None or width > bits:
                return None
            for g in range(meta.num_row_groups):
                group = meta.row_group(g)
                if group.num_rows == 0:
                    continue
                st = group.column(leaves[0]).statistics
                if st is None or not (st.has_min_max and st.has_null_count):
                    return None
                lo = st.min if lo is None else min(lo, st.min)
                hi = st.max if hi is None else max(hi, st.max)
                n += group.num_rows - st.null_count
    except (OSError, pa.ArrowException):
        return None
    return lo, hi, n


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
