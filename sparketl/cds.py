"""Class-data sharing for the driver JVM.

Before its first query the driver JVM parses and verifies about 5,000
classes from Spark's ~290 jars, which is most of a fresh process's
start-up.  A dynamic AppCDS archive holds those classes already parsed
and verified; a JVM started from it maps them instead.

One archive per host and install lives at
``$XDG_CACHE_HOME/sparketl/cds/<key>.jsa`` (default
``~/.cache/sparketl/cds/``), 130-210 MB each.  ``<key>`` hashes
``java.home``, the JDK version, the Spark install's real path, the conf
directory the JVM launches with (below), and the name, size and mtime
of every jar under ``$SPARK_HOME/jars`` (stat only), so a new JDK or
Spark install gets a new archive.  A JVM maps an archive only on the
class path it was recorded under, and that class path starts with the
conf directory: a cache copied under another ``XDG_CACHE_HOME`` holds
an archive no JVM launched from the copy could map, so the copy
records its own.  ``rm -rf ~/.cache/sparketl`` resets it.

The archive's life:

* **record**: a JVM that starts while no archive exists and no other
  process holds ``<key>.lock`` takes the lock (``O_CREAT|O_EXCL``, the
  JVM's pid and ``java.class.path`` inside) and runs with
  ``-XX:ArchiveClassesAtExit=<key>.<pid>.part``.  It starts ~3 s slower
  and spends 10-15 s at exit writing the file.  A JDK without a base CDS
  archive refuses to start so; the session then starts without CDS.
* **promote**: a later start that finds the lock's pid dead checks each
  ``.part`` with ``java -Xshare:on ... -version`` under the recorder's
  class path (a truncated archive aborts the JVM that maps it) and
  ``os.replace``\\ s a good one to ``<key>.jsa``; bad ones are deleted and
  the lock with them, so the key can be recorded again.  A dead lock
  with no ``.part`` (the recorder was killed before it wrote one, or its
  session failed to start) is deleted too.  Only a JDK that refused to
  record marks its lock ``refused``; that lock stays, and the key is not
  recorded again.
* **use**: ``-XX:SharedArchiveFile=<key>.jsa``.

A JVM that will not start with these options is started again without
them.  Only when that second start succeeds were the options the cause:
a refused recording then marks its lock, and a refused archive (damaged
after it was published) is deleted.  When the second start fails too,
its error is raised; the archive stays, and a recorder's lock, unmarked,
is deleted by a start after this process has gone.

Only a driver JVM that ``session.get_spark`` launches gets the archive:
``bench.py``, ``perfbench/run.py``, ``scripts/`` and the test suite.  A
session the caller built (the driver contract in ``__spark_entry__.py``)
or a JVM already running (``spark-submit`` sets ``PYSPARK_GATEWAY_PORT``)
is used as it is.

Races between processes cost at most a second recording, never a bad
archive: every ``.part`` has its own name and is checked before it is
published with one ``os.replace``.

CDS refuses a non-empty directory on the class path, and Spark's
launcher puts ``$SPARK_CONF_DIR`` there.  When that directory is missing
or holds only ``*.template`` files (a stock install), the JVM starts
with ``SPARK_CONF_DIR`` pointed at the empty ``<cache>/conf/``, which
changes nothing Spark reads.  A conf directory holding any real file
gets no archive.  ``-Xlog:cds*`` goes to a file beside the archive, not
to standard output: ``<key>.record.log`` for the recording JVM (its
dump errors included), ``<key>.log`` for the JVMs that use the archive.
HotSpot truncates a log file each time a JVM opens it, so the two
names keep the recording's log past the sessions that follow it.
"""

from __future__ import annotations

import contextlib
import glob
import hashlib
import os
import shlex
import shutil
import subprocess
from collections.abc import Callable

from pyspark import SparkContext
from pyspark.errors import PySparkRuntimeError
from pyspark.sql import SparkSession

#: The second line of a lock whose JDK refused to record.
_REFUSED = "refused"


def _cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME") or os.path.expanduser("~/.cache")
    return os.path.join(base, "sparketl")


def _java_home() -> str | None:
    """The JDK Spark's launcher runs: ``$JAVA_HOME``, else ``java`` on
    the PATH."""
    if os.environ.get("JAVA_HOME"):
        return os.environ["JAVA_HOME"]
    java = shutil.which("java")
    return os.path.dirname(os.path.dirname(os.path.realpath(java))) if java else None


def _key(java_home: str, spark_home: str, conf: str) -> str:
    """The archive's name: the JDK, the Spark install and every jar in
    it by stat, and ``conf``, the head of the launch class path."""
    h = hashlib.sha256(os.path.realpath(java_home).encode())
    h.update(f"\0{os.path.realpath(spark_home)}\0{conf}".encode())
    with contextlib.suppress(FileNotFoundError):
        with open(os.path.join(java_home, "release")) as f:
            h.update(f.read().encode())  # JAVA_RUNTIME_VERSION and friends
    for e in sorted(os.scandir(os.path.join(spark_home, "jars")), key=lambda e: e.name):
        st = e.stat()
        h.update(f"\0{e.name}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    return h.hexdigest()[:16]


def _conf_dir_is_stock(spark_home: str) -> bool:
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    try:
        return all(name.endswith(".template") for name in os.listdir(conf))
    except FileNotFoundError:
        return True


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:  # alive, and another user's
        pass
    return True


def _read_lock(lock: str) -> tuple[int | None, str | None]:
    """The lock's pid (``None`` while its writer has not filled it in)
    and the recorder's class path (``None`` until its JVM started), or
    ``_REFUSED``."""
    with open(lock) as f:
        lines = f.read().split("\n", 1)
    pid = int(lines[0]) if lines[0].isdigit() else None
    return pid, (lines[1] if len(lines) > 1 else None)


def _write_lock(lock: str, text: str) -> None:
    tmp = f"{lock}.{os.getpid()}.tmp"
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, lock)


def _maps(java: str, archive: str, class_path: str) -> bool:
    """True when a JVM on ``class_path`` maps ``archive`` and runs."""
    try:
        proc = subprocess.run(
            [
                java,
                "-Xshare:on",
                f"-XX:SharedArchiveFile={archive}",
                "--add-modules=jdk.incubator.vector",
                f"-XX:ErrorFile={os.devnull}",
                "-XX:-CreateCoredumpOnCrash",
                "-cp",
                class_path,
                "-version",
            ],
            capture_output=True,
            timeout=120,
        )
    except (OSError, subprocess.TimeoutExpired):
        return False
    return proc.returncode == 0


def _promote(stem: str, java: str) -> None:
    """Publish (or discard) what a finished recorder of the key at
    ``stem`` (``<cds dir>/<key>``) left."""
    lock = f"{stem}.lock"
    try:
        pid, class_path = _read_lock(lock)
    except FileNotFoundError:
        return
    if pid is None or _alive(pid):
        return
    parts = glob.glob(f"{glob.escape(stem)}.*.part")
    if not parts:
        if class_path != _REFUSED:  # the recorder died before it wrote: record again
            with contextlib.suppress(FileNotFoundError):
                os.unlink(lock)
        return
    jsa = f"{stem}.jsa"
    for part in parts:
        with contextlib.suppress(FileNotFoundError):  # another process got it
            if class_path and not os.path.exists(jsa) and _maps(java, part, class_path):
                os.replace(part, jsa)
            else:
                os.unlink(part)
    with contextlib.suppress(FileNotFoundError):
        os.unlink(lock)


def _take_lock(lock: str) -> bool:
    try:
        fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY, 0o644)
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(str(os.getpid()))
    return True


def _plan() -> tuple[list[str], str, str, bool] | None:
    """(JVM options, ``SPARK_CONF_DIR`` to launch with, the key's path
    stem ``<cds dir>/<key>``, whether this launch records), or ``None``
    for a launch without CDS."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java_home = _java_home()
    cache = _cache_dir()
    # the conf dir goes on a ':'-separated class path, the log path into -Xlog
    if not java_home or os.pathsep in cache or not _conf_dir_is_stock(spark_home):
        return None
    cds = os.path.join(cache, "cds")
    conf = os.path.join(cache, "conf")
    os.makedirs(cds, exist_ok=True)
    os.makedirs(conf, exist_ok=True)
    stem = os.path.join(cds, _key(java_home, spark_home, conf))

    def log(path: str) -> list[str]:
        return [f"-Xlog:cds*=warning:file={path}::filecount=0", "-Xlog:cds*=off:stdout"]

    if not os.path.exists(f"{stem}.jsa"):
        _promote(stem, os.path.join(java_home, "bin", "java"))
    if os.path.exists(f"{stem}.jsa"):
        return [f"-XX:SharedArchiveFile={stem}.jsa", *log(f"{stem}.log")], conf, stem, False
    if _take_lock(f"{stem}.lock"):
        part = f"{stem}.{os.getpid()}.part"
        return [f"-XX:ArchiveClassesAtExit={part}", *log(f"{stem}.record.log")], conf, stem, True
    return None  # another process records this key, or it cannot


def start_driver(start: Callable[[str], SparkSession]) -> SparkSession:
    """``start(java_options)``, where ``start`` may launch the driver JVM
    and ``java_options`` (``""`` when none) go on the end of
    ``spark.driver.extraJavaOptions``.  ``SPARK_CONF_DIR`` is set for the
    launch and restored afterwards.  A JVM that refuses the options (a
    JDK without a base archive cannot record; an archive damaged after
    it was published aborts the JVM) is started again without them."""
    plan = None
    if SparkContext._gateway is None and "PYSPARK_GATEWAY_PORT" not in os.environ:
        with contextlib.suppress(OSError):  # an unwritable cache: start as before
            plan = _plan()
    if plan is None:
        return start("")
    options, conf, stem, records = plan
    old = os.environ.get("SPARK_CONF_DIR")
    os.environ["SPARK_CONF_DIR"] = conf
    try:
        result = start(shlex.join(options))
    except PySparkRuntimeError as e:
        if e.getCondition() != "JAVA_GATEWAY_EXITED":
            raise
        result = None
    finally:
        if old is None:
            del os.environ["SPARK_CONF_DIR"]
        else:
            os.environ["SPARK_CONF_DIR"] = old
    if result is None:
        # raises when the JVM will not start without the options either:
        # they were not the cause, so the cache stays as it is
        result = start("")
        with contextlib.suppress(OSError):
            if records:
                _write_lock(f"{stem}.lock", f"{os.getpid()}\n{_REFUSED}")
            else:
                os.unlink(f"{stem}.jsa")
        return result
    if records:
        # the JVM writes the archive when it exits, after this process
        # may have gone: the lock names the JVM from here on
        jvm = SparkContext._jvm
        pid = getattr(jvm, "java.lang.ProcessHandle").current().pid()
        class_path = getattr(jvm, "java.lang.System").getProperty("java.class.path")
        with contextlib.suppress(OSError):  # a full disk: the session is up all the same
            _write_lock(f"{stem}.lock", f"{pid}\n{class_path}")
    return result
