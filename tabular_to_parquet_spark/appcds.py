"""A dynamic AppCDS class archive for the driver JVM (JDK 17, JEP 350).

A cold ``get_spark()`` spends most of its setup loading and verifying
the classes of the Spark jars. A JVM started with
``-XX:ArchiveClassesAtExit=<file>`` writes the classes it loaded into a
class-data archive when it exits; a JVM started with
``-XX:SharedArchiveFile=<file>`` maps that archive instead of parsing
the jars again, which halves the setup of every later launch.

Files under :func:`cache_dir` (mode 0700), for one key of
:func:`archive_key`:

- ``<key>.<pid>.<hex>.part``: what a dumping JVM wrote at exit. It is
  read by no JVM except the ``-Xshare:on`` check of :func:`_adopt`.
- ``<key>.jsa`` and ``<key>.size``: the adopted archive and its byte
  size. A ``.jsa`` whose size differs is never passed to a JVM: a
  truncated archive aborts the JVM with SIGBUS.
- ``<key>.failed``: a dump that failed; the key launches without flags.
- ``conf/``: an empty stand-in for a conf dir that holds only
  ``*.template`` files. JDK 17 refuses to dump when a classpath
  directory is not empty, and Spark puts its conf dir on the classpath.

Whenever something here does not apply (another JDK, a conf dir with
real files, extra classpath entries, CDS flags of the user's, a cache
dir that cannot be written), :func:`plan` returns None and the JVM
launches exactly as it would without this module. Deleting the cache
dir is always safe.
"""

from __future__ import annotations

import atexit
import hashlib
import os
import re
import secrets
import shutil
import signal
import subprocess
import time
from dataclasses import dataclass

#: silence the CDS log lines a mismatched or dumping JVM prints on stdout
LOG_OFF = "-Xlog:cds=off,cds+dynamic=off"
#: java options that already decide class sharing; the user's flags win
_USER_CDS_RE = re.compile(r"-Xshare:|SharedArchiveFile|ArchiveClassesAtExit|UseSharedSpaces")
#: confs and env vars that add java options or classpath entries
_JAVA_OPTION_CONFS = ("spark.driver.defaultJavaOptions", "spark.driver.extraJavaOptions")
_BLOCKING_ENV = (
    "SPARK_CLASSPATH",
    "SPARK_DIST_CLASSPATH",
    "SPARK_PREPEND_CLASSES",
    "SPARK_TESTING",
    "PYSPARK_SUBMIT_ARGS",
)
#: a .part file this old belongs to no launcher that is still waiting
_STALE_PART_S = 3600.0
#: how long a launcher waits for its JVM to exit (a dump takes ~15 s)
EXIT_WAIT_S = 300.0
#: exit statuses of a JVM stopped from outside: SIGKILL, and SIGTERM
#: as Popen reports it or as the JVM's own handler exits (128 + 15)
_KILLED = (-signal.SIGKILL, -signal.SIGTERM, 128 + signal.SIGTERM)


@dataclass
class Launch:
    """The archive flags for one JVM launch."""

    base: str  #: ``<cache dir>/<key>``
    java: str  #: the resolved java binary the key was built from
    options: str  #: for ``spark.driver.defaultJavaOptions``
    conf_dir: str  #: the empty ``SPARK_CONF_DIR`` for the launch
    part: str | None  #: where a dumping JVM writes; None when reading


@dataclass
class _Dump:
    """A JVM launched with ``-XX:ArchiveClassesAtExit``."""

    launch: Launch
    proc: subprocess.Popen
    classpath: str
    module_args: list[str]


#: dumping JVMs of this process, like pyspark's one gateway per process
_pending: list[_Dump] = []


def cache_dir() -> str:
    base = os.environ.get("XDG_CACHE_HOME", "")
    if not os.path.isabs(base):  # the XDG spec ignores relative paths
        base = os.path.join(os.path.expanduser("~"), ".cache")
    return os.path.join(base, "tabular_to_parquet_spark", "cds")


def java_binary() -> str | None:
    """The java that ``spark-class`` runs, with links resolved."""
    home = os.environ.get("JAVA_HOME")
    java = os.path.join(home, "bin", "java") if home else shutil.which("java")
    return os.path.realpath(java) if java and os.path.isfile(java) else None


def jdk_major(java: str) -> int | None:
    """The major version in the JDK's ``release`` file."""
    try:
        with open(os.path.join(os.path.dirname(os.path.dirname(java)), "release"), encoding="utf-8") as fh:
            m = re.search(r'^JAVA_VERSION="(\d+)', fh.read(), re.M)
    except OSError:
        return None
    return int(m.group(1)) if m else None


def archive_key(java: str, spark_home: str) -> str | None:
    """A digest of what the archived classes come from: the java binary
    and its ``lib/modules``, the name, size and mtime of each Spark jar,
    and the pyspark version. None when one of them cannot be read."""
    import pyspark

    jars = os.path.join(spark_home, "jars")
    h = hashlib.sha256(pyspark.__version__.encode())
    try:
        paths = [java, os.path.join(os.path.dirname(os.path.dirname(java)), "lib", "modules")]
        paths += [os.path.join(jars, n) for n in sorted(os.listdir(jars))]
        for p in paths:
            st = os.stat(p)
            h.update(f"\0{p}\0{st.st_size}\0{st.st_mtime_ns}".encode())
    except OSError:
        return None
    return h.hexdigest()[:24]


def templates_only(conf_dir: str) -> bool:
    """True when ``conf_dir`` is missing or holds only ``*.template``
    files, so that Spark reads nothing from it."""
    try:
        return all(n.endswith(".template") for n in os.listdir(conf_dir))
    except FileNotFoundError:
        return True
    except OSError:
        return False


def _nonempty_dir(path: str) -> bool:
    try:
        return bool(os.listdir(path))
    except OSError:
        return False


def _private_dir(path: str) -> bool:
    """Create ``path`` with mode 0700; True when it is this user's own
    directory, writable, and not writable by anyone else."""
    try:
        os.makedirs(path, mode=0o700, exist_ok=True)
        st = os.stat(path)
    except OSError:
        return False
    return st.st_uid == os.getuid() and not st.st_mode & 0o022 and os.access(path, os.W_OK | os.X_OK)


def blocked(confs: dict[str, str], spark_home: str) -> bool:
    """True when the launch may not carry archive flags: the conf dir
    holds real files, the classpath gets entries the key does not cover,
    or the user's java options already decide class sharing."""
    conf_dir = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not templates_only(conf_dir):
        return True
    if any(_nonempty_dir(os.environ.get(v, "")) for v in ("HADOOP_CONF_DIR", "YARN_CONF_DIR")):
        return True
    if any(os.environ.get(v) for v in _BLOCKING_ENV) or "spark.driver.extraClassPath" in confs:
        return True
    options = [confs.get(k, "") for k in _JAVA_OPTION_CONFS]
    options += [os.environ.get(v, "") for v in ("JAVA_TOOL_OPTIONS", "JDK_JAVA_OPTIONS")]
    return any(_USER_CDS_RE.search(o) for o in options)


def archive_intact(base: str) -> bool:
    """True when ``<base>.jsa`` has the size recorded at its adoption."""
    try:
        with open(base + ".size", encoding="ascii") as fh:
            return os.path.getsize(base + ".jsa") == int(fh.read())
    except (OSError, ValueError):
        return False


def _sweep_stale_parts(cache: str) -> None:
    now = time.time()
    for name in os.listdir(cache):
        path = os.path.join(cache, name)
        try:
            if name.endswith(".part") and now - os.path.getmtime(path) > _STALE_PART_S:
                os.remove(path)
        except OSError:
            pass


def plan(confs: dict[str, str]) -> Launch | None:
    """The archive flags for a driver JVM that is about to be launched
    with ``confs``, or None to launch it without them."""
    from pyspark.find_spark_home import _find_spark_home

    spark_home = _find_spark_home()
    java = java_binary()
    if java is None or jdk_major(java) != 17 or blocked(confs, spark_home):
        return None
    cache = cache_dir()
    conf_dir = os.path.join(cache, "conf")
    key = archive_key(java, spark_home)
    if key is None or not _private_dir(cache) or not _private_dir(conf_dir):
        return None
    base = os.path.join(cache, key)
    if os.path.exists(base + ".failed") or _nonempty_dir(conf_dir):
        return None
    _sweep_stale_parts(cache)
    if archive_intact(base):
        return Launch(base, java, f"-XX:SharedArchiveFile={base}.jsa {LOG_OFF}", conf_dir, None)
    part = f"{base}.{os.getpid()}.{secrets.token_hex(4)}.part"
    return Launch(base, java, f"-XX:ArchiveClassesAtExit={part} {LOG_OFF}", conf_dir, part)


def mark_failed(launch: Launch) -> None:
    """Launch ``launch``'s key without archive flags from now on."""
    try:
        with open(launch.base + ".failed", "w", encoding="ascii"):
            pass
    except OSError:
        pass


def started(launch: Launch | None, proc, jvm) -> None:
    """Note a JVM launched with ``launch``: a dumping one is waited for
    and its archive adopted at :func:`adopt_exited` or at exit. Its
    classpath and module flags are read now, for the adoption check."""
    if launch is None or launch.part is None or proc is None:
        return
    runtime = jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
    module_args = [str(a) for a in runtime.getInputArguments() if str(a).startswith("--")]
    classpath = str(jvm.System.getProperty("java.class.path"))
    if not _pending:
        atexit.register(_stop_and_adopt)
    _pending.append(_Dump(launch, proc, classpath, module_args))


def adopt_exited(wait: bool = False) -> None:
    """Adopt or discard the archive of each dumping JVM that has exited
    (with ``wait``, of each one, after waiting for it to exit)."""
    for dump in list(_pending):
        if wait:
            wait_for_exit(dump.proc)
        if dump.proc.poll() is not None:
            _pending.remove(dump)
            _adopt(dump)


def wait_for_exit(proc: subprocess.Popen) -> None:
    """Wait for a JVM to exit; kill it after :data:`EXIT_WAIT_S`."""
    try:
        proc.wait(timeout=EXIT_WAIT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()


def _stop_and_adopt() -> None:
    """At interpreter exit: close each dumping JVM's stdin, which is how
    the gateway learns its launcher is gone (it then exits as it would
    once this process had), wait for its dump and adopt it."""
    for dump in _pending:
        if dump.proc.stdin and not dump.proc.stdin.closed:
            dump.proc.stdin.close()
    adopt_exited(wait=True)


def _adopt(dump: _Dump) -> None:
    """Rename a ``.part`` to ``<key>.jsa`` only when its JVM exited 0
    and a JVM started on it with ``-Xshare:on`` exits 0; delete it
    otherwise, and mark the key failed unless the JVM was killed."""
    part, base = dump.launch.part, dump.launch.base
    code = dump.proc.returncode
    if code == 0 and os.path.isfile(part) and _maps_cleanly(dump):
        try:
            with open(part + ".size", "w", encoding="ascii") as fh:
                fh.write(str(os.path.getsize(part)))
            os.replace(part + ".size", base + ".size")
            os.replace(part, base + ".jsa")
            return
        except OSError:
            pass
    try:
        os.remove(part)
    except OSError:
        pass
    if code not in _KILLED:  # a dump cut short is retried, not marked
        mark_failed(dump.launch)


def _maps_cleanly(dump: _Dump) -> bool:
    """``java -Xshare:on -XX:SharedArchiveFile=<part> -version`` with the
    dumping JVM's classpath and module flags exits 0 (a classpath
    mismatch exits 1, a truncated archive aborts). A crash report goes
    into the cache dir, never into the caller's cwd."""
    cache = os.path.dirname(dump.launch.base)
    err = dump.launch.part + ".hs_err.log"
    cmd = [
        dump.launch.java,
        "-Xshare:on",
        f"-XX:SharedArchiveFile={dump.launch.part}",
        f"-XX:ErrorFile={err}",
        "-XX:-CreateCoredumpOnCrash",
        "-cp",
        dump.classpath,
        *dump.module_args,
        "-version",
    ]
    try:
        return subprocess.run(
            cmd,
            cwd=cache,
            stdin=subprocess.DEVNULL,
            stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL,
            timeout=60,
        ).returncode == 0
    except (OSError, subprocess.SubprocessError):
        return False
    finally:
        if os.path.exists(err):
            os.remove(err)
