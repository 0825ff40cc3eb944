"""The driver JVM's class archive (``appcds``): its key, its adoption
guard, the launches it stays out of, and two end-to-end launches from an
empty cache."""

from __future__ import annotations

import os
import pathlib
import re
import subprocess
import sys

import pytest

from tabular_to_parquet_spark import appcds

ROOT = pathlib.Path(__file__).resolve().parents[1]

_ENV_OFF = (
    "SPARK_CONF_DIR",
    "HADOOP_CONF_DIR",
    "YARN_CONF_DIR",
    "JAVA_TOOL_OPTIONS",
    "JDK_JAVA_OPTIONS",
    *appcds._BLOCKING_ENV,
)


@pytest.fixture
def install(tmp_path, monkeypatch):
    """A fake JDK 17 whose ``java`` records its arguments and exits with
    the code in ``exit_code``, a fake Spark home with templates-only
    conf, and an empty cache dir."""
    jdk = tmp_path / "jdk"
    (jdk / "bin").mkdir(parents=True)
    (jdk / "lib").mkdir()
    (jdk / "lib" / "modules").write_bytes(b"m" * 64)
    (jdk / "release").write_text('JAVA_VERSION="17.0.20"\n')
    java = jdk / "bin" / "java"
    java.write_text(
        "#!/bin/sh\n"
        f'pwd > "{tmp_path}/java.cwd"\n'
        f'printf "%s\\n" "$@" > "{tmp_path}/java.args"\n'
        f'exit $(cat "{tmp_path}/exit_code")\n'
    )
    java.chmod(0o755)
    (tmp_path / "exit_code").write_text("0")
    spark = tmp_path / "spark"
    (spark / "jars").mkdir(parents=True)
    (spark / "jars" / "a.jar").write_bytes(b"a" * 10)
    (spark / "conf").mkdir()
    (spark / "conf" / "spark-defaults.conf.template").write_text("# template\n")
    for var in _ENV_OFF:
        monkeypatch.delenv(var, raising=False)
    monkeypatch.setenv("JAVA_HOME", str(jdk))
    monkeypatch.setenv("SPARK_HOME", str(spark))
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path / "cache"))
    return tmp_path


def _dump(returncode: int) -> appcds._Dump:
    """A finished dumping launch whose JVM exited with ``returncode``
    after writing a 1000-byte ``.part``."""
    launch = appcds.plan({})
    assert launch is not None and launch.part is not None
    pathlib.Path(launch.part).write_bytes(b"x" * 1000)

    class Exited:
        def __init__(self, code):
            self.returncode = code

        def poll(self):
            return self.returncode

    module_args = ["--add-opens=java.base/java.lang=ALL-UNNAMED"]
    return appcds._Dump(launch, Exited(returncode), "/cp/a.jar:/cp/conf/", module_args)


def test_key_follows_the_jars_and_the_java_binary(install):
    java, spark = appcds.java_binary(), str(install / "spark")
    key = appcds.archive_key(java, spark)
    assert key == appcds.archive_key(java, spark)
    jar = install / "spark" / "jars" / "a.jar"
    jar.write_bytes(b"a" * 11)
    assert appcds.archive_key(java, spark) != key
    key = appcds.archive_key(java, spark)
    (install / "spark" / "jars" / "b.jar").write_bytes(b"b")
    assert appcds.archive_key(java, spark) != key
    key = appcds.archive_key(java, spark)
    with open(java, "a") as fh:
        fh.write("# rebuilt\n")
    assert appcds.archive_key(java, spark) != key
    key = appcds.archive_key(java, spark)
    (install / "jdk" / "lib" / "modules").write_bytes(b"n" * 65)
    assert appcds.archive_key(java, spark) != key


def test_part_is_adopted_after_exit_zero_and_a_clean_mapping(install):
    dump = _dump(0)
    appcds._adopt(dump)
    base = dump.launch.base
    assert appcds.archive_intact(base)
    assert not os.path.exists(dump.launch.part)
    args = (install / "java.args").read_text().split("\n")
    assert args[:2] == ["-Xshare:on", f"-XX:SharedArchiveFile={dump.launch.part}"]
    assert args[args.index("-cp") + 1] == dump.classpath
    assert dump.module_args[0] in args and args[-2] == "-version"
    # a crash report would land in the cache dir, not in the caller's cwd
    assert (install / "java.cwd").read_text().strip() == os.path.dirname(base)
    launch = appcds.plan({})
    assert launch.part is None and f"-XX:SharedArchiveFile={base}.jsa" in launch.options


@pytest.mark.parametrize(
    "jvm_exit, check_exit, marked",
    [
        (1, 0, True),  # the dumping JVM failed
        (0, 1, True),  # -Xshare:on refused the archive (classpath mismatch)
        (0, 134, True),  # -Xshare:on aborted on it (truncated)
        (-9, 0, False),  # killed from outside: delete, try again later
        (143, 0, False),  # SIGTERM, as the JVM's handler exits on it
    ],
)
def test_part_is_never_adopted_otherwise(install, jvm_exit, check_exit, marked):
    (install / "exit_code").write_text(str(check_exit))
    dump = _dump(jvm_exit)
    appcds._adopt(dump)
    base = dump.launch.base
    assert not os.path.exists(base + ".jsa")
    assert not os.path.exists(dump.launch.part)
    assert os.path.exists(base + ".failed") is marked
    # a failed key launches without any archive flag
    assert (appcds.plan({}) is None) is marked


def test_truncated_archive_is_never_passed_to_a_jvm(install):
    dump = _dump(0)
    appcds._adopt(dump)
    jsa = dump.launch.base + ".jsa"
    os.chmod(jsa, 0o600)
    os.truncate(jsa, 500)
    launch = appcds.plan({})
    # the launch dumps a new archive: no file of the cache is mapped
    assert launch.options.split() == [f"-XX:ArchiveClassesAtExit={launch.part}", appcds.LOG_OFF]


def test_templates_only_conf_dir_is_swapped_and_a_real_one_is_not(install, monkeypatch):
    conf = install / "spark" / "conf"
    launch = appcds.plan({})
    assert launch is not None
    assert launch.conf_dir == os.path.join(appcds.cache_dir(), "conf")
    assert os.listdir(launch.conf_dir) == []
    assert oct(os.stat(appcds.cache_dir()).st_mode & 0o777) == "0o700"
    (conf / "spark-defaults.conf").write_text("spark.foo 1\n")
    assert appcds.plan({}) is None
    # SPARK_CONF_DIR is the conf dir when set; a missing one reads nothing
    monkeypatch.setenv("SPARK_CONF_DIR", str(install / "missing"))
    assert appcds.plan({}) is not None


def test_launches_without_flags_where_the_archive_cannot_apply(install, monkeypatch):
    assert appcds.plan({}) is not None
    assert appcds.plan({"spark.driver.extraJavaOptions": "-Xshare:off -Dx=1"}) is None
    assert appcds.plan({"spark.driver.extraClassPath": "/etc/hadoop"}) is None
    hadoop = install / "hadoop"
    hadoop.mkdir()
    monkeypatch.setenv("HADOOP_CONF_DIR", str(hadoop))
    assert appcds.plan({}) is not None  # an empty dir adds no classes
    (hadoop / "core-site.xml").write_text("<configuration/>")
    assert appcds.plan({}) is None
    monkeypatch.delenv("HADOOP_CONF_DIR")
    (install / "not_a_dir").write_text("")
    monkeypatch.setenv("XDG_CACHE_HOME", str(install / "not_a_dir"))
    assert appcds.plan({}) is None  # the cache dir cannot be made
    monkeypatch.setenv("XDG_CACHE_HOME", str(install / "cache"))
    (install / "jdk" / "release").write_text('JAVA_VERSION="21.0.4"\n')
    assert appcds.plan({}) is None


class _FakeBuilder:
    """Records the confs and the ``SPARK_CONF_DIR`` of ``getOrCreate``."""

    def __init__(self, seen):
        self.seen = seen

    def config(self, key, value):
        self.seen[key] = value
        return self

    def getOrCreate(self):
        self.seen["SPARK_CONF_DIR at launch"] = os.environ.get("SPARK_CONF_DIR")
        return "session"


def test_launch_carries_the_flags_ahead_of_the_users(install, monkeypatch):
    from pyspark.sql import SparkSession

    from tabular_to_parquet_spark import session

    seen = {}
    monkeypatch.setattr(SparkSession, "builder", _FakeBuilder(seen))
    monkeypatch.setenv("SPARK_CONF_DIR", str(install / "spark" / "conf"))
    launch = appcds.plan({})
    confs = {"spark.driver.defaultJavaOptions": "-Dmine=1"}
    assert session._create(confs, launch) == "session"
    assert seen["spark.driver.defaultJavaOptions"] == f"{launch.options} -Dmine=1"
    assert seen["SPARK_CONF_DIR at launch"] == launch.conf_dir
    assert os.environ["SPARK_CONF_DIR"] == str(install / "spark" / "conf")
    seen.clear()
    assert session._create(confs, None) == "session"
    assert seen["spark.driver.defaultJavaOptions"] == "-Dmine=1"
    assert seen["SPARK_CONF_DIR at launch"] == str(install / "spark" / "conf")


class _Session:
    """What ``get_spark`` touches of a session it created."""

    _jvm = None

    class sparkContext:
        @staticmethod
        def setLogLevel(level):
            pass


@pytest.fixture
def launches(install, monkeypatch):
    """``get_spark`` as if no JVM were up, recording each launch it
    attempts; a launch with archive flags fails when ``fail`` is set."""
    from pyspark import SparkContext
    from pyspark.errors import PySparkRuntimeError

    from tabular_to_parquet_spark import session

    class Launches(list):
        fail = False

    seen = Launches()

    def create(confs, launch):
        seen.append(launch)
        if launch is not None and seen.fail:
            raise PySparkRuntimeError(errorClass="JAVA_GATEWAY_EXITED", messageParameters={})
        return _Session()

    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.delenv("PYSPARK_GATEWAY_PORT", raising=False)
    monkeypatch.setattr(session, "_create", create)
    return seen


def test_get_spark_plans_with_the_env_extra_conf(launches, monkeypatch):
    from tabular_to_parquet_spark import session

    session.get_spark("plan_probe")
    assert launches[-1] is not None
    monkeypatch.setenv("SPARK_GRAFT_EXTRA_CONF", "spark.driver.extraJavaOptions=-Xshare:off")
    session.get_spark("plan_probe")
    assert launches[-1] is None


def test_a_launch_that_fails_with_the_flags_is_retried_without(launches):
    from tabular_to_parquet_spark import session

    launches.fail = True
    assert isinstance(session.get_spark("plan_probe"), _Session)
    assert launches[0] is not None and launches[1] is None
    assert appcds.plan({}) is None  # the key is marked failed


# ---- end to end: real JVMs, each with its own empty cache ----------------

_PROBE = """
import sys
from tabular_to_parquet_spark.session import get_spark
# no console progress bar: whether it shows depends on the job's speed
spark = get_spark("appcds_probe", extra_conf={"spark.ui.showConsoleProgress": "false"})
args = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()
spark.range(100).selectExpr("sum(id)").collect()
with open(sys.argv[1], "w") as fh:
    fh.write("\\n".join(str(a) for a in args))
"""
_STAMP_RE = re.compile(r"^\d\d/\d\d/\d\d \d\d:\d\d:\d\d ")


def _probe(tmp_path, name: str, **env) -> tuple[list[str], set[str]]:
    """Run the probe in a fresh process that exits without stopping its
    session (a dump is adopted at exit); returns its JVM's input
    arguments and the lines it printed, with their timestamps cut."""
    argfile = tmp_path / f"{name}.args"
    proc = subprocess.run(
        [sys.executable, "-c", _PROBE, str(argfile)],
        env={**os.environ, "PYTHONPATH": str(ROOT), **env},
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = {_STAMP_RE.sub("", line) for line in (proc.stdout + proc.stderr).splitlines()}
    return argfile.read_text().split("\n"), lines


def test_first_launch_leaves_an_archive_the_second_maps(tmp_path):
    cache = tmp_path / "cache"
    first, first_out = _probe(tmp_path, "first", XDG_CACHE_HOME=str(cache))
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in first)
    cds = cache / "tabular_to_parquet_spark" / "cds"
    archives = [p.name for p in cds.iterdir() if p.name.endswith(".jsa")]
    assert len(archives) == 1 and not list(cds.glob("*.part"))
    second, second_out = _probe(tmp_path, "second", XDG_CACHE_HOME=str(cache))
    assert f"-XX:SharedArchiveFile={cds / archives[0]}" in second
    # a launch without the archive (a conf dir with a real file in it)
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "README").write_text("not a Spark conf file\n")
    plain, plain_out = _probe(tmp_path, "plain", XDG_CACHE_HOME=str(cache), SPARK_CONF_DIR=str(conf))
    assert not [a for a in plain if "Archive" in a or a.startswith("-Xlog")]
    assert first_out <= plain_out and second_out <= plain_out
    assert not list(tmp_path.glob("hs_err*")) and not list(ROOT.glob("hs_err*"))


def test_cli_leaves_no_jvm_running(tmp_path):
    src = tmp_path / "t.csv"
    src.write_text("a,b\n1,x\n2,y\n")
    cache = tmp_path / "cli_cache"
    proc = subprocess.run(
        [sys.executable, "-m", "tabular_to_parquet_spark.cli", str(src)],
        env={**os.environ, "PYTHONPATH": str(ROOT), "XDG_CACHE_HOME": str(cache)},
        capture_output=True,
        text=True,
        timeout=600,
        cwd=tmp_path,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # the JVM inherited the unique cache path: none that carries it runs on
    left = []
    for pid in filter(str.isdigit, os.listdir("/proc")):
        try:
            cmdline = pathlib.Path(f"/proc/{pid}/cmdline").read_bytes()
            environ = pathlib.Path(f"/proc/{pid}/environ").read_bytes()
        except OSError:
            continue
        if b"tabular_to_parquet_cli" in cmdline and str(cache).encode() in environ:
            left.append(pid)
    assert left == []
    # the stopped dump was adopted before the command returned
    assert list((cache / "tabular_to_parquet_spark" / "cds").glob("*.jsa"))
