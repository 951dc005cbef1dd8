"""Session factory and Python worker set-up: the heap default, the
package daemon's archive rule, that workers started by ``get_spark``
import pyspark from its installed directory, from any cwd, and the
worker transport: Unix sockets in a private per-session directory, and
a frozen, pre-imported daemon heap."""

from __future__ import annotations

import json
import os
import shutil
import stat
import subprocess
import sys
import tempfile
import textwrap
import zipfile

import pyarrow as pa
import pytest

from cuda_acceleratedvectordatabaseengine_spark import session
from cuda_acceleratedvectordatabaseengine_spark.daemon import (
    prune_archives,
    redundant_archive,
)

VERSION = b'__version__ = "1.2.3"\n'


def _zip(path, members):
    with zipfile.ZipFile(path, "w") as zf:
        for name, data in members.items():
            zf.writestr(name, data)
    return str(path)


@pytest.fixture
def archives(tmp_path):
    """An installed directory package ``sspkg`` next to archives that
    copy it, contradict it, or add something it lacks."""
    site = tmp_path / "site"
    (site / "sspkg").mkdir(parents=True)
    (site / "sspkg" / "__init__.py").write_text("")
    (site / "sspkg" / "version.py").write_bytes(VERSION)
    same = {"sspkg/__init__.py": "", "sspkg/version.py": VERSION}
    corrupt = tmp_path / "corrupt.zip"
    corrupt.write_bytes(b"PK\x03\x04 not really a zip")
    return {
        "site": str(site),
        "jar": _zip(tmp_path / "core.jar", {
            "META-INF/MANIFEST.MF": "Manifest-Version: 1.0\n",
            "org/apache/Thing.class": b"\xca\xfe\xba\xbe",
        }),
        "same": _zip(tmp_path / "same.zip", same),
        "other_version": _zip(tmp_path / "other.zip", {
            "sspkg/__init__.py": "", "sspkg/version.py": b'__version__ = "9"\n',
        }),
        "top_module": _zip(tmp_path / "mod.zip", {**same, "mod.py": "x = 1\n"}),
        "unknown_pkg": _zip(tmp_path / "unknown.zip", {
            "elsewhere/__init__.py": "", "elsewhere/version.py": VERSION,
        }),
        "corrupt": str(corrupt),
    }


def test_redundancy_rule(archives):
    rest = [archives["site"]]
    assert redundant_archive(archives["jar"], rest)
    assert redundant_archive(archives["same"], rest)
    assert not redundant_archive(archives["other_version"], rest)
    assert not redundant_archive(archives["top_module"], rest)
    assert not redundant_archive(archives["unknown_pkg"], rest)
    assert not redundant_archive(archives["corrupt"], rest)
    assert not redundant_archive(archives["site"] + "/missing.zip", rest)


def test_prune_archives_drops_only_redundant_entries(archives):
    order = ["jar", "site", "same", "other_version", "top_module",
             "unknown_pkg", "corrupt"]
    path = [archives[k] for k in order]
    cache = {p: object() for p in path}
    dropped = prune_archives(path, cache)
    assert dropped == [archives["jar"], archives["same"]]
    assert path == [archives[k] for k in order if k not in ("jar", "same")]
    assert set(cache) == set(path)


def _meminfo(total_gib, avail_gib):
    return (
        f"MemTotal:       {total_gib << 20} kB\n"
        f"MemFree:        {avail_gib << 19} kB\n"
        f"MemAvailable:   {avail_gib << 20} kB\n"
        "Buffers:           76124 kB\n"
    )


def test_default_driver_mem_is_half_available_capped_at_8g():
    """The default heap is half of ``MemAvailable``, capped at 8g: a host
    with RAM to spare gets 8g, and a second session started beside one
    that holds half of a 15 GB host gets half of what is left, so the two
    never claim all of RAM between them."""
    heap = session.default_driver_mem
    assert heap(_meminfo(64, 60)) == "8192m"
    assert heap(_meminfo(16, 16)) == "8192m"
    assert heap(_meminfo(16, 15)) == "7680m"
    assert heap(_meminfo(4, 4)) == "2048m"
    first = heap(_meminfo(15, 15))
    left = 15 - session.heap_bytes(first) / (1 << 30)
    second = session.heap_bytes(heap(_meminfo(15, int(left))))
    assert session.heap_bytes(first) + second < 15 << 30
    # no MemAvailable line (a non-Linux host): physical RAM stands in
    assert session.mem_available_bytes("MemTotal: 1 kB\n") == session.host_ram_bytes()


def test_heap_that_cannot_fit_fails_at_start_up():
    """A pre-touched heap larger than the available memory is refused
    before a JVM starts, with a message that names the heap and the way
    out; one that fits passes."""
    assert session.heap_bytes("512m") == 512 << 20
    assert session.heap_bytes("8g") == 8 << 30
    assert session.heap_bytes("7680") == 7680 << 20
    with pytest.raises(ValueError):
        session.heap_bytes("lots")
    session.check_heap_fits("2g", _meminfo(16, 3))
    with pytest.raises(RuntimeError, match=r"8g .* 3072 MiB .*SPARK_GRAFT_DRIVER_MEM"):
        session.check_heap_fits("8g", _meminfo(16, 3))


def test_workers_import_pyspark_from_its_directory(spark):
    """Inside a task of the test session, pyspark comes from a directory
    and no Spark archive is left on ``sys.path``."""

    def probe(batches):
        import pyspark

        for _ in batches:
            yield pa.RecordBatch.from_pylist([{
                "pythonpath": os.environ.get("PYTHONPATH", ""),
                "sys_path": json.dumps(sys.path),
                "pyspark_file": pyspark.__file__,
            }])

    row = (
        spark.range(1)
        .mapInArrow(probe, "pythonpath string, sys_path string, pyspark_file string")
        .collect()[0]
    )
    worker_path = json.loads(row["sys_path"])
    spark_archives = [
        p for p in row["pythonpath"].split(os.pathsep) if os.path.isfile(p)
    ]
    assert spark_archives, "Spark put no archive on the worker PYTHONPATH"
    rest = [p for p in worker_path if not os.path.isfile(p)]
    kept = [a for a in spark_archives if not redundant_archive(a, rest)]
    if kept:
        pytest.skip(f"installed pyspark/py4j do not match Spark's archives: {kept}")
    assert not set(spark_archives) & set(worker_path)
    assert os.path.isfile(row["pyspark_file"])
    assert not any(row["pyspark_file"].startswith(a) for a in spark_archives)


ISOLATED = """
import sys
sys.path.insert(0, {root!r})
import pyarrow as pa
import pyarrow.compute as pc
from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

spark = get_spark(app_name="isolated", cpus=2)
rows = spark.createDataFrame([(1, "a"), (2, "b")], "x long, y string").collect()
assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")], rows

def double(batches):
    for b in batches:
        yield pa.RecordBatch.from_arrays([pc.multiply(b.column(0), 2)], ["id"])

got = sorted(r.id for r in spark.range(6).mapInArrow(double, "id long").collect())
assert got == [0, 2, 4, 6, 8, 10], got
spark.stop()
print("isolated-ok")
"""


def test_get_spark_workers_start_outside_the_repo(tmp_path):
    """A driver whose cwd holds no package and whose PYTHONPATH is unset
    (the package only on its in-process ``sys.path``) still starts Python
    workers: ``get_spark`` puts the package root on their PYTHONPATH."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    # a second driver next to the test session: keep its heap small
    env.update(SPARK_GRAFT_DRIVER_MEM="512m", SPARK_GRAFT_PRETOUCH="0")
    proc = subprocess.run(
        [sys.executable, "-c", textwrap.dedent(ISOLATED.format(root=root))],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "isolated-ok" in proc.stdout


def test_socket_dir_is_private_and_short_enough_for_spark(monkeypatch):
    """The socket directory is 0700 and at most 60 characters long, which
    Spark requires of ``spark.python.unix.domain.socket.dir``: a temp
    root of 44 characters, where the sockets alone would fit AF_UNIX's
    limit, is passed over for ``/tmp``."""
    base = tempfile.mkdtemp(dir="/tmp")
    mid = os.path.join(base, "m" * (43 - len(base)))
    os.mkdir(mid)
    try:
        for root in ("/tmp", mid):
            monkeypatch.setattr(tempfile, "tempdir", root)
            made = session.worker_socket_dir()
            try:
                assert stat.S_IMODE(os.stat(made).st_mode) == 0o700
                assert len(made.encode()) <= 60
                assert os.path.dirname(made) == "/tmp"
            finally:
                os.rmdir(made)
    finally:
        shutil.rmtree(base)


def _driver(script: str, cwd, **env_updates) -> subprocess.Popen:
    """Start a second driver process beside the test session, with a small
    heap grown on demand and the package only on its ``sys.path``."""
    root = os.path.dirname(os.path.dirname(os.path.abspath(session.__file__)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_DRIVER_MEM="512m", SPARK_GRAFT_PRETOUCH="0", **env_updates)
    code = f"import sys\nsys.path.insert(0, {root!r})\n" + textwrap.dedent(script)
    return subprocess.Popen(
        [sys.executable, "-c", code], cwd=cwd, env=env,
        stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
    )


def _report(proc: subprocess.Popen) -> dict:
    """The driver's exit status checked, its last stdout line as JSON."""
    out, err = proc.communicate(timeout=600)
    assert proc.returncode == 0, err[-4000:]
    return json.loads(out.strip().splitlines()[-1])


TRANSPORT = """
import gc, json, os, stat, time
import pyarrow as pa
import pyarrow.compute as pc
from cuda_acceleratedvectordatabaseengine_spark.session import get_spark

def alive(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False

def double(batches):
    for b in batches:
        yield pa.RecordBatch.from_arrays([pc.multiply(b.column(0), 2)], ["id"])

def probe(batches):
    for _ in batches:
        yield pa.RecordBatch.from_pylist([{
            "pid": os.getpid(), "daemon": os.getppid(),
            "unix": os.environ.get("PYTHON_UNIX_DOMAIN_ENABLED", "").lower(),
            "frozen": gc.get_freeze_count(),
        }])

def start_and_run(extra_conf=None):
    spark = get_spark(app_name="transport", cpus=2, extra_conf=extra_conf)
    sock_dir = spark.sparkContext.getConf().get("spark.python.unix.domain.socket.dir")
    rows = spark.createDataFrame([(1, "a"), (2, "b")], "x long, y string").collect()
    assert [tuple(r) for r in rows] == [(1, "a"), (2, "b")], rows
    got = sorted(r.id for r in spark.range(6).mapInArrow(double, "id long").collect())
    assert got == [0, 2, 4, 6, 8, 10], got
    tasks = spark.range(0, 2, 1, 2).mapInArrow(
        probe, "pid long, daemon long, unix string, frozen long").collect()
    return spark, {
        "dir": sock_dir,
        "mode": stat.S_IMODE(os.stat(sock_dir).st_mode),
        "sockets": [n for n in os.listdir(sock_dir) if n.endswith(".sock")],
        "unix": sorted({r.unix for r in tasks}),
        "frozen": min(r.frozen for r in tasks),
        "pids": sorted({r.pid for r in tasks} | {r.daemon for r in tasks}),
    }

def stop_and_wait(spark, pids):
    # stop the session; the pids of its daemon and workers still alive
    # once they have had time to exit
    spark.stop()
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline and any(alive(p) for p in pids):
        time.sleep(0.1)
    return [p for p in pids if alive(p)]
"""

LONG_PATHS = TRANSPORT + """
long_tmp = os.environ["TMPDIR"]
spark, first = start_and_run(
    {"spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={long_tmp}"})
first["alive_after_stop"] = stop_and_wait(spark, first["pids"])
first["dir_after_stop"] = os.path.isdir(first["dir"])
spark, second = start_and_run()
print(json.dumps({"first": first, "second": second, "tmp": long_tmp}))
"""


def test_worker_sockets_fit_whatever_the_tmp_paths(tmp_path):
    """A driver whose ``TMPDIR`` and ``java.io.tmpdir`` are longer than an
    AF_UNIX path may be still runs a Python-RDD job and a ``mapInArrow``
    job, its tasks over a Unix socket on a frozen daemon heap, with its
    sockets in a private directory. ``spark.stop()`` leaves no daemon or
    worker running. A second session in the same process runs in the same
    directory (the JVM keeps its first session's directory for results),
    which is removed when the process exits."""
    long_tmp = tmp_path / ("t" * 120)
    long_tmp.mkdir()
    got = _report(_driver(LONG_PATHS, tmp_path, TMPDIR=str(long_tmp)))
    first, second = got["first"], got["second"]
    assert len(got["tmp"]) > 108
    for run in (first, second):
        assert run["mode"] == 0o700
        assert not run["dir"].startswith(got["tmp"])
        assert len(run["dir"].encode()) <= 60
        assert run["sockets"], "no socket in the session's directory"
        assert all(len(os.path.join(run["dir"], n).encode()) < 108 for n in run["sockets"])
        assert run["unix"] == ["true"]
        assert run["frozen"] > 0
    assert first["alive_after_stop"] == []
    assert first["dir_after_stop"]
    assert second["dir"] == first["dir"]
    assert not os.path.exists(first["dir"])


CALLER_DIR = TRANSPORT + """
given = os.environ["GIVEN_SOCKET_DIR"]
spark, run = start_and_run({"spark.python.unix.domain.socket.dir": given})
run["alive_after_stop"] = stop_and_wait(spark, run["pids"])
print(json.dumps(run))
"""


def test_caller_socket_dir_is_used_as_given(tmp_path):
    """A ``spark.python.unix.domain.socket.dir`` in ``extra_conf`` holds the
    session's sockets and is left in place when the session stops."""
    given = tempfile.mkdtemp(prefix="given-")
    try:
        run = _report(_driver(CALLER_DIR, tmp_path, GIVEN_SOCKET_DIR=given))
        assert run["dir"] == given
        assert run["sockets"]
        assert run["alive_after_stop"] == []
        assert os.path.isdir(given)
    finally:
        shutil.rmtree(given, ignore_errors=True)


TWO_SESSIONS = TRANSPORT + """
spark, run = start_and_run()
print(json.dumps(run))
"""


def test_two_sessions_start_together(tmp_path):
    """Two drivers started at the same moment each run Python tasks and
    exit 0, over distinct socket directories that are both removed."""
    procs = [_driver(TWO_SESSIONS, tmp_path) for _ in range(2)]
    runs = [_report(p) for p in procs]
    assert runs[0]["dir"] != runs[1]["dir"]
    assert not any(os.path.exists(r["dir"]) for r in runs)

