"""Session factory and Python worker set-up: the heap default, the
package daemon's archive rule, and that workers started by ``get_spark``
import pyspark from its installed directory, from any cwd."""

from __future__ import annotations

import json
import os
import subprocess
import sys
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
