"""The driver JVM's class-data archive (``data_integration_project_spark.cds``).

Each start runs in a fresh Python process with its own JVM and a
temporary ``XDG_CACHE_HOME``, so the archive that one start writes when
its JVM exits is what the next start finds.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

import pytest

from tests.conftest import SF_MEDIUM

REPO = Path(__file__).resolve().parent.parent

# one start: build the session, run a query, print cds.STATUS, then end
# the JVM and wait for it (it writes its dump while it exits)
_START = r"""
import json
from pyspark import SparkContext
from data_integration_project_spark import cds
from data_integration_project_spark.session import get_spark

spark = get_spark("cds_test")
spark.range(10).selectExpr("sum(id)").collect()
print(json.dumps(cds.STATUS))
gateway = SparkContext._gateway
spark.stop()
gateway.shutdown()
gateway.proc.stdin.close()
gateway.proc.wait(timeout=120)
"""


def _env(cache: Path, heap: str = "1g") -> dict:
    env = dict(os.environ, XDG_CACHE_HOME=str(cache), SPARK_GRAFT_DRIVER_MEM=heap)
    env["SPARK_GRAFT_CPUS"] = "2"
    env["PYTHONPATH"] = str(REPO)
    env.pop("SPARK_CONF_DIR", None)  # the suite's own session set it
    return env


def _start(cache: Path) -> dict:
    proc = subprocess.run(
        [sys.executable, "-c", _START],
        capture_output=True, text=True, timeout=300, cwd=REPO, env=_env(cache),
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.splitlines()
    assert len(lines) == 1, proc.stdout  # JVM archive output stays off stdout
    return json.loads(lines[0])


def _key_dir(cache: Path) -> Path:
    root = cache / "data_integration_project_spark" / "cds"
    (d,) = [p for p in root.iterdir() if p.name != "conf"]
    return d


@pytest.fixture(scope="module")
def archived(tmp_path_factory):
    """A cache after two starts: the first writes the archive, the
    second maps it."""
    cache = tmp_path_factory.mktemp("xdg")
    first = _start(cache)
    logs = [p.read_text() for p in _key_dir(cache).glob("dump-*.log")]
    second = _start(cache)
    return cache, first, logs, second


def test_first_start_writes_the_archive_and_the_next_maps_it(archived):
    cache, first, logs, second = archived
    d = _key_dir(cache)
    assert first["mapped"] is False and first["reason"] == "created now"
    assert len(logs) == 1 and "Written dynamic archive" in logs[0]
    assert second == {"mapped": True, "reason": None, "archive": str(d / "archive.jsa")}
    assert sorted(p.name for p in d.iterdir()) == ["archive.jsa", "archive.json"]


def test_truncated_archive_falls_back_and_is_replaced(archived):
    cache = archived[0]
    jsa = _key_dir(cache) / "archive.jsa"
    with open(jsa, "r+b") as f:
        f.truncate(jsa.stat().st_size // 2)
    fallback = _start(cache)
    assert fallback["mapped"] is False and fallback["reason"] == "archive truncated"
    assert _start(cache)["mapped"] is True


def test_dump_without_completion_line_is_not_mapped_and_is_replaced(archived):
    cache = archived[0]
    d = _key_dir(cache)
    for name in ("archive.jsa", "archive.json"):
        (d / name).unlink()
    dead = subprocess.Popen(["true"])
    dead.wait()
    token = f"{dead.pid}-0badc0de"
    (d / f"dump-{token}.jsa").write_bytes(b"\0" * 4096)
    (d / f"dump-{token}.log").write_text("[0.1s][info][cds] Dumping shared data to file:\n")
    fallback = _start(cache)
    assert fallback["mapped"] is False and fallback["reason"] == "dump incomplete"
    assert not list(d.glob(f"dump-{token}.*"))
    assert _start(cache)["mapped"] is True


def _bench(cache: Path) -> list[str]:
    env = _env(cache, heap="2g")
    env.update(SPARK_GRAFT_SF_DIR=SF_MEDIUM, SPARK_GRAFT_BENCH_REPS="1")
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        capture_output=True, text=True, timeout=600, cwd=REPO, env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    return proc.stdout.splitlines()


def test_bench_prints_one_line_when_it_writes_the_archive_and_on_fallback(tmp_path):
    # stdout is read to its end, which comes when the JVM has written
    # its dump and exited
    created = _bench(tmp_path)
    d = _key_dir(tmp_path)
    (dump,) = d.glob("dump-*.jsa")
    assert "Written dynamic archive" in dump.with_suffix(".log").read_text()
    with open(dump, "r+b") as f:
        f.truncate(1024)
    fallback = _bench(tmp_path)
    for lines in (created, fallback):
        assert len(lines) == 1, lines
        assert {"metric", "value", "unit", "queries", "sf"} <= set(json.loads(lines[0]))
    assert not dump.exists()
    (again,) = d.glob("dump-*.log")
    assert "Written dynamic archive" in again.read_text()
